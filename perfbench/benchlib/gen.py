"""Seeded input generators, one per workload.

Every generator is a pure function of its seed: the same seed writes the
same bytes and returns the same expected outputs. The program under test
only ever sees the files written here; the expected outputs stay with the
benchmark for the checker.
"""
import datetime as dt
import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- mr_text

# Letters every regex engine files under \p{L}: ASCII, Latin-1 accents,
# Greek and Cyrillic. Separators hold no letter at all, so splitting the
# text on runs of non-letters gives back exactly the generated words.
ASCII = "abcdefghijklmnopqrstuvwxyz"
EXTRA = "éèêàâçñüöäßøåœ" "αβγδεζηθικλμνξοπρστυφχψω" "абвгдежзиклмнопрстуфхцчшщыэюя"
SEPARATORS = [" "] * 12 + [", ", ". ", "\n", " — ", " 42 ", "; ", "'", "-",
                           " (", ") ", "\n\n", " 1999 ", ": ", "!\n"]

MR_KINDS = ["wc_facade", "indexer_facade", "wc_apps", "indexer_apps"]

# File sizes: log-normal around 250 KB, clipped to 64 KB - 4 MB.
MEDIAN_FILE, SIGMA, MIN_FILE, MAX_FILE = 250_000, 1.1, 64_000, 4_000_000


def vocabulary(rng, size):
    """`size` distinct words, 2-12 letters, one in five with non-ASCII
    letters and one in ten capitalised."""
    ascii_letters = np.array(list(ASCII))
    extra_letters = np.array(list(EXTRA))
    words, seen = [], set()
    while len(words) < size:
        n = int(min(12, 2 + rng.geometric(0.25)))
        pool = extra_letters if rng.random() < 0.2 else ascii_letters
        w = "".join(rng.choice(pool, n))
        if rng.random() < 0.1:
            w = w[0].upper() + w[1:]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class TextCorpus:
    """Expected outputs of the `mr_text` corpus: per-file word counts."""

    def __init__(self, vocab, names, counts):
        self.vocab = vocab          # word id -> word
        self.names = names          # file names, in corpus order
        self.counts = counts        # file name -> (word ids, counts)

    def word_counts(self, files):
        ids = np.concatenate([self.counts[f][0] for f in files])
        cnt = np.concatenate([self.counts[f][1] for f in files])
        total = np.bincount(ids, weights=cnt, minlength=len(self.vocab))
        nz = np.nonzero(total)[0]
        return {self.vocab[i]: int(total[i]) for i in nz}

    def postings(self, files):
        """word -> file names holding it, sorted."""
        out = {}
        for f in sorted(files):
            for i in self.counts[f][0]:
                out.setdefault(self.vocab[i], []).append(f)
        return out

    def tokens(self, files):
        return int(sum(self.counts[f][1].sum() for f in files))


def mr_text(work, seed, n_jobs, n_tiny=0, n_warm=0, n_files=48, n_blocks=24,
            vocab_size=40000):
    """Corpus of whole text files plus `n_jobs` seeded samples of it.

    File sizes follow a log-normal (64 KB to ~3 MB here), taken at evenly
    spaced quantiles so that every seed's corpus has the same size
    profile; the seed decides which file gets which size and all of the
    text. Words are Zipf-distributed over the vocabulary.

    The files are dealt into `n_blocks` samples of nearly equal bytes
    (largest file first, each to the lightest sample); the block holding
    the largest file is the straggler. Jobs take the blocks in a seeded
    order, every block once per cycle, so any stretch of jobs reads about
    the same bytes whatever the seed. Job `j` gets a directory
    `jobs/jNNNN` of hard links to its block's files and a round-robin
    kind. Of the first `n_warm` (warm-up) jobs, the first `n_tiny` read
    only the smallest file and the rest a random block, so that the timed
    jobs start on a fresh cycle.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, vocab_size)
    vocab_arr = np.array(vocab, dtype=object)
    word_bytes = np.array([len(w.encode()) for w in vocab])
    probs = zipf_probs(vocab_size, 1.05)
    seps = np.array(SEPARATORS, dtype=object)
    sep_bytes = np.array([len(s.encode()) for s in SEPARATORS])
    mean_token = float(probs @ word_bytes + sep_bytes.mean())

    corpus = os.path.join(work, "corpus")
    os.makedirs(corpus)
    z = statistics.NormalDist().inv_cdf
    sizes = np.clip([MEDIAN_FILE * np.exp(SIGMA * z((k + 0.5) / n_files))
                     for k in range(n_files)], MIN_FILE, MAX_FILE)
    sizes = sizes[rng.permutation(n_files)]
    names, counts, on_disk = [], {}, {}
    for k, target in enumerate(sizes):
        n = max(1, int(target / mean_token))
        ids = rng.choice(vocab_size, n, p=probs)
        sep = seps[rng.integers(0, len(seps), n)]
        parts = np.empty(2 * n, dtype=object)
        parts[0::2] = vocab_arr[ids]
        parts[1::2] = sep
        name = f"f{k:04d}.txt"
        data = "".join(parts).encode()
        with open(os.path.join(corpus, name), "wb") as f:
            f.write(data)
        u, c = np.unique(ids, return_counts=True)
        names.append(name)
        counts[name] = (u, c)
        on_disk[name] = len(data)

    blocks = [[] for _ in range(n_blocks)]
    for k in np.argsort(-sizes, kind="stable"):
        min(blocks, key=lambda b: sum(sizes[i] for i in b)).append(int(k))
    smallest = [int(np.argmin(sizes))]
    order = []
    jobs = []
    for j in range(n_jobs):
        if j < n_tiny:
            block = smallest
        elif j < n_warm:
            block = blocks[int(rng.integers(n_blocks))]
        else:
            if not order:
                order = list(rng.permutation(n_blocks))
            block = blocks[order.pop()]
        picked = sorted(names[k] for k in block)
        d = os.path.join(work, "jobs", f"j{j:04d}")
        os.makedirs(d)
        for f in picked:
            os.link(os.path.join(corpus, f), os.path.join(d, f))
        jobs.append({"id": j, "kind": MR_KINDS[j % len(MR_KINDS)], "dir": d,
                     "files": picked, "bytes": sum(on_disk[f] for f in picked),
                     "out": os.path.join(work, "out", f"j{j:04d}")})
    return jobs, TextCorpus(vocab, names, counts)


# ------------------------------------------------------------- star_stream

# Tenants of a run, their scale factor, and the scale of the warm-up tenant.
N_TENANTS, TENANT_SF, WARM_SF = 4, 0.01, 0.002
# Rows per op-log file and distinct keys of the op log.
OP_ROWS, OP_KEYS = 4000, 20000

REPORT_KINDS = ["q1", "q3", "q5", "q9", "q18", "rollup", "topk", "kv_replay"]
STAR_KINDS = REPORT_KINDS + ["ingest"]

# Tables each kind reads; a job's input bytes are their sizes on disk.
STAR_TABLES = {
    "q1": ["lineitem"],
    "q3": ["customer", "orders", "lineitem"],
    "q5": ["region", "nation", "customer", "orders", "lineitem", "supplier"],
    "q9": ["part", "supplier", "nation", "lineitem", "orders"],
    "q18": ["lineitem", "orders", "customer"],
    "rollup": ["orders"],
    "topk": ["orders"],
    "kv_replay": ["events"],
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUNS = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"]
EVENT_TYPES = ["signup", "click", "purchase", "view", "error"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def star_tenant(path, seed, sf):
    """One tenant in the `Tables` layout (`<dir>/<table>.parquet`), with
    the value domains and date ranges of the sf0.1 fixture; events are
    Zipf-skewed over users."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(path)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    _write(f"{path}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(f"{path}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(f"{path}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(f"{path}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(f"{path}/part.parquet", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(
            np.array(ADJECTIVES)[rng.integers(0, 8, n_part)], " "),
            np.array(NOUNS)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    _write(f"{path}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(f"{path}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line)})
    n_users = max(100, int(15_000 * sf))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev)).astype("timedelta64[us]")
    _write(f"{path}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.choice(n_users, n_ev, p=zipf_probs(n_users, 1.1)).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")})


def star_stream(work, seed, n_jobs, n_tiny=0):
    """`N_TENANTS` equally sized tenants, an op log, and `n_jobs`
    round-robin jobs: each report runs on a seeded tenant, each `ingest`
    drops the next op-log file. The first `n_tiny` jobs (one round) run
    their reports on an extra, small tenant of their own."""
    rng = np.random.default_rng([seed, 3])
    tenants = []
    for t in range(N_TENANTS):
        p = os.path.join(work, "tenants", f"t{t}")
        star_tenant(p, seed * 1000 + t, TENANT_SF)
        tenants.append(p)
    warm = os.path.join(work, "tenants", "warm")
    star_tenant(warm, seed * 1000 + 999, WARM_SF)
    size = {t: {f[:-8]: os.path.getsize(os.path.join(t, f)) for f in os.listdir(t)}
            for t in tenants + [warm]}
    n_ingest = sum(1 for j in range(n_jobs) if STAR_KINDS[j % len(STAR_KINDS)] == "ingest")
    files, kvlog = op_logs(work, seed, n_ingest)
    jobs = []
    for j in range(n_jobs):
        kind = STAR_KINDS[j % len(STAR_KINDS)]
        if kind == "ingest":
            k = len([x for x in jobs if x["kind"] == "ingest"])
            jobs.append({"id": j, "kind": kind, "file": files[k], "seq": k,
                         "bytes": os.path.getsize(files[k])})
            continue
        t = warm if j < n_tiny else tenants[int(rng.integers(0, N_TENANTS))]
        jobs.append({"id": j, "kind": kind, "tenant": t,
                     "bytes": sum(size[t][x] for x in STAR_TABLES[kind]),
                     "out": os.path.join(work, "out", f"j{j:04d}")})
    return jobs, tenants + [warm], kvlog


# ------------------------------------------------------------------ ingest

# events.event_type -> KV op, as graft.kv.KvReplay.opsFromEvents maps it;
# the draw weights give ~50% get, ~10% put, ~40% append.
KV_TYPES = ["view", "error", "signup", "click", "purchase"]
KV_OPS = {"view": "get", "error": "get", "signup": "put",
          "click": "append", "purchase": "append"}
KV_WEIGHTS = [0.25, 0.25, 0.10, 0.20, 0.20]


class KvLog:
    """Expected outputs of the ingest op log: the sequential fold."""

    def __init__(self, files):
        self.files = files  # per file: list of (seq, key, op, value)

    def fold(self, n_files):
        """Final state after the first `n_files` files: key -> value for
        keys with at least one put or append, and the set of keys seen."""
        state, seen = {}, set()
        for f in self.files[:n_files]:
            for seq, key, op, value in f:
                seen.add(key)
                if op == "put":
                    state[key] = value
                elif op == "append":
                    state[key] = state.get(key, "") + value
        return state, seen

    def batch_updates(self, n_files):
        """Per file: key -> (value, last seq) after folding that file,
        for the keys the file touches — the rows its micro-batch emits."""
        state, out = {}, []
        for f in self.files[:n_files]:
            upd = {}
            for seq, key, op, value in f:
                if op == "put":
                    state[key] = value
                elif op == "append":
                    state[key] = state.get(key, "") + value
                upd[key] = seq
            out.append({k: (state.get(k, ""), s) for k, s in upd.items()})
        return out


def op_logs(work, seed, n_files, rows=OP_ROWS, n_keys=OP_KEYS):
    """`n_files` events-shaped op-log files with globally increasing
    event ids and Zipf keys, staged for ingest jobs to drop in one by one."""
    rng = np.random.default_rng([seed, 4])
    staging = os.path.join(work, "staging")
    os.makedirs(staging)
    os.makedirs(os.path.join(work, "src"))
    probs = zipf_probs(n_keys, 1.0)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    paths, files = [], []
    for j in range(n_files):
        ids = np.arange(j * rows, (j + 1) * rows, dtype=np.int64)
        users = rng.choice(n_keys, rows, p=probs).astype(np.int64)
        types = np.array(KV_TYPES)[rng.choice(5, rows, p=KV_WEIGHTS)]
        path = os.path.join(staging, f"ops-{j:05d}.parquet")
        _write(path, {
            "event_id": ids,
            "ts": t0 + (ids * 1_000_000).astype("timedelta64[us]"),
            "user_id": users,
            "event_type": types,
            "value": _money(rng, 0.0, 560.0, rows),
            "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, rows).astype(str)), "}")})
        files.append([(int(s), str(u), KV_OPS[t], str(s))
                      for s, u, t in zip(ids.tolist(), users.tolist(), types.tolist())])
        paths.append(path)
    return paths, KvLog(files)
