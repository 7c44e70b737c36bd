"""Output checks. Each returns a list of problems; empty means correct.

They read the program's outputs after the JVM has exited, so no check
ever runs inside a timed window.
"""
import glob
import os
import sys

import duckdb
import pyarrow.parquet as pq

# Results are compared the way the program's own oracle gate compares
# them: parquet read back through DuckDB into pandas, then canonicalised.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                os.pardir, os.pardir, "tools"))
from check_oracle import TABLES, canon  # noqa: E402


# ---------------------------------------------------------------- mr_text

def read_text_output(out_dir):
    """`key value` lines of a sortedTextSink directory -> {key: value}.
    Also checks that each part file is sorted by key."""
    problems, kv = [], {}
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if not parts:
        return {}, [f"no part files in {out_dir}"]
    for p in parts:
        prev = None
        with open(p, encoding="utf-8") as f:
            for line in f:
                key, _, value = line.rstrip("\n").partition(" ")
                if key in kv:
                    problems.append(f"duplicate key {key!r}")
                kv[key] = value
                if prev is not None and key < prev:
                    problems.append(f"{os.path.basename(p)} not sorted at {key!r}")
                prev = key
    return kv, problems[:5]


def check_mr_job(job, corpus):
    got, problems = read_text_output(job["out"])
    kind = job["kind"]
    if kind.startswith("wc"):
        want = {w: str(c) for w, c in corpus.word_counts(job["files"]).items()}
    else:
        want = {}
        for w, docs in corpus.postings(job["files"]).items():
            want[w] = docs
    if set(got) != set(want):
        missing, extra = set(want) - set(got), set(got) - set(want)
        problems.append(f"{len(missing)} words missing (e.g. {sorted(missing)[:3]}), "
                        f"{len(extra)} unexpected (e.g. {sorted(extra)[:3]})")
        return problems
    bad = 0
    for w, v in want.items():
        g = got[w]
        if kind.startswith("wc"):
            ok = g == v
        else:
            n, _, docs = g.partition(" ")
            names = [d.rsplit("/", 1)[-1] for d in docs.split(",")]
            ok = n == str(len(v)) and names == v
        if not ok:
            bad += 1
            if bad <= 3:
                problems.append(f"{w!r}: got {g[:80]!r}, want {str(v)[:80]!r}")
    if bad:
        problems.append(f"{bad} wrong values")
    return problems


# ---------------------------------------------------------------- reports

def read_parquet(con, out_dir):
    """A parquet result directory, as the oracle gate reads it."""
    return con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df()


class Oracle:
    """DuckDB twins of the star_stream reports, one result per
    (tenant, oracle key), computed once."""

    def __init__(self, oracle_sql, tmp_dir):
        self.sql = oracle_sql  # tenant -> key -> SQL
        self.tmp = tmp_dir
        self.memo = {}

    def result(self, tenant, key):
        if (tenant, key) not in self.memo:
            con = duckdb.connect()
            con.execute(f"SET temp_directory='{self.tmp}'")
            for t in TABLES:
                p = os.path.join(tenant, t + ".parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            df = con.sql(self.sql[tenant][key]).df()
            self.memo[(tenant, key)] = (sorted(df.columns), canon(df))
            con.close()
        return self.memo[(tenant, key)]


def check_star_job(job, key, oracle):
    con = duckdb.connect()
    try:
        df = read_parquet(con, job["out"])
        cols, got = sorted(df.columns), canon(df)
    except Exception as e:  # unreadable or unsortable output
        return [f"result unreadable: {type(e).__name__}: {e}"]
    finally:
        con.close()
    want_cols, want = oracle.result(job["tenant"], key)
    if cols != want_cols:
        return [f"columns {cols} vs oracle {want_cols}"]
    if got == want:
        return []
    sg, sw = set(got), set(want)
    return [f"{len(got)} rows vs oracle {len(want)}",
            *[f"spark-only: {x[:160]!r}" for x in list(sg - sw)[:2]],
            *[f"oracle-only: {x[:160]!r}" for x in list(sw - sg)[:2]]]


# ------------------------------------------------------------------ ingest

def read_batch(sink_dir, batch_id):
    files = glob.glob(os.path.join(sink_dir, f"batch={batch_id}", "*.parquet"))
    if not files:
        return None
    t = pq.ParquetDataset(files).read().to_pydict()
    return {k: (v, s) for k, v, s in zip(t["key"], t["value"], t["last_seq"])}


def check_kv_job(rec, expected, sink_dir):
    """The job's micro-batch must emit, for each key its file touched,
    the folded value and the key's last seq in that file."""
    batches = rec.get("batches", [])
    if len(batches) != 1:
        return [f"expected one micro-batch, got {batches}"]
    got = read_batch(sink_dir, batches[0])
    if got is None:
        return [f"batch={batches[0]} has no output"]
    if got == expected:
        return []
    bad = [k for k in expected if got.get(k) != expected[k]]
    extra = set(got) - set(expected)
    return [f"{len(bad)} keys wrong, {len(extra)} unexpected",
            *[f"key {k}: got {str(got.get(k))[:60]}, want {str(expected[k])[:60]}"
              for k in bad[:2]]]


def read_kv_pairs(out_dir):
    con = duckdb.connect()
    try:
        return dict(con.sql(f"SELECT key, value FROM read_parquet('{out_dir}/*.parquet')")
                    .fetchall())
    finally:
        con.close()


def check_kv_final(final_path, replay_path, state, seen):
    """max_by(last_seq) over the sink and KvReplay.replay of the whole
    log must both equal the sequential fold."""
    problems = []
    final = read_kv_pairs(final_path)
    replay = read_kv_pairs(replay_path)
    want_final = {k: state.get(k, "") for k in seen}
    if final != want_final:
        bad = [k for k in want_final if final.get(k) != want_final[k]]
        problems.append(f"stream final state: {len(bad)} keys differ from the fold, "
                        f"{len(set(final) - set(want_final))} unexpected")
    if replay != state:
        bad = [k for k in state if replay.get(k) != state[k]]
        problems.append(f"KvReplay.replay: {len(bad)} keys differ from the fold, "
                        f"{len(set(replay) - set(state))} unexpected")
    return problems
