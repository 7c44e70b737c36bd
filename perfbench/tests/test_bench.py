"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests -v

The generator, statistics, checker and metric-name tests run in seconds.
EndToEnd runs the real harness once per workload (about half a minute
each, after the first build) with a planted wrong output.
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
# Scratch files stay inside the checkout.
tempfile.tempdir = os.path.join(ROOT, ".bench_build", "tests-tmp")
os.makedirs(tempfile.tempdir, exist_ok=True)

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from benchlib import check, gen, spec, stats  # noqa: E402


def tree(path):
    """relative path -> bytes, for every file under `path`."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def write_text_output(out_dir, kv):
    os.makedirs(out_dir)
    with open(os.path.join(out_dir, "part-00000.txt"), "w", encoding="utf-8") as f:
        for k in sorted(kv):
            f.write(f"{k} {kv[k]}\n")


class GeneratorDeterminism(unittest.TestCase):
    def test_mr_text_same_seed_same_corpus(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            ja, ca = gen.mr_text(a, 7, 6, n_files=6, n_blocks=3, vocab_size=500)
            jb, cb = gen.mr_text(b, 7, 6, n_files=6, n_blocks=3, vocab_size=500)
            _, cc = gen.mr_text(c, 8, 6, n_files=6, n_blocks=3, vocab_size=500)
            self.assertEqual(tree(os.path.join(a, "corpus")), tree(os.path.join(b, "corpus")))
            self.assertEqual([j["files"] for j in ja], [j["files"] for j in jb])
            self.assertEqual(ca.word_counts(ca.names), cb.word_counts(cb.names))
            self.assertNotEqual(tree(os.path.join(a, "corpus")), tree(os.path.join(c, "corpus")))

    def test_mr_text_expected_counts_match_the_text(self):
        with tempfile.TemporaryDirectory() as d:
            _, corpus = gen.mr_text(d, 3, 1, n_files=4, n_blocks=2, vocab_size=300)
            for name in corpus.names:
                with open(os.path.join(d, "corpus", name), encoding="utf-8") as f:
                    words = [w for w in re.split(r"[^\w]+|[\d_]+", f.read()) if w]
                want = corpus.word_counts([name])
                got = {}
                for w in words:
                    got[w] = got.get(w, 0) + 1
                self.assertEqual(got, want)

    def test_star_tenant_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as d:
            gen.star_tenant(os.path.join(d, "a"), 5, 0.001)
            gen.star_tenant(os.path.join(d, "b"), 5, 0.001)
            gen.star_tenant(os.path.join(d, "c"), 6, 0.001)
            self.assertEqual(sorted(os.listdir(os.path.join(d, "a"))),
                             sorted(os.listdir(os.path.join(d, "b"))))
            for t in os.listdir(os.path.join(d, "a")):
                ta = pq.read_table(os.path.join(d, "a", t))
                self.assertTrue(ta.equals(pq.read_table(os.path.join(d, "b", t))), t)
            self.assertFalse(pq.read_table(os.path.join(d, "a", "lineitem.parquet")).equals(
                pq.read_table(os.path.join(d, "c", "lineitem.parquet"))))

    def test_op_log_same_seed_same_log(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            _, la = gen.op_logs(a, 9, 3, rows=200, n_keys=50)
            _, lb = gen.op_logs(b, 9, 3, rows=200, n_keys=50)
            self.assertEqual(la.files, lb.files)
            self.assertEqual(tree(os.path.join(a, "staging")), tree(os.path.join(b, "staging")))

    def test_kv_batches_agree_with_the_fold(self):
        with tempfile.TemporaryDirectory() as d:
            _, log = gen.op_logs(d, 2, 4, rows=300, n_keys=40)
            state, seen = log.fold(4)
            last = {}
            for batch in log.batch_updates(4):
                for k, (v, _) in batch.items():
                    last[k] = v
            self.assertEqual({k: v for k, v in last.items() if k in state}, state)
            self.assertEqual(set(last), seen)


class Statistics(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_tail_leaves_the_required_samples_above(self):
        _, pct, beyond = stats.tail(list(range(1, 101)), beyond=10)
        self.assertEqual((pct, beyond), (90, 10))
        _, pct, beyond = stats.tail(list(range(1, 41)), beyond=10)
        self.assertEqual((pct, beyond), (75, 10))
        _, pct, beyond = stats.tail(list(range(1, 21)))
        self.assertEqual((pct, beyond), (75, stats.TAIL_BEYOND))

    def test_tail_with_too_few_samples_is_the_maximum(self):
        self.assertEqual(stats.tail([5, 1, 3]), (5, 100, 0))

    def test_harrell_davis_matches_known_values(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.quantile(xs, 0.5), 50.5, places=6)
        self.assertAlmostEqual(stats.betainc(2, 3, 0.4), 0.5248, places=10)
        self.assertAlmostEqual(stats.quantile([7.0], 0.9), 7.0)

    def test_median_of_two_clusters_sits_between_them(self):
        # The sample median of two equal clusters is an edge of one of
        # them; the estimate used for job_s_p50 lands in between.
        xs = [0.70, 0.72, 0.69, 0.71] * 3 + [1.30, 1.28, 1.31, 1.27] * 3
        self.assertTrue(0.8 < stats.p50(xs) < 1.2)

    def test_spread_matches_statistics_quantiles(self):
        xs = [10, 11, 9, 10.5, 12, 9.5, 10, 10.2, 11.1, 9.9]
        q1, _, q3 = __import__("statistics").quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / __import__("statistics").median(xs))


class Checks(unittest.TestCase):
    def test_mr_text_correct_output_passes_and_planted_fault_fails(self):
        with tempfile.TemporaryDirectory() as d:
            jobs, corpus = gen.mr_text(d, 4, 2, n_files=5, n_blocks=2, vocab_size=400)
            wc, idx = jobs[0], dict(jobs[1], kind="indexer_apps")
            write_text_output(wc["out"], corpus.word_counts(wc["files"]))
            posting = {w: f"{len(fs)} " + ",".join(f"{idx['dir']}/{f}" for f in fs)
                       for w, fs in corpus.postings(idx["files"]).items()}
            write_text_output(idx["out"], posting)
            self.assertEqual(check.check_mr_job(wc, corpus), [])
            self.assertEqual(check.check_mr_job(idx, corpus), [])
            word = sorted(posting)[0]
            posting[word] = "99 " + posting[word].split(" ", 1)[1]
            os.remove(os.path.join(idx["out"], "part-00000.txt"))
            os.rmdir(idx["out"])
            write_text_output(idx["out"], posting)
            self.assertNotEqual(check.check_mr_job(idx, corpus), [])

    def test_star_rows_match_the_oracle_and_planted_fault_fails(self):
        with tempfile.TemporaryDirectory() as d:
            t = os.path.join(d, "t")
            gen.star_tenant(t, 1, 0.001)
            sql = ("SELECT o_orderpriority, COUNT(*) AS n, "
                   "CAST(SUM(o_totalprice) AS DOUBLE) AS s, MIN(o_orderdate) AS first "
                   "FROM orders GROUP BY o_orderpriority")
            oracle = check.Oracle({t: {"k": sql}}, d)
            con = duckdb.connect()
            con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{t}/orders.parquet')")
            rows = con.sql(sql).arrow()
            out = os.path.join(d, "result")
            os.makedirs(out)

            def dump(table):
                pq.write_table(table, os.path.join(out, "part-00000.parquet"))
            dump(rows)
            job = {"tenant": t, "out": out}
            self.assertEqual(check.check_star_job(job, "k", oracle), [])
            dump(rows.slice(0, rows.num_rows - 1))
            self.assertNotEqual(check.check_star_job(job, "k", oracle), [])
            n = rows.column("n").to_pylist()
            dump(rows.set_column(1, "n", pa.array([n[0] + 1] + n[1:], rows.schema.field("n").type)))
            self.assertNotEqual(check.check_star_job(job, "k", oracle), [])
            dump(rows.rename_columns(["o_orderpriority", "cnt", "s", "first"]))
            self.assertNotEqual(check.check_star_job(job, "k", oracle), [])

    def test_kv_batch_check_catches_a_wrong_value(self):
        with tempfile.TemporaryDirectory() as d:
            _, log = gen.op_logs(d, 3, 2, rows=100, n_keys=20)
            want = log.batch_updates(2)[1]
            batch = os.path.join(d, "sink", "batch=1")
            os.makedirs(batch)
            keys = sorted(want)
            table = {"key": keys, "value": [want[k][0] for k in keys],
                     "last_seq": [want[k][1] for k in keys]}
            pq.write_table(pa.table(table), os.path.join(batch, "part-0.parquet"))
            rec = {"batches": [1]}
            self.assertEqual(check.check_kv_job(rec, want, os.path.join(d, "sink")), [])
            table["value"][0] += "9"
            pq.write_table(pa.table(table), os.path.join(batch, "part-0.parquet"))
            self.assertNotEqual(check.check_kv_job(rec, want, os.path.join(d, "sink")), [])


class MetricNames(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_file_shape(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertTrue(1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int))
        self.assertLessEqual(len(json.dumps(b)), 64 * 1024)
        for arg in b["command"]:
            self.assertFalse(arg.startswith("/") or ".." in arg)

    def test_names_units_and_bounds(self):
        b = self.bench
        names = [w["name"] for w in b["workloads"]] + \
            [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], self.UNIT)
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], self.UNIT)
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_matches_the_code(self):
        b = self.bench
        self.assertEqual({w["name"]: w["why"] for w in b["workloads"]}, spec.WORKLOADS)
        self.assertEqual(set(spec.WORKLOADS), set(spec.KINDS))
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]},
                         spec.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]},
                         spec.per_layer())


class EndToEnd(unittest.TestCase):
    """One short run per workload with one output corrupted after the
    loop: every other job must agree with its oracle, the planted one
    must be counted as failed."""

    def run_bench(self, workload):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "1", "--trace", "0", "--plant-fault"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1, p.stderr[-2000:])
        self.assertGreaterEqual(out["attempted"], len(spec.KINDS[workload]))
        self.assertEqual(set(out["metrics"]), set(spec.END_TO_END))

    def test_mr_text(self):
        self.run_bench("mr_text")

    def test_star_stream(self):
        self.run_bench("star_stream")


if __name__ == "__main__":
    unittest.main()
