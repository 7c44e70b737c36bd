#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload mr_text --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the harness and the
program from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run then

  1. generates the workload's inputs from --seed (not timed),
  2. starts a fresh JVM with a SparkSession set up as a user would
     (GraftExtensions, local[nproc], shuffle partitions = nproc) and runs
     two warm-up rounds of every job kind (set-up ends here),
  3. runs jobs one after another from a single client thread for
     --seconds, finishing the current cycle of inputs,
  4. with --trace 1, alternates untraced and traced rounds instead, until
     each mode has run for --seconds,
  5. checks every job's output against the generator's expected outputs
     or the DuckDB oracle (not timed),
  6. prints a report on stderr and, as the last line of stdout, one JSON
     object: correct, attempted, failed and the metrics (end-to-end
     metrics without tracing, per-layer metrics with it).

Workloads: mr_text and star_stream (see benchlib/spec.py).
`--plant-fault` corrupts one job's output before checking, to show that
the check counts it. Scratch files live under .bench_build/perfbench/.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
# The benchmark builds the program from this checkout and checks results
# with the program's own oracle gate (tools/check_oracle.py).
for need in [("src", "main", "scala", "graft"), ("tools", "check_oracle.py")]:
    if not os.path.exists(os.path.join(ROOT, *need)):
        sys.exit(f"[perfbench] no {os.path.join(*need)} under {ROOT}; run from a full checkout")

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from benchlib import build, check, gen, layers, spec, stats  # noqa: E402

RUN_LIMIT_S = 170          # a run (after the build) must end within this
HEAP = "3g"
# Upper bounds on jobs per second, to size the pre-generated job queue.
MAX_RATE = {"mr_text": 4, "star_stream": 5}
# Warm-up rounds before the timed loop: one on tiny inputs, then full-size.
WARM_ROUNDS = 2
# The loop runs whole cycles of this many jobs: on mr_text one pass over
# all text samples, on star_stream three rounds of its nine kinds.
CYCLE = {"mr_text": 24, "star_stream": 27}


# star_stream report kind -> its key in graft.SparkEntry.oracleSqlFor.
ORACLE_KEYS = {"q1": "q1_pricing_summary", "q3": "q3_top_orders",
               "q5": "q5_region_volume", "q9": "q9_profit_by_nation",
               "q18": "q18_large_orders", "rollup": "orders_rollup",
               "topk": "top_orders_per_customer", "kv_replay": "kv_replay"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def generate(workload, work, seed, seconds):
    round_len = len(spec.KINDS[workload])
    n_warm = WARM_ROUNDS * round_len
    cycle = CYCLE[workload]
    n = n_warm + cycle * (1 + math.ceil(MAX_RATE[workload] * seconds / cycle))
    plan = {"workload": workload, "round": round_len, "cycle": cycle}
    if workload == "mr_text":
        jobs, corpus = gen.mr_text(work, seed, n, n_tiny=round_len, n_warm=n_warm,
                                   n_blocks=cycle)
        facts = {"corpus": corpus,
                 "tokens": {j["id"]: corpus.tokens(j["files"]) for j in jobs}}
    else:
        jobs, tenants, kvlog = gen.star_stream(work, seed, n, n_tiny=round_len)
        plan.update(tenants=tenants, src_dir=os.path.join(work, "src"),
                    sink_dir=os.path.join(work, "sink"),
                    checkpoint_dir=os.path.join(work, "checkpoint"))
        facts = {"kvlog": kvlog}
    for sub in ("out", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    plan["warmup"], plan["jobs"] = jobs[:n_warm], jobs[n_warm:]
    return plan, facts


def plant_fault(workload, rec, plan_jobs, sink_dir):
    """Corrupt the output of job `rec` in place."""
    if workload == "mr_text":
        part = sorted(p for p in os.listdir(plan_jobs[rec["id"]]["out"]) if p.startswith("part-"))[0]
        path = os.path.join(plan_jobs[rec["id"]]["out"], part)
        with open(path, encoding="utf-8") as f:
            lines = f.readlines()
        key, _, value = lines[0].rstrip("\n").partition(" ")
        lines[0] = f"{key} {value}x\n"
        with open(path, "w", encoding="utf-8") as f:
            f.writelines(lines)
    elif rec["kind"] != "ingest":
        d = plan_jobs[rec["id"]]["out"]
        f = os.path.join(d, sorted(p for p in os.listdir(d) if p.endswith(".parquet"))[0])
        t = pq.read_table(f)
        pq.write_table(t.slice(0, t.num_rows - 1) if t.num_rows > 1 else pa.concat_tables([t, t]), f)
    else:
        d = os.path.join(sink_dir, f"batch={rec['batches'][0]}")
        f = os.path.join(d, sorted(p for p in os.listdir(d) if p.endswith(".parquet"))[0])
        t = pq.read_table(f).to_pydict()
        t["value"][0] += "0"
        pq.write_table(pa.table(t), f)


def check_jobs(workload, recs, plan, facts, final):
    """problems per job id (empty list = correct), plus run-level ones."""
    plan_jobs = {j["id"]: j for j in plan["warmup"] + plan["jobs"]}
    problems, run_level = {}, []
    if workload == "star_stream":
        oracle = check.Oracle(final["oracle_sql"], os.path.join(plan["workdir"], "tmp"))
        n_files = 1 + max(plan_jobs[r["id"]]["seq"] for r in recs if r["kind"] == "ingest")
        updates = facts["kvlog"].batch_updates(n_files)
    for r in recs:
        if not r.get("ok"):
            problems[r["id"]] = [r.get("error", "failed")]
            continue
        j = plan_jobs[r["id"]]
        if workload == "mr_text":
            problems[r["id"]] = check.check_mr_job(j, facts["corpus"])
        elif j["kind"] == "ingest":
            problems[r["id"]] = check.check_kv_job(r, updates[j["seq"]], plan["sink_dir"])
        else:
            problems[r["id"]] = check.check_star_job(j, ORACLE_KEYS[j["kind"]], oracle)
    if workload == "star_stream":
        state, seen = facts["kvlog"].fold(n_files)
        run_level = check.check_kv_final(final["final_state"], final["replay"], state, seen)
    return problems, run_level


def loop_metrics(loop, plan_jobs, failed_ids):
    done = [j for j in loop["jobs"] if j.get("ok")]
    lat = [j["lat_s"] for j in done]
    tail, pct, beyond = stats.tail(lat)
    mb = sum(plan_jobs[j["id"]]["bytes"] for j in done) / 1e6
    attempted = len(loop["jobs"])
    failed = sum(1 for j in loop["jobs"] if j["id"] in failed_ids)
    return {
        "throughput_mb_s": stats.ratio(mb, loop["wall_s"]),
        "job_s_p50": stats.p50(lat),
        "job_s_tail": tail,
        "peak_heap_mb": loop["peak_heap_mb"],
        "failed_share": stats.ratio(failed, attempted),
    }, {"samples": len(lat), "tail_percentile": pct, "tail_beyond": beyond,
        "attempted": attempted, "failed": failed, "wall_s": loop["wall_s"],
        "input_mb": mb, "gc_events": loop["gc_events"], "exhausted": loop["exhausted"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.KINDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-fault", action="store_true")
    a = ap.parse_args()

    try:
        cp = build.classpath(ROOT)
    except (RuntimeError, subprocess.TimeoutExpired, FileNotFoundError) as e:
        log(f"build failed: {e}")
        return 2
    t_start = time.time()

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(a, cp, work, base, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, cp, work, base, t_start):
    t0 = time.time()
    # A traced run gives --seconds to untraced and to traced rounds each.
    plan, facts = generate(a.workload, work, a.seed, a.seconds * (1 + a.trace))
    gen_s = time.time() - t0
    plan.update(workdir=work, seconds=a.seconds, trace=bool(a.trace), cores=cores())
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    results_path = os.path.join(work, "results.json")
    trace_path = os.path.join(work, "trace.jsonl")

    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    cmd = build.java_command(cp, HEAP, os.path.join(work, "tmp"))
    cmd += [plan_path, results_path] + ([trace_path] if a.trace else [])
    jvm_log = os.path.join(work, "jvm.log")
    budget = RUN_LIMIT_S - (time.time() - t_start) - 15
    t_launch = time.time()
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"harness did not finish within {budget:.0f} s")
            return 1
    if rc != 0 or not os.path.exists(results_path):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        log(f"harness exited with {rc}")
        return 1
    with open(results_path) as f:
        res = json.load(f)

    plan_jobs = {j["id"]: j for j in plan["warmup"] + plan["jobs"]}
    timed = [j for lp in res["loops"] for j in lp["jobs"]]
    if a.plant_fault:
        victim = next(j for j in timed if j.get("ok"))
        plant_fault(a.workload, victim, plan_jobs, plan.get("sink_dir"))
        log(f"planted a wrong output in job {victim['id']} ({victim['kind']})")
    t0 = time.time()
    problems, run_level = check_jobs(a.workload, res["warmup"] + timed, plan, facts, res["final"])
    check_s = time.time() - t0
    failed_ids = {i for i, p in problems.items() if p}
    if run_level:
        # A wrong final state is a wrong output of the loop's last job.
        failed_ids.add(timed[-1]["id"])

    setup_s = res["ready_ms"] / 1000 - t_launch
    e2e, info = loop_metrics(res["loops"][0], plan_jobs, failed_ids)
    e2e["setup_s"] = setup_s
    summary = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
               "trace": a.trace, "gen_s": gen_s, "check_s": check_s,
               "session_s": res["session_ms"] / 1000 - t_launch,
               "end_to_end": e2e, "untraced": info,
               "jobs": [(j["kind"], j["lat_s"]) for j in res["loops"][0]["jobs"]],
               "post_gc_mb": res["loops"][0]["post_gc_mb"],
               "problems": {str(k): v for k, v in problems.items() if v},
               "run_problems": run_level}
    attempted = len(timed)
    failed = sum(1 for j in timed if j["id"] in failed_ids)
    warm_failed = [j["id"] for j in res["warmup"] if j["id"] in failed_ids]
    correct = failed == 0 and not warm_failed and not run_level

    if a.trace:
        traced, tinfo = loop_metrics(res["loops"][1], plan_jobs, failed_ids)
        tr = layers.Trace(layers.load(trace_path))
        facts["stream_start_s"] = layers.stream_start_s(res["final"])
        metrics = layers.compute(a.workload, tr, res["loops"][1]["jobs"], plan_jobs, facts)
        metrics["failed_share"] = stats.ratio(failed, attempted)
        metrics["peak_heap_mb"] = e2e["peak_heap_mb"]
        for m in ["throughput_mb_s", "job_s_p50", "job_s_tail", "peak_heap_mb"]:
            metrics[f"trace.{m}_overhead"] = stats.ratio(traced[m], e2e[m]) - 1
        metrics["trace.setup_s_overhead"] = stats.ratio(res["tracer_install_s"], setup_s)
        summary.update(per_layer=metrics, traced=tinfo, traced_end_to_end=traced,
                       time_shares=layers.time_shares(tr, res["loops"][1]["jobs"], plan["cores"]))
        units = spec.per_layer()
        shutil.copy(trace_path, os.path.join(base, f"trace-{a.workload}-{a.seed}.jsonl"))
    else:
        metrics = {k: e2e[k] for k in spec.END_TO_END}
        units = spec.END_TO_END

    with open(os.path.join(base, f"summary-{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    report(a, summary, e2e, info, correct, failed, attempted, metrics if a.trace else None)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k][0]} for k in units}}))
    return 0


def report(a, summary, e2e, info, correct, failed, attempted, per_layer):
    log(f"{a.workload} seed={a.seed}: {info['samples']} jobs in {info['wall_s']:.2f} s, "
        f"{info['input_mb']:.1f} MB input, inputs generated in {summary['gen_s']:.1f} s, "
        f"checked in {summary['check_s']:.1f} s")
    units = dict(spec.END_TO_END, **spec.REPORTED)
    for k in ["setup_s", "throughput_mb_s", "job_s_p50", "job_s_tail", "peak_heap_mb",
              "failed_share"]:
        note = ""
        if k == "job_s_p50":
            note = f" (n={info['samples']})"
        elif k == "job_s_tail":
            note = f" (p{info['tail_percentile']}, n={info['samples']}, {info['tail_beyond']} above)"
        log(f"  {k:<16} {e2e[k]:12.4f} {units[k][0]}{note}")
    if per_layer:
        for k, v in per_layer.items():
            log(f"  {k:<34} {v:12.4f} {spec.per_layer()[k][0]}")
    for jid, p in list(summary["problems"].items())[:5]:
        log(f"  job {jid} wrong: {'; '.join(p)[:300]}")
    for p in summary["run_problems"]:
        log(f"  final state wrong: {p}")
    log(f"correct={correct} failed={failed}/{attempted}")


if __name__ == "__main__":
    sys.exit(main())
