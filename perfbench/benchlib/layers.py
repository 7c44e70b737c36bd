"""Per-layer metrics from the traced loop.

The trace holds spans (one root `job.<kind>` per benchmark job, children
for each call into a graft module), the Spark jobs each span submitted,
their stages with summed task metrics, and streaming progress reports.
Each metric is computed per benchmark job and reported as the median over
the jobs of the kinds that exercise the layer; a layer that does no work
on a workload reports 0.
"""
import datetime as dt
import json

from . import spec
from .stats import median, ratio

MB = 1e6


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


class Trace:
    def __init__(self, records):
        self.spans = {r["id"]: r for r in records if r["type"] == "span"}
        self.jobs = [r for r in records if r["type"] == "job"]
        self.progress = [r["p"] for r in records if r["type"] == "progress"]
        stages = {}
        for r in records:
            if r["type"] == "stage":
                stages[(r["id"], r["attempt"])] = r
        self.roots = {s["job"]: s for s in self.spans.values()
                      if s["name"].startswith("job.") and "job" in s}
        root_of_span = {}
        for sid in self.spans:
            root_of_span[sid] = self._root(sid)
        windows = sorted((r["t0_ms"], r["t0_ms"] + 1000 * r["dur_s"], jid)
                         for jid, r in self.roots.items())
        job_root = {}
        for j in self.jobs:
            rid = root_of_span.get(j["span"])
            if rid is None:  # submitted by a thread outside any span
                rid = next((w[2] for w in windows if w[0] <= j["t0_ms"] <= w[1]), None)
            job_root[j["id"]] = rid
        self.by_root = {}   # benchmark job id -> {"jobs": [...], "stages": [...]}
        for j in self.jobs:
            rid = job_root[j["id"]]
            if rid is not None:
                self.by_root.setdefault(rid, {"jobs": [], "stages": []})["jobs"].append(j)
        for st in stages.values():
            rid = job_root.get(st["job"])
            if rid is not None:
                self.by_root.setdefault(rid, {"jobs": [], "stages": []})["stages"].append(st)
        self.children = {}
        for s in self.spans.values():
            rid = root_of_span[s["id"]]
            if rid is not None:
                self.children.setdefault(rid, []).append(s)

    def _root(self, sid):
        seen = 0
        while sid in self.spans and seen < 64:
            s = self.spans[sid]
            if s["name"].startswith("job.") and "job" in s:
                return int(s["job"])
            sid = s["parent"]
            seen += 1
        return None

    def stages(self, job_id):
        return self.by_root.get(job_id, {}).get("stages", [])

    def spark_jobs(self, job_id):
        return self.by_root.get(job_id, {}).get("jobs", [])

    def span_named(self, job_id, name):
        return [s for s in self.children.get(job_id, []) if s["name"] == name]


def _sum(stages, key):
    return sum(s["m"].get(key, 0) for s in stages)


def _scan(stages):
    return [s for s in stages if s["m"].get("shuffle_read_records", 0) == 0]


def _reduce(stages):
    return [s for s in stages if s["m"].get("shuffle_read_records", 0) > 0]


def _skew(stages):
    ms = [t for s in stages for t in s["task_ms"] if t > 0]
    return ratio(max(ms), median(ms)) if ms else 0.0


def _plan_s(tr, jid):
    root = tr.roots.get(jid)
    starts = [j["t0_ms"] for j in tr.spark_jobs(jid)]
    return (min(starts) - root["t0_ms"]) / 1000 if root and starts else 0.0


def _sink_tail_s(tr, jid):
    """Time the sink call spends after its last task ended: job commit."""
    spans = tr.span_named(jid, "engine.MapReduce.sortedTextSink")
    ends = [s["t1_ms"] for s in tr.stages(jid) if "t1_ms" in s]
    if not spans or not ends:
        return 0.0
    s = spans[0]
    return max(0.0, (s["t0_ms"] + 1000 * s["dur_s"] - max(ends)) / 1000)


def _med(jobs, f):
    return median([f(j) for j in jobs]) if jobs else 0.0


def stream_start_s(final):
    """Query start to the trigger of its first batch (once per run)."""
    if "first_batch_ts" not in final:
        return 0.0
    t = dt.datetime.strptime(final["first_batch_ts"], "%Y-%m-%dT%H:%M:%S.%fZ")
    t = t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000
    return max(0.0, (t - final["start_ms"]) / 1000)


def compute(workload, tr, loop_jobs, plan_jobs, extra):
    """All per-layer metrics (name -> value) for one traced loop.

    `loop_jobs`: the harness's records of the traced loop's jobs;
    `plan_jobs`: id -> the generator's job spec; `extra` holds
    workload-specific facts the generator knows (token counts, ops)."""
    ok = [j for j in loop_jobs if j.get("ok")]
    by = lambda kinds: [j for j in ok if j["kind"] in kinds]  # noqa: E731
    m = {name: 0.0 for name in spec.per_layer()}
    st = lambda j: tr.stages(j["id"])  # noqa: E731

    for kind in spec.KINDS[workload]:
        m[f"job.{kind}_s"] = _med(by([kind]), lambda j: j["lat_s"])

    if workload == "mr_text":
        mr = by(spec.KINDS["mr_text"])
        facade = by(["wc_facade", "indexer_facade"])
        apps = by(["wc_apps", "indexer_apps"])
        m["sources.list_s"] = _med(mr, lambda j: j.get("list_s", 0.0))
        m["sources.files"] = _med(mr, lambda j: len(plan_jobs[j["id"]]["files"]))
        # Whole-file reads: every byte of every input file.
        m["sources.read_mb"] = _med(mr, lambda j: plan_jobs[j["id"]]["bytes"] / MB)
        m["sources.scan_task_s"] = _med(mr, lambda j: _sum(_scan(st(j)), "run_ms") / 1000)
        m["sources.task_skew"] = _med(mr, lambda j: _skew(_scan(st(j))))
        m["engine.plan_s"] = _med(facade, lambda j: _plan_s(tr, j["id"]))
        m["engine.map_records"] = _med(
            facade, lambda j: _sum(_scan(st(j)), "shuffle_write_records"))
        m["engine.shuffle_write_mb"] = _med(
            facade, lambda j: _sum(st(j), "shuffle_write_bytes") / MB)
        m["engine.fetch_wait_s"] = _med(facade, lambda j: _sum(st(j), "fetch_wait_ms") / 1000)
        m["engine.reduce_task_s"] = _med(
            facade, lambda j: _sum(_reduce(st(j)), "run_ms") / 1000)
        m["engine.spill_mb"] = _med(facade, lambda j: _sum(st(j), "spill_disk_bytes") / MB)
        m["engine.gc_s"] = _med(facade, lambda j: _sum(st(j), "gc_ms") / 1000)
        m["engine.sink_s"] = _med(mr, lambda j: _sink_tail_s(tr, j["id"]))
        m["engine.sink_mb"] = _med(mr, lambda j: _sum(st(j), "output_bytes") / MB)
        m["apps.combine_ratio"] = _med(apps, lambda j: ratio(
            _sum(_scan(st(j)), "shuffle_write_records"), extra["tokens"][j["id"]]))
        m["apps.shuffle_write_mb"] = _med(
            apps, lambda j: _sum(st(j), "shuffle_write_bytes") / MB)
        m["apps.task_s"] = _med(apps, lambda j: _sum(st(j), "run_ms") / 1000)
        m["apps.spill_mb"] = _med(apps, lambda j: _sum(st(j), "spill_disk_bytes") / MB)

    if workload == "star_stream":
        ext = by(["q1", "q3", "q5", "q9", "q18", "rollup"])
        topk = by(["topk"])
        kv = by(["kv_replay"])
        m["ext.plan_s"] = _med(ext, lambda j: _plan_s(tr, j["id"]))
        m["ext.task_s"] = _med(ext, lambda j: _sum(st(j), "run_ms") / 1000)
        m["ext.read_mb"] = _med(ext, lambda j: j.get("files_read_bytes", 0) / MB)
        m["ext.rows_read_per_row_out"] = _med(
            ext, lambda j: ratio(_sum(st(j), "input_records"), max(1, j.get("rows", 0))))
        m["ext.shuffle_write_mb"] = _med(ext, lambda j: _sum(st(j), "shuffle_write_bytes") / MB)
        m["ext.broadcast_joins"] = _med(ext, lambda j: j.get("broadcast_joins", 0))
        m["ext.sort_merge_joins"] = _med(ext, lambda j: j.get("sort_merge_joins", 0))
        m["ext.spill_mb"] = _med(ext, lambda j: _sum(st(j), "spill_disk_bytes") / MB)
        m["ext.gc_s"] = _med(ext, lambda j: _sum(st(j), "gc_ms") / 1000)
        m["plans.topk_nodes"] = _med(topk, lambda j: j.get("topk_nodes", 0))
        m["plans.topk_task_s"] = _med(topk, lambda j: _sum(st(j), "run_ms") / 1000)
        m["plans.topk_shuffle_mb"] = _med(topk, lambda j: _sum(st(j), "shuffle_write_bytes") / MB)
        m["kv.ops"] = _med(kv, lambda j: _sum(_scan(st(j)), "input_records"))
        m["kv.mutating_ops"] = _med(kv, lambda j: _sum(_scan(st(j)), "shuffle_write_records"))
        m["kv.keys_out"] = _med(kv, lambda j: j.get("rows", 0))
        m["kv.task_s"] = _med(kv, lambda j: _sum(st(j), "run_ms") / 1000)
        m["kv.sort_spill_mb"] = _med(kv, lambda j: _sum(_reduce(st(j)), "spill_disk_bytes") / MB)
        m["kv.task_skew"] = _med(kv, lambda j: _skew(_reduce(st(j))))

    if workload == "star_stream":
        by_batch = {p["batchId"]: p for p in tr.progress if p["numInputRows"] > 0}
        jobs = by(["ingest"])

        def prog(j):
            return [by_batch[b] for b in j.get("batches", []) if b in by_batch]

        def dur(j, *keys):
            return sum(p["durationMs"].get(k, 0) for p in prog(j) for k in keys) / 1000

        def state(j, key):
            return sum(op.get(key, 0) for p in prog(j) for op in p.get("stateOperators", []))

        m["streaming.start_s"] = extra["stream_start_s"]
        m["streaming.trigger_s"] = _med(jobs, lambda j: dur(j, "triggerExecution"))
        m["streaming.add_batch_s"] = _med(jobs, lambda j: dur(j, "addBatch"))
        m["streaming.planning_s"] = _med(jobs, lambda j: dur(j, "queryPlanning"))
        m["streaming.commit_s"] = _med(jobs, lambda j: dur(j, "commitOffsets", "walCommit"))
        m["streaming.state_rows"] = _med(jobs, lambda j: state(j, "numRowsTotal"))
        m["streaming.state_rows_updated"] = _med(jobs, lambda j: state(j, "numRowsUpdated"))
        m["streaming.state_mb"] = _med(jobs, lambda j: state(j, "memoryUsedBytes") / MB)
        m["streaming.sink_s"] = _med(jobs, lambda j: sum(
            s["dur_s"] for s in tr.span_named(j["id"], "streaming.Sinks.idempotentParquet")))
    return m


def time_shares(tr, loop_jobs, cores):
    """Where the latency of each job kind goes, as medians over the traced
    loop: `in_spark_jobs` is the share of a job's latency during which at
    least one of its Spark jobs ran, `task_s` the summed run time of its
    tasks, and `cores_busy` task_s ÷ (latency × cores), the share of the
    machine its tasks kept busy. The rest of the latency is driver-side:
    planning, scheduling, listing and commits."""
    out = {}
    for kind in sorted({j["kind"] for j in loop_jobs if j.get("ok")}):
        jobs = [j for j in loop_jobs if j.get("ok") and j["kind"] == kind]

        def spark_s(j):
            spans = sorted((s["t0_ms"], s["t1_ms"]) for s in tr.spark_jobs(j["id"])
                           if "t1_ms" in s)
            total, end = 0, float("-inf")
            for a, b in spans:  # length of the union of the intervals
                total += max(0, b - max(a, end))
                end = max(end, b)
            return total / 1000

        def task_s(j):
            return _sum(tr.stages(j["id"]), "run_ms") / 1000

        out[kind] = {
            "jobs": len(jobs),
            "lat_s": _med(jobs, lambda j: j["lat_s"]),
            "in_spark_jobs": _med(jobs, lambda j: ratio(spark_s(j), j["lat_s"])),
            "task_s": _med(jobs, task_s),
            "cores_busy": _med(jobs, lambda j: ratio(task_s(j), j["lat_s"] * cores)),
        }
    return out
