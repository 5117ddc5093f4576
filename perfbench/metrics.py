"""Turns the harness's raw records into the benchmark's metrics.

Pure functions over the JSON the JVM side writes (see Main.scala): op spans,
passes, host samples and, in a traced run, the engine's job, stage and plan
events. All times in the records are epoch milliseconds.
"""
import math
import statistics

LAYERS = ["sources", "transform", "model", "operators", "analytics", "quality",
          "pipeline", "streaming", "llm.similarity", "llm.dedup", "llm.text"]
LAYER_OF_FILE = {
    "llm/Similarity.scala": "llm.similarity",
    "llm/Dedup.scala": "llm.dedup", "llm/Cluster.scala": "llm.dedup",
    "llm/TextOps.scala": "llm.text", "llm/Bpe.scala": "llm.text",
    "llm/Curation.scala": "llm.text", "llm/LangModel.scala": "llm.text",
}
LAYER_METRICS = [("busy_s", "s"), ("ops", "count"), ("failed", "count"),
                 ("jobs", "count"), ("tasks", "count"), ("shuffle_mb", "MB")]
SPARK_METRICS = [
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.stages_skipped_frac", "fraction"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"), ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.task_gc_s", "s"),
    ("spark.input_mb", "MB"), ("spark.output_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.plan_s", "s"), ("spark.driver_s", "s"),
    ("jvm.jit_s", "s"), ("jvm.gc_s", "s")]
OTHER_METRICS = [
    ("pipeline.mart_build_s", "s"), ("pipeline.mart_builds", "count"),
    ("host.steal_s", "s"), ("host.load1_max", "load"),
    ("ops.failed_frac", "fraction"), ("ops.p50_s", "s"), ("ops.tail_s", "s"),
    ("ops.tail_pct", "%"),
    ("trace.batch_s", "s"), ("trace.stored_mb", "MB")]
END_TO_END = [("setup_s", "s"), ("batch_s", "s"), ("queries_per_s", "1/s"),
              ("cpu_s", "s"), ("rss_peak_mb", "MB"), ("stored_mb", "MB")]
MB = 1e6
TAIL_LEVELS = (99, 95, 90, 75, 50)


def per_layer_names():
    """Every per-layer metric as (name, unit), in report order."""
    return ([(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS]
            + SPARK_METRICS + OTHER_METRICS)


def layer_of(source_file):
    return LAYER_OF_FILE.get(source_file, source_file.split("/")[0])


def percentile(values, pct):
    """Nearest-rank percentile: the smallest value with at least `pct`% of
    the samples at or below it."""
    v = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(v)))
    return v[rank - 1]


def tail_level(n, beyond=10):
    """The highest reportable percentile level for `n` samples: at least
    `beyond` samples must lie above its rank. The median is always
    reported, so 50 is the floor."""
    for pct in TAIL_LEVELS:
        if n - max(1, math.ceil(pct / 100 * n)) >= beyond:
            return pct
    return 50


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Adds `self_ms` to each span: its duration minus the part of it that
    its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self_ms"] = (s["end"] - s["start"]) - covered(
            s["start"], s["end"], kids.get(s["id"], []))
    return spans


def check_ops(ops, answers):
    """Marks each op `pass` or not against its gate's oracle answer and
    returns (attempted, failed). An op that threw, has no answer, or whose
    columns, row count or hash differ is failed; none is skipped."""
    failed = 0
    for op in ops:
        ans = answers.get(op["gate"])
        op["pass"] = bool(op["ok"] and ans and "error" not in ans
                          and op["cols"] == ans["cols"]
                          and op["rows"] == ans["rows"]
                          and op["hash"] == ans["hash"])
        failed += not op["pass"]
    return len(ops), failed


def owner(ops, t):
    """Index of the op whose interval contains time `t`, or None. Ops run
    one after another, so at most one does."""
    lo, hi = 0, len(ops) - 1
    while lo <= hi:
        mid = (lo + hi) // 2
        if t < ops[mid]["t"]:
            hi = mid - 1
        elif t > ops[mid]["end"]:
            lo = mid + 1
        else:
            return mid
    return None


def end_to_end(rec):
    ops, passes = rec["ops"], rec["passes"]
    window = (rec["window_end"] - rec["first_op"]) / 1000
    return {
        "setup_s": (rec["first_op"] - rec["jvm_start"]) / 1000,
        "batch_s": statistics.median((p["end"] - p["t"]) / 1000 for p in passes),
        "queries_per_s": len(ops) / window,
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "rss_peak_mb": rec["rss_peak_kb"] * 1024 / MB,
        "stored_mb": statistics.median(p["stored_b"] for p in passes) / MB,
    }


def _jobs(trace):
    """Jobs with start, end and planned stages, across every session."""
    out = []
    for t in trace:
        ends = {j["job"]: j["t"] for j in t["job_ends"]}
        first_submit = {}
        for s in t["stage_submits"]:
            first_submit.setdefault(s["stage"], s["t"])
        for j in t["jobs"]:
            planned = j["stages"]
            skipped = sum(1 for s in planned
                          if s not in first_submit or first_submit[s] < j["t"])
            out.append({"t": j["t"], "end": ends.get(j["job"], j["t"]),
                        "planned": len(planned), "skipped": skipped})
    return out


def spans(rec, jobs):
    """The span tree workload -> phase -> op -> run/materialize -> job, for
    `jobs` that each start inside an op."""
    ops = rec["ops"]
    out = [{"id": 0, "parent": None, "kind": "workload", "name": rec["workload"],
            "start": rec["first_op"], "end": rec["window_end"]}]
    phase, phase_key, op_ids = None, None, []
    for op in ops:
        if (op["round"], op["phase"]) != phase_key:
            phase_key = (op["round"], op["phase"])
            phase = {"id": len(out), "parent": 0, "kind": "phase", "name": op["phase"],
                     "start": op["t"]}
            out.append(phase)
        phase["end"] = op["end"]
        oid = len(out)
        op_ids.append(oid)
        out.append({"id": oid, "parent": phase["id"], "kind": "op", "name": op["gate"],
                    "layer": op["layer"], "start": op["t"], "end": op["end"]})
        out.append({"id": oid + 1, "parent": oid, "kind": "run", "name": "run",
                    "start": op["t"], "end": op["run_end"]})
        out.append({"id": oid + 2, "parent": oid, "kind": "materialize",
                    "name": "materialize", "start": op["run_end"], "end": op["end"]})
    for j in jobs:
        i = owner(ops, j["t"])
        parent = op_ids[i] + (1 if j["t"] <= ops[i]["run_end"] else 2)
        out.append({"id": len(out), "parent": parent, "kind": "job", "name": "job",
                    "start": j["t"], "end": j["end"]})
    return self_times(out)


def per_layer(rec):
    ops = rec["ops"]
    trace = rec["trace"]
    jobs = [j for j in _jobs(trace) if owner(ops, j["t"]) is not None]
    stages = [s for t in trace for s in t["stages"] if owner(ops, s["t"]) is not None]
    plans = [p for t in trace for p in t["plans"] if owner(ops, p["t"]) is not None]
    failed_tasks = [f for t in trace for f in t["failed_tasks"]
                    if owner(ops, f["t"]) is not None]
    m = {name: 0.0 for name, _ in per_layer_names()}
    for op in ops:
        p = op["layer"]
        m[f"{p}.busy_s"] += (op["end"] - op["t"]) / 1000
        m[f"{p}.ops"] += 1
        m[f"{p}.failed"] += not op["pass"]
    for j in jobs:
        m[f"{ops[owner(ops, j['t'])]['layer']}.jobs"] += 1
    for s in stages:
        p = ops[owner(ops, s["t"])]["layer"]
        m[f"{p}.tasks"] += s["tasks"]
        m[f"{p}.shuffle_mb"] += (s.get("sr_b", 0) + s.get("sw_b", 0)) / MB
    planned = sum(j["planned"] for j in jobs)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    m["spark.stages_skipped_frac"] = (sum(j["skipped"] for j in jobs) / planned
                                      if planned else 0.0)
    m["spark.tasks"] = sum(s["tasks"] for s in stages)
    m["spark.failed_tasks"] = len(failed_tasks)
    for key, field, scale in [
            ("spark.task_run_s", "run_ms", 1e3), ("spark.task_cpu_s", "cpu_ns", 1e9),
            ("spark.task_gc_s", "gc_ms", 1e3), ("spark.input_mb", "in_b", MB),
            ("spark.output_mb", "out_b", MB), ("spark.shuffle_read_mb", "sr_b", MB),
            ("spark.shuffle_write_mb", "sw_b", MB), ("spark.spill_mb", "spill_b", MB)]:
        m[key] = sum(s.get(field, 0) for s in stages) / scale
    m["spark.plan_s"] = sum(p["ms"] for p in plans) / 1000
    job_iv = [(j["t"], j["end"]) for j in jobs]
    m["spark.driver_s"] = sum((op["end"] - op["t"]) - covered(op["t"], op["end"], job_iv)
                              for op in ops) / 1000
    for key in ["jit_s", "gc_s"]:
        m[f"jvm.{key}"] = sum(p[key] for p in rec["passes"]) / len(rec["passes"])
    before, after = rec["ledger"]["before"], rec["ledger"]["after"]
    grown = {k: v - before.get(k, 0.0) for k, v in after.items() if v > before.get(k, 0.0)}
    m["pipeline.mart_build_s"] = sum(grown.values())
    m["pipeline.mart_builds"] = len(grown)
    host = rec["host"]
    m["host.steal_s"] = host["steal1"] - host["steal0"]
    m["host.load1_max"] = host["load1_max"]
    lat = [(o["end"] - o["t"]) / 1000 for o in ops]
    m["ops.failed_frac"] = sum(not o["pass"] for o in ops) / len(ops)
    m["ops.p50_s"] = statistics.median(lat)
    m["ops.tail_pct"] = tail_level(len(lat))
    m["ops.tail_s"] = percentile(lat, m["ops.tail_pct"])
    e2e = end_to_end(rec)
    m["trace.batch_s"] = e2e["batch_s"]
    m["trace.stored_mb"] = e2e["stored_mb"]
    return m, spans(rec, jobs)
