#!/usr/bin/env python3
"""The repo benchmark: one workload, measured end to end or per layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness with sbt (offline) and caches the classpath under `.perfbench/`.
Each run then generates its input tables from the seed, runs the workload
in one JVM (`perfbench.Main`), checks every op's result against DuckDB's
answer to the gate's oracle SQL, and prints one JSON object as the last
line of standard output: every end-to-end metric with `--trace 0`, every
per-layer metric with `--trace 1`. A traced run also writes its span tree
to `.perfbench/trace-<workload>-<seed>.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")
SF = 0.1
# cold workloads warm the JVM on a smaller copy of the same tables
WARMUP_SF = 0.01
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
OFFLINE_SBT_OPTS = ("-Dsbt.override.build.repos=true "
                    "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                    + " -Dsbt.offline=true -Xmx2g")


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, log, timeout, what, **kw):
    """Runs `cmd` in its own process group with output to `log`. Whatever is
    left of the group when it exits, outlives `timeout` or this process is
    stopped gets killed and reaped."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{what} timed out after {timeout} s; see {log}", 4)
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def source_stamp():
    """Signature of every input to the build (paths, sizes, mtimes)."""
    h = hashlib.sha256()
    for top in ["build.sbt", "project/build.properties", "src",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Builds the program and the harness if their sources changed, and
    returns the harness's runtime classpath."""
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source {need} not found; run from the repository root", 2)
    cache = os.path.join(WORK, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            got = json.load(f)
        if got["stamp"] == stamp:
            return got["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=(os.environ.get("SBT_OPTS") or OFFLINE_SBT_OPTS)
               + f" -Djava.io.tmpdir={TMP}")
    log = os.path.join(WORK, "build.log")
    code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], log, BUILD_TIMEOUT_S, "build",
                    cwd=HERE, env=env)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if "perfbench" in ln and ":" in ln and not ln.startswith("[")), None)
    if code != 0 or cp is None:
        fail(f"build failed (exit {code}); see {log}", 3)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def run_jvm(cp, args, log):
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={TMP}", "-cp", cp, "perfbench.Main"]
           + args)
    code = run_proc(cmd, log, JVM_TIMEOUT_S, "harness")
    if code != 0:
        fail(f"harness exited {code}; see {log}", 5)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f).get(a.workload)
    if spec is None:
        fail(f"unknown workload {a.workload}", 2)
    os.makedirs(TMP, exist_ok=True)
    cp = classpath()

    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    datagen.generate(data, a.seed, SF)
    warmup = data
    if spec["mode"] == "cold":
        warmup = os.path.join(run_dir, "warmup-data")
        datagen.generate(warmup, a.seed, WARMUP_SF)
    ops_file = os.path.join(run_dir, "ops.tsv")
    with open(ops_file, "w") as f:
        for phase, gates in spec["phases"].items():
            f.writelines(f"{phase}\t{g}\n" for g in gates)
    out = os.path.join(run_dir, "raw.json")
    cores = str(len(os.sched_getaffinity(0)))
    run_jvm(cp, ["--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--mode", spec["mode"], "--cores", cores, "--data", data, "--warmup-data", warmup,
                 "--work", os.path.join(run_dir, "work"), "--ops", ops_file,
                 "--out", out], os.path.join(WORK, f"jvm-{a.workload}.log"))
    with open(out) as f:
        rec = json.load(f)
    rec["workload"] = a.workload
    shutil.copy(out, os.path.join(WORK, f"raw-{a.workload}-{a.seed}.json"))
    for op in rec["ops"]:
        op["layer"] = metrics.layer_of(op["module"])

    orc = oracle.Oracle(data, os.path.join(WORK, "oracle-cache"))
    answers = {g: orc.answer(sql) for g, sql in rec["oracle"].items()}
    attempted, failed = metrics.check_ops(rec["ops"], answers)
    for op in rec["ops"]:
        if not op["pass"]:
            why = op.get("error") or f"result differs from oracle: {answers.get(op['gate'])}"
            print(f"# FAILED {op['gate']}: {why}"[:400], file=sys.stderr)

    if a.trace:
        values, span_tree = metrics.per_layer(rec)
        units = dict(metrics.per_layer_names())
        with open(os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": span_tree}, f)
    else:
        values = metrics.end_to_end(rec)
        units = dict(metrics.END_TO_END)
    host = rec["host"]
    pass_s = ",".join(f"{(p['end'] - p['t']) / 1000:.2f}" for p in rec["passes"])
    print(f"# {a.workload} seed={a.seed} sf={SF} cores={cores} "
          f"ops={attempted} passes={len(rec['passes'])} pass_s={pass_s} "
          f"window_s={(rec['window_end'] - rec['first_op']) / 1000:.1f} "
          f"steal_s={host['steal1'] - host['steal0']:.2f} load1_max={host['load1_max']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))


if __name__ == "__main__":
    # a stop request unwinds through run_proc, which kills the child group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
