#!/usr/bin/env python3
"""End-to-end benchmark of the shifuspark engine.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
driver from source (perfbench/build.py) and self-tests the tracer; every
run then generates its seeded inputs (perfbench/gen.py), measures set-up
in fresh processes, and drives one workload closed-loop from one driver
thread on local[nproc] for --seconds. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
from a run whose passes alternate traced and untraced. Workloads, metrics
and what each layer metric should move are described in perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen    # noqa: E402

WORKLOADS = ("lifecycle", "index_stream")
SETUP_PROBES = 1            # fresh processes besides the measured one
RUN_BUDGET_S = 165          # everything after the build must end within it

END_TO_END = [("setup_s", "s"), ("first_pass_s", "s"), ("rows_per_s", "1/s"),
              ("live_heap_mb", "MB"), ("quality", "score")]

SPANS = {
    "lifecycle": ["lifecycle.autotype", "lifecycle.stats", "lifecycle.varsel",
                  "lifecycle.norm", "lifecycle.train", "lifecycle.eval",
                  "lifecycle.export"],
    "index_stream": ["gate.clean_batch", "gate.dup_batch",
                     "gate.compact_batch", "gate.retract", "ann.batch",
                     "ann.compact_batch", "ann.query", "ann.delete"],
}
SPAN_FIELDS = [("wall_ms", "ms"), ("jobs", "count"), ("task_s", "s"),
               ("dispatch_ms", "ms"), ("shuffle_bytes", "bytes")]
EXTRAS = {
    "index_stream": [("gate.trigger_overhead_ms", "ms"),
                     ("ann.trigger_overhead_ms", "ms"),
                     ("gate.history_ratio", "ratio"),
                     ("ann.history_ratio", "ratio"),
                     ("gate.index_files", "count"),
                     ("gate.index_bytes", "bytes"),
                     ("ann.index_files", "count"),
                     ("ann.index_bytes", "bytes"),
                     ("ann.live_cells", "count")],
}
COMMON_LAYER = [("spill_bytes", "bytes"), ("trace_coverage", "ratio"),
                ("tracing_overhead", "ratio")]


def per_layer():
    """Every per-layer metric as (name, unit, owning workload or None)."""
    out = []
    for w, spans in SPANS.items():
        out += [(f"{s}.{f}", u, w) for s in spans for f, u in SPAN_FIELDS]
    for w, extras in EXTRAS.items():
        out += [(n, u, w) for n, u in extras]
    return out + [(n, u, None) for n, u in COMMON_LAYER]


def java_cmd(classes, work, heap, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    return (["java", f"-Xmx{heap}", "-XX:-UsePerfData"] +
            [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
             "graftbench.Main"] + args)


def run_jvm(cmd, log_path, timeout):
    """Run one JVM to completion; its output goes to `log_path`. A JVM that
    outlives `timeout` is killed and reaped."""
    with open(log_path, "a") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="only build and self-test the tracer")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    base = os.path.join(build.build_dir(), "perfbench")
    os.makedirs(base, exist_ok=True)
    build_log = os.path.join(base, "build.log")
    load_start = os.getloadavg()
    try:
        with open(build_log, "a") as log:
            classes = build.build(log)
    except (FileNotFoundError, RuntimeError, OSError) as e:
        fail(f"build failed: {e} (log: {build_log})", 2)
    # the tracer's self-test runs once per build of the sources
    tested = os.path.join(base, "selftest.digest")
    digest = open(os.path.join(base, "classes.digest")).read()
    if a.selftest or not os.path.exists(tested) or open(tested).read() != digest:
        selftest_dir = os.path.join(base, "selftest")
        shutil.rmtree(selftest_dir, ignore_errors=True)
        os.makedirs(selftest_dir)
        rc = run_jvm(java_cmd(classes, selftest_dir, "1g", ["--mode", "selftest"]),
                     os.path.join(selftest_dir, "log.txt"), 170)
        if rc != 0:
            fail(f"tracer self-test failed (log: {selftest_dir}/log.txt)", 3)
        with open(tested, "w") as f:
            f.write(digest)
        if a.selftest:
            print("selftest ok")
            return
    t0 = time.time()
    inputs = os.path.join(base, "inputs", f"{a.workload}-{a.seed}")
    gen.generate(a.workload, a.seed, inputs)
    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "log.txt")
    remaining = lambda: RUN_BUDGET_S - (time.time() - t0)

    # set-up: process start until the session is ready, in fresh processes
    setups = []
    for i in range(SETUP_PROBES):
        ready = os.path.join(work, f"probe{i}.ms")
        start = time.time()
        if run_jvm(java_cmd(classes, work, "1g", ["--mode", "probe", "--out", ready]),
                   log, remaining()) != 0:
            fail(f"set-up probe failed (log: {log})", 4)
        setups.append(int(open(ready).read()) / 1e3 - start)

    out = os.path.join(work, "result.json")
    start = time.time()
    try:
        rc = run_jvm(java_cmd(classes, work, "4g", [
            "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--input", inputs, "--work", work, "--out", out]), log, remaining())
    except subprocess.TimeoutExpired:
        fail(f"run exceeded its time budget (log: {log})", 5)
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark process failed with code {rc} (log: {log})", 6)
    r = json.load(open(out))
    setups.append(r["ready_ms"] / 1e3 - start)
    load_end = os.getloadavg()
    nproc = os.cpu_count()

    measured = dict(r["metrics"])
    measured["setup_s"] = statistics.median(setups)
    if a.trace == 0:
        wanted = END_TO_END
        absent = {}
    else:
        wanted = [(n, u) for n, u, _ in per_layer()]
        absent = {n: f"span not exercised by workload {a.workload}"
                  for n, _, w in per_layer() if w not in (None, a.workload)}
        for n in absent:
            measured.setdefault(n, 0.0)
    missing = [n for n, _ in wanted if n not in measured]
    for n in missing:
        absent[n] = "not measured in this run"
        measured[n] = 0.0
    metrics = {n: {"value": measured[n], "unit": u} for n, u in wanted}
    # every end-to-end metric needs a steady pass; layer metrics may be absent
    correct = r["failed"] == 0 and not (a.trace == 0 and missing)

    git = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                         text=True) if os.path.isdir(".git") else None
    provenance = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds,
        "commit": git.stdout.strip() if git and git.returncode == 0 else None,
        "source_digest": digest[:16], "nproc": nproc,
        "loadavg_start": load_start, "loadavg_end": load_end,
        "cpu_s": round(r["cpu_s"], 3), "wall_s": round(r["wall_s"], 3),
        "setup_samples_s": [round(s, 4) for s in setups],
        # loaded: other work was already running when the run started
        "loaded": load_start[0] > nproc / 2,
        "loaded_rule": "1-minute loadavg at start > nproc/2",
        "passes": r["passes"],
    }
    with open(out, "w") as f:
        json.dump(dict(r, provenance=provenance), f)
    print("provenance " + json.dumps(provenance))
    print("report " + json.dumps(r["report"]))
    for f in r["failures"]:
        print(f"failure {f}")
    if a.trace == 1 and absent:
        print("absent " + json.dumps(sorted(absent)) + " reason: " +
              "; ".join(sorted(set(absent.values()))))
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    # keep the log, result and spans; outputs and inputs are per run
    for f in os.listdir(work):
        if f not in ("log.txt", "result.json", "spans.jsonl"):
            path = os.path.join(work, f)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    shutil.rmtree(inputs)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
