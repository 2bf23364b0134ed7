"""Repository benchmark: one seeded workload through `graft.Engine.sql`.

    python3 perfbench/run.py --workload olap-read --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 14

Run from the root of a checkout. The first run builds the engine and the
driver from source (perfbench/jvm/build.py) and writes the synthetic
warehouse; both land under `.bench_build/perfbench/` and are reused.
Every run gets its own temp root there for its stores (txn tables, index
directories, the index registry), deleted when the run ends.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics
when --trace 1. Lines before it print every metric by name and unit and
the host context. A per-layer report is written beside the run output
(`.bench_build/perfbench/results/`). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "jvm"))

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402

# Set-up repetitions per run; setup_s is their median.
SETUP_REPS = 3
# A run must end within this budget (the harness limit is 180 s).
RUN_BUDGET_S = 170
JVM_HEAP = "3g"

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def git_head(root):
    """HEAD of the checkout, or None when it is not a git work tree."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def launch(cmd, cwd, log, budget):
    """Run a child process to completion (killing it at the budget)."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def run_one(root, work, classes, workload, seed, seconds, trace):
    t_start = time.time()
    context = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
               "nproc": cores(), "loadavg_before": loadavg(), "git_head": git_head(root),
               "setup_reps": SETUP_REPS}
    with open(classes + ".stamp") as fh:
        context["source_sha256"] = fh.read().strip()
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=runs)
    try:
        store = os.path.join(run_dir, "store")
        batch_dir = os.path.join(run_dir, "batches")
        os.makedirs(batch_dir)
        data = os.path.join(work, "data")
        plan = workloads.generate(workload, seed, seconds, data, store, batch_dir, SETUP_REPS)
        workloads.write_batches(plan)
        driver_plan = {k: v for k, v in plan.items()
                       if k in ("setups", "warmup", "ops", "round", "coverage", "checks")}
        driver_plan.update(data=data, store=store, seconds=seconds, trace=trace, cores=cores())
        plan_file = os.path.join(run_dir, "plan.json")
        with open(plan_file, "w") as fh:
            json.dump(driver_plan, fh)
        result_file = os.path.join(run_dir, "result.json")
        tmp = os.path.join(run_dir, "tmp")  # JVM and Spark scratch files
        os.makedirs(tmp)
        cmd = (["java", f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:-UsePerfData"] +
               [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                f"-Dspark.local.dir={tmp}", "-Dspark.sql.session.timeZone=UTC",
                "-cp", classes + os.pathsep + build.classpath(),
                "perfbench.Driver", plan_file, result_file])
        budget = RUN_BUDGET_S - (time.time() - t_start)
        log = os.path.join(run_dir, "driver.log")
        code = launch(cmd, run_dir, log, budget)
        if code != 0 or not os.path.exists(result_file):
            with open(log) as fh:
                tail = fh.read()[-4000:]
            fail(f"driver exited with {code}; log tail:\n{tail}")
        with open(result_file) as fh:
            result = json.load(fh)
        context.update(result.get("context", {}))
        context["loadavg_timed_start"] = result.get("loadavg_timed_start")
        verdict = checks.check(workload, plan, result, data, run_dir)
        e2e = metrics.end_to_end(plan, result, verdict)
        layers = metrics.per_layer(plan, result, verdict) if trace else None
        table = metrics.span_table(plan, result) if trace else None
        context["loadavg_after"] = loadavg()
        return context, verdict, e2e, metrics.by_class(plan, result), layers, table
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload, untraced then traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the engine (src/main/scala/graft not found)")
    if args.all:
        names = workloads.WORKLOADS
    elif args.workload in workloads.WORKLOADS:
        names = [args.workload]
    else:
        fail(f"--workload must be one of {', '.join(workloads.WORKLOADS)} (or use --all)")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(work, "classes")
    os.makedirs(work, exist_ok=True)
    build.build(classes)
    datagen.write(os.path.join(work, "data"))
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    last = None
    for name in names:
        traces = (0, 1) if args.all else (args.trace,)
        untraced = None
        for trace in traces:
            context, verdict, e2e, by_class, layers, table = run_one(
                root, work, classes, name, args.seed, args.seconds, trace)
            if trace == 0:
                untraced = e2e
            text = report.render(context, verdict, e2e, by_class, layers, table, untraced)
            stem = os.path.join(results, f"{name}-seed{args.seed}-trace{trace}")
            with open(stem + ".md", "w") as fh:
                fh.write(text)
            with open(stem + ".json", "w") as fh:
                json.dump({"context": context, "verdict": verdict, "end_to_end": e2e,
                           "per_layer": layers}, fh, indent=1, default=str)
            print(text)
            # the JSON line carries the metrics BENCHMARK.json declares
            measured = layers if trace else e2e
            chosen = {m["name"]: measured[m["name"]]
                      for m in spec["per_layer" if trace else "end_to_end"]}
            last = {"correct": verdict["failed"] == 0 and verdict["setup_ok"],
                    "attempted": verdict["attempted"], "failed": verdict["failed"],
                    "metrics": chosen}
    print(json.dumps(last))


if __name__ == "__main__":
    main()
