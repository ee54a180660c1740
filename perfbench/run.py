"""Benchmark of elastic_surv_spark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run pins its own environment (cores,
driver heap, Spark scratch and temp directories inside the checkout, the
Python path of the Spark workers), sets the session up several times and
reports the median, then repeats full workload passes for about
``--seconds`` seconds and reports their median. The last line
of standard output is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md for what each workload isolates.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import resource
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pin_environment() -> None:
    """Cores, heap, scratch dirs and worker import path, all from the box."""
    cpus = len(os.sched_getaffinity(0))
    total_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gib = max(1, min(4, int(total_gib // 4)))
    work = os.path.join(ROOT, ".bench_tmp")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_gib}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(paths),
        # no hsperfdata files in /tmp from the launcher or the driver JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            "pyspark-shell"
        ),
    })
    sys.path.insert(0, ROOT)


def run_passes(workload, spark, tracer, seconds: float, trace: bool):
    """Passes until the next one, if it took as long as the last, would end
    past ``seconds``; at least one. A pass is longer than the window on 4
    cores, so a run is one pass from a fresh JVM: cold JIT, cold codegen
    cache and fresh Python workers, as a caller that runs each registry row
    once per process, or a script's first fit, meets them."""
    from perfbench.workloads import PassResult

    passes = []  # (result, spans, codegen (compiles, seconds) during the pass)
    start = time.perf_counter()
    while True:
        first_span = len(tracer.spans)
        codegen0 = tracer.codegen() if trace else (0, 0.0)
        tracer.active = trace
        t0 = time.perf_counter()
        try:
            with tracer.span("pass"):
                res = workload.run_pass(spark)
            tracer.active = False
            workload.check(res)
        except Exception as exc:  # the pass could not finish: one failed op
            tracer.active = False
            res = PassResult(attempted=1, wall_s=time.perf_counter() - t0)
            res.fail(f"pass raised {type(exc).__name__}: {exc}"[:300])
            passes.append((res, [], (0, 0.0)))
            break
        spans = tracer.spans[first_span:]
        codegen = (0, 0.0)
        if trace:
            codegen1 = tracer.codegen()
            codegen = (codegen1[0] - codegen0[0], codegen1[1] - codegen0[1])
            tracer.harvest(spans)
        passes.append((res, spans, codegen))
        if time.perf_counter() - start + res.wall_s > seconds:
            break
    return passes


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def _descendants(pid: int) -> list[int]:
    found, todo = [], [pid]
    while todo:
        parent = todo.pop()
        for task in glob.glob(f"/proc/{parent}/task/*/children"):
            try:
                with open(task) as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:  # the task ended while we looked
                continue
            found += kids
            todo += kids
    return found


def shutdown(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    pin_environment()
    try:
        from elastic_surv_spark import session
    except ImportError as exc:
        print(f"perfbench: elastic_surv_spark is not importable here: {exc}", file=sys.stderr)
        return 2
    from perfbench.layers import PER_LAYER, layer_metrics
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tracer = Tracer(run_id=f"perfbench-{os.getpid()}")
    if args.trace:
        tracer.install()
    workload = WORKLOADS[args.workload](args.seed, tracer)

    spark = None
    try:
        setups = []
        for _ in range(workload.setups):
            if spark is not None:
                tracer.sc = None
                spark.stop()
            tracer.active = bool(args.trace)
            t0 = time.perf_counter()
            spark = session.get_spark(app_name="perfbench")
            tracer.sc = spark.sparkContext
            workload.setup(spark)
            setups.append(time.perf_counter() - t0)
            tracer.active = False
        setup_spans = list(tracer.spans)
        passes = run_passes(workload, spark, tracer, args.seconds, bool(args.trace))
        attempted = sum(res.attempted for res, *_ in passes)
        failed = sum(res.failed for res, *_ in passes)
        print(f"perfbench: setups {[round(x, 3) for x in setups]}", file=sys.stderr)
        for i, (res, *_) in enumerate(passes):
            print(f"perfbench: pass {i} {res.wall_s:.3f} s, "
                  f"ops {[round(x, 3) for x in res.ops_s]}", file=sys.stderr)
            for problem in res.problems:
                print(f"perfbench: FAILED {problem}", file=sys.stderr)
        if args.trace:
            values = layer_metrics(passes, setup_spans, peak_rss_mb(spark))
            units = {k: PER_LAYER[k][0] for k in values}
            spans_path = os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.json")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            with open(spans_path, "w") as fh:
                json.dump([s.__dict__ for s in tracer.spans], fh)
        else:
            values = {
                "setup_s": statistics.median(setups),
                "run_s": statistics.median(res.wall_s for res, *_ in passes),
            }
            units = dict.fromkeys(values, "s")
    finally:
        shutdown(spark)

    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in values},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
