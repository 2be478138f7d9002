"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload flowfile_small --seed 1 --seconds 14 --trace 0

Run from the root of a checkout.  It starts a local Spark session with
the deployment settings pinned below, sets up the workload (session
start, warm-up, inputs — all counted in ``setup_s``), measures as many
whole blocks of operations as take ``--seconds`` on four cores, checks
every output against the engine's DuckDB replay outside the timed region
and prints, as its last line, one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``; the per-layer metrics of the traced blocks with
``--trace 1``).  It exits 1 when an output mismatches or an operation
fails, and 2 when the package is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("flowfile_small", "curate_corpus")


def _pin_deployment(work: str) -> None:
    """Deployment settings for this process only: the package reads them
    when the session starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # get_spark's local default (24g) exceeds small machines' memory.  The
    # heap is fixed at its maximum from the start, as a service would run
    # it: a heap left to grow reaches a different size each run, and the
    # peak resident set with it
    heap = f"{max(1024, min(2048, mem_mb // 4))}m"
    os.environ["SPARK_DRIVER_MEMORY"] = heap
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Xms{heap}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # temporary files of Python, pyspark's gateway and the JVM stay in
    # the checkout too
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_AVRO", None)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="small inputs, for the benchmark's own tests")
    p.add_argument("--perturb", action="store_true",
                   help="change one output before the gate, which must fail")
    return p.parse_args(argv)


def _make(name: str, spark, args, work: str):
    from perfbench.curate import CurateCorpus
    from perfbench.flowfile import FlowfileSmall
    if name == "flowfile_small":
        wl = FlowfileSmall(spark, args.seed, args.tiny)
    else:
        wl = CurateCorpus(spark, args.seed, args.tiny, work)
    wl.perturb = args.perturb
    return wl


def _window(wl, seconds: float, traced=None):
    """Measure whole blocks of operations: as many as take ``seconds`` on a
    four-core machine, and at least one.  The work is fixed by
    ``seconds`` rather than by the clock so that every run of a workload
    does the same work, whatever the machine's speed at the moment.

    With a ``traced`` tracer, twice as many blocks run, alternately
    untraced and traced, so that warm-up still under way drifts both
    halves alike; operations of odd blocks carry ``op.traced``."""
    from perfbench.harness import closed_loop
    from perfbench.tracing import Tracer
    blocks = max(1, round(seconds / wl.block_seconds))
    untraced = Tracer(False)

    def run(i: int):
        on = traced is not None and (i // wl.block) % 2 == 1
        op = wl.run_op(i, traced if on else untraced)
        op.traced = on
        return op

    return closed_loop(run, wl.clients,
                       blocks * wl.block * (1 if traced is None else 2),
                       prepare=getattr(wl, "prepare", None))


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "nifi_datasynthesizer_spark",
                                       "__init__.py")):
        print(f"perfbench: no nifi_datasynthesizer_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_deployment(work)
    os.chdir(work)            # Spark's stray files (warehouse, logs) land here
    try:
        return _run(args, work, t_setup)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on end of input
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _run(args, work: str, t_setup: float) -> int:
    from nifi_datasynthesizer_spark import get_spark

    import duckdb

    from perfbench import harness, tracing

    spark = get_spark(app=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    try:
        wl = _make(args.workload, spark, args, work)
        setup_tracer = tracing.Tracer(bool(args.trace))
        wl.setup(setup_tracer)
        setup_s = time.perf_counter() - t_setup

        if not args.trace:
            ops, elapsed = _window(wl, args.seconds)
            metrics = harness.end_to_end(ops, elapsed, setup_s,
                                         tracing.peak_rss_mb())
        else:
            traced = tracing.Tracer(True)
            ops, elapsed = _window(wl, args.seconds, traced)
            t_ops = [o for o in ops if o.traced]
            u_ops = [o for o in ops if not o.traced]
            overhead = 100.0 * (harness.mean_latency(t_ops)
                                / harness.mean_latency(u_ops) - 1.0)
            exec_totals = tracing.job_group_metrics(spark, traced.groups)
            metrics = harness.per_layer(traced, exec_totals, len(t_ops),
                                        session_s, overhead)
            path = os.path.join(ROOT, ".perfbench", "traces",
                                f"{args.workload}-seed{args.seed}.json")
            traced.write(path, {"workload": args.workload, "seed": args.seed,
                                "ops": len(t_ops), "exec": exec_totals,
                                "setup_spans": setup_tracer.spans})
            print(harness.self_time_table(traced, len(t_ops)), file=sys.stderr)
            print(f"trace written to {path}", file=sys.stderr)

        t_verify = time.perf_counter()
        con = duckdb.connect()
        try:
            errors = wl.verify(ops, con)
        finally:
            con.close()
        print(f"perfbench: session {session_s:.1f} s, set-up {setup_s:.1f} s, "
              f"window {elapsed:.1f} s ({len(ops)} ops), verify "
              f"{time.perf_counter() - t_verify:.1f} s", file=sys.stderr)
    finally:
        _stop(spark)
    for e in errors[:20]:
        print(f"MISMATCH {e}", file=sys.stderr)
    failed = sum(1 for o in ops if not o.ok)
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
