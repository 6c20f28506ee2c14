"""spark-vectordb benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload index_build_search --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.bench_work/`` (removed afterwards), starts one Spark session on
``local[<usable cores>]``, pays the engine's first-use costs on tiny inputs,
then measures: one pass over the inputs, followed by a single-client closed
loop of searches: ``LOOP_WARM`` untimed ones, then ``workloads.MIN_LOOP``
timed ones that every run serves (the loop's quality figures come from
these, so they do not depend on speed), then more until ``--seconds`` have
passed since the pass started (none past ``RUN_DEADLINE_S``, so the run ends
in time). Every result is checked against an independent reference. The
last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) of ``metrics.py``. Exit code 2 means the run could not start
(for example, the library is not beside this directory).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "educational_vector_database_spark"
LOOP_WARM = 2
# a run must end within 180 s; the loop serves no extra requests past this
RUN_DEADLINE_S = 140


def _usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(work: str) -> None:
    """Everything Spark and its Python workers need, set before the JVM
    starts: the repo on PYTHONPATH (pandas-UDF and mapInPandas workers
    import the library by name), and every scratch location inside the
    work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')} {jvm}")


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _percentile(vals: list[float], p: int) -> float:
    return statistics.quantiles(vals, n=100, method="inclusive")[p - 1]


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: {PACKAGE}/ not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work)
    # Spark writes spark-warehouse/ and friends relative to the cwd
    os.chdir(work)
    try:
        return _run(args, W, work, t_start)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there


def _run(args, W, work, t_start: float) -> int:
    import numpy as np

    import metrics as M
    from spans import Tracer

    cores = _usable_cores()
    t_setup = time.perf_counter()
    wl_cls = W.WORKLOADS[args.workload]
    wl = wl_cls()
    wl.generate(np.random.default_rng(args.seed), os.path.join(work, "in"), cores)
    gen_s = time.perf_counter() - t_setup
    tiny = wl_cls(**wl_cls.TINY)
    tiny.generate(np.random.default_rng(args.seed + 1), os.path.join(work, "tiny"), cores)

    t = time.perf_counter()
    from educational_vector_database_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        warm = W.Ctx(spark, Tracer(spark, False), cores)
        tiny.warm(warm)
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup
        print(f"setup {setup_s:.1f}s: gen {gen_s:.2f} "
              f"session {session_s:.2f} warm {warm_s:.2f}", file=sys.stderr)

        tracer = Tracer(spark, bool(args.trace))
        ctx = W.Ctx(spark, tracer, cores)
        t0 = time.perf_counter()
        figures = wl.run_pass(ctx)
        wall_s = time.perf_counter() - t0
        # the loop's first requests compile its query path; they are checked
        # but not timed
        n_pass = len(tracer.spans)
        for i in range(LOOP_WARM):
            wl.serve(ctx, i)
        del tracer.spans[n_pass:]
        i = LOOP_WARM
        while len(tracer.by_name(wl.loop_span)) < W.MIN_LOOP:
            wl.serve(ctx, i)
            i += 1
        figures.update(wl.summary(ctx))
        while (time.perf_counter() - t0 < args.seconds
               and time.perf_counter() - t_start < RUN_DEADLINE_S):
            wl.serve(ctx, i)
            i += 1
        loop_ms = [s.busy_s * 1e3 for s in tracer.by_name(wl.loop_span)]
        wl.release(ctx)
        tracer.close()
    finally:
        _stop(spark)

    print(f"pass {wall_s:.2f}s, failed checks: {ctx.failed}, loop ms: "
          f"{[round(x) for x in loop_ms]}, figures: {figures}", file=sys.stderr)
    if args.trace:
        values = M.per_layer_values(tracer, wall_s)
        units = {n: u for n, u, _ in M.per_layer_table()}
    else:
        values = {"setup_s": setup_s, "wall_s": wall_s,
                  "build_s": figures["build_s"],
                  "search_batch_qps": figures["search_batch_qps"],
                  "search_p50_ms": statistics.median(loop_ms),
                  "search_p90_ms": _percentile(loop_ms, 90),
                  "recall": figures["recall"]}
        units = {n: u for n, u, *_ in M.END_TO_END}
    result = {
        "correct": not ctx.failed,
        "attempted": ctx.attempted + len(tracer.spans) + LOOP_WARM,
        "failed": len(ctx.failed),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
