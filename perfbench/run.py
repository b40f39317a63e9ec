"""Benchmark of the learn_to_compress_spark engine, run from a checkout root:

    python3 perfbench/run.py --workload ingest_transcripts --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py`` and ``README.md``) for about
``--seconds`` seconds after set-up and checks every answer. Prints one line
per workload figure, one JSON line of details, and as the LAST line a JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``, spans written to ``.bench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: the machine shape is pinned here, not in the program: runs at different
#: core counts are never compared (stored bytes move with the core count)
MAX_CPUS = 4
#: the driver JVM's heap, fixed in size and touched in full at start, so its
#: resident size is its committed size: ``peak_rss_mb`` counts the heap's
#: peak USED bytes in its place (see ``jvm_heap``). A heap left to grow did
#: so by a GC-timing-dependent 0.1-0.3 GB per run, which hid the engine's
#: own memory use in run-to-run noise.
DRIVER_MEM = "1g"
#: the driver JVM compiles with its quick (C1) tier only: with the optimising
#: tier on, operations kept speeding up for ~30 s of work after the warm-up
#: (an encode from 3.4 s to 2.0 s), so each run's figure depended on how far
#: up that slope it got. C1 code is steady after the first warm operation,
#: at about the same speed there on these small jobs.
JIT_OPTS = "-XX:TieredStopAtLevel=1"


def pin_environment(work: str) -> int:
    """Environment for the Spark session; returns the core count."""
    cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch {JIT_OPTS}"
    submit = [
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ]
    os.environ.update(
        {
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_LOCAL_DIR": local,
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit),
        }
    )
    return cpus


def jvm_heap(spark) -> dict[str, int]:
    """Bytes of the driver JVM's heap: ``committed``, and per heap memory
    pool (eden, survivor, old) its peak used size since the JVM started,
    read from the pools' MX beans through the gateway. In local mode every
    task runs in this heap."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    out = {"committed": int(mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted())}
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            out[str(pool.getName())] = int(pool.getPeakUsage().getUsed())
    return out


def stop_spark(spark, wait_s: float = 60.0) -> None:
    """Stop the session, the JVM behind it and every Python worker it
    forked, and wait until each process has ended."""
    from pyspark import SparkContext

    from spans import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=wait_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + wait_s
    while True:
        alive = [p for p in kids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import learn_to_compress_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    cpus = pin_environment(work)
    try:
        return _run(args, cpus, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cpus: int, work: str, t_start: float) -> int:
    from metrics import END_TO_END, PER_LAYER, end_to_end, per_layer, workload_figures
    from spans import RssSampler, Tracer
    from workloads import WORKLOADS, Run, query_calls

    from learn_to_compress_spark.sources.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    with RssSampler() as rss:
        with tracer.span("session.start"):
            spark = get_spark(f"local[{cpus}]")
        try:
            run = Run(spark, cpus, args.seed, args.seconds, tracer, work, t_start)
            WORKLOADS[args.workload](run)
            heap = jvm_heap(spark)
        finally:
            stop_spark(spark)
        # the pre-touched heap is resident at its committed size all run
        # long; count its peak use instead, so heap growth shows
        heap_peak = sum(v for k, v in heap.items() if k != "committed")
        peak = rss.peak - heap["committed"] + heap_peak
    probe_s = None
    if args.trace:
        # engine-free drift probe: recognises a contended window; not gated.
        # It costs ~5 s with its input, too much to pay on every timed run.
        from bench_scaling import _probe_work

        probe_s = _probe_work(0)

    calls = query_calls(run)
    figures = workload_figures(run, peak)
    for name, (value, unit, n) in figures.items():
        print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "store_digests": run.digests,
        "distinct_digests": len(set(run.digests)),
        "distinct_ratios": len(set(run.ratios)),
        "probe_encode_1t_s": probe_s,
        "baseline_s": [round(x, 4) for x in run.baseline_s],
        "rss_peak_mb": round(rss.peak / 2**20, 1),
        "jvm_heap_mb": {k: round(v / 2**20, 1) for k, v in heap.items()},
        "op_s": {k: [round(o["s"], 4) for o in run.ops if o["kind"] == k]
                 for k in dict.fromkeys(o["kind"] for o in run.ops)},
        "query_s": {k: [round(c["s"], 4) for c in calls if c["kind"] == k]
                    for k in dict.fromkeys(c["kind"] for c in calls)},
    }
    if args.trace:
        metrics, units = per_layer(run, probe_s), PER_LAYER
        path = os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-seed{args.seed}.json")
        detail["trace_file"] = os.path.relpath(path, ROOT)
        detail["layer_detail"] = run.detail
        tracer.dump(path, {"workload": args.workload, "seed": args.seed, "cpus": cpus,
                           "self_s": tracer.self_times(), "metrics": metrics,
                           "detail": run.detail})
    else:
        metrics, units = end_to_end(run, peak), END_TO_END
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and run.attempted > 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
