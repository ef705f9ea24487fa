"""End-to-end and per-layer benchmark of the filemeta spool drain and
the MinHash-LSH corpus dedup.

    python3 perfbench/run.py --workload spool_rename --seed 1 --seconds 25 --trace 0

Run from the repository root. Workloads: spool_rename, corpus_dedup.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` also drives
each layer directly and prints the per-layer metrics, writing its spans
to ``.perfbench_out/``. The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``. See
README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("spool_rename", "corpus_dedup")
SPOOL_FILES = 4000
CORPUS_DOCS = 1500
# measured seconds of one round of either workload on the reference
# host (4 cores); the sizes above are chosen to match it
ROUND_S = 6.25


class Context:
    def __init__(self, seed: int, traced: bool, work: str):
        self.seed = seed
        self.work = work
        self.tracer = tracing.Tracer(traced)
        self.problems: list[str] = []
        self.peak_rss_mb = 0.0
        self.spark = None
        self.jobs = None

    def report(self, problems: list[str]) -> None:
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        self.problems += problems

    def sample_rss(self) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, tracing.tree_hwm_mb())


def host_settings() -> None:
    """Spark parallelism from the host's cores and a driver heap sized
    to its memory (the session's defaults, 32 cores and 48g, are not);
    host-local time pinned to UTC so body times repeat across hosts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(total_gb // 4)))}g"
    os.environ["TZ"] = "UTC"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    time.tzset()


def start_session(ctx: Context, layer: dict) -> None:
    local = os.path.join(ctx.work, "spark-local")
    os.makedirs(local)
    t0 = time.perf_counter()
    with ctx.tracer.span("setup.session"):
        from flume_source_spark.session import get_session

        ctx.spark = get_session(
            "perfbench",
            extra_conf={
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
    t1 = time.perf_counter()
    with ctx.tracer.span("setup.registry"):
        from flume_source_spark.registry import load_all

        load_all()
    t2 = time.perf_counter()
    ctx.spark.sparkContext.setLogLevel("ERROR")
    layer["setup.session_s"] = t1 - t0
    layer["setup.registry_s"] = t2 - t1
    ctx.jobs = tracing.JobCounter(ctx.spark)


def stop_session(spark) -> None:
    """Stop the session, then its JVM, and wait until every process the
    session started (the JVM and the Python workers under it) has ended."""
    from pyspark import SparkContext

    children = tracing.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    if not tracing.wait_ended(children, timeout=60):
        print("processes of the session still running after 60 s", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "flume_source_spark")):
        print("flume_source_spark not found next to perfbench/: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    host_settings()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    ctx = Context(args.seed, bool(args.trace), work)
    layer: dict[str, float] = {}
    try:
        start_session(ctx, layer)
        setup_s = tracing.process_age_s()
        metrics, per_layer, attempted, failed = run_workload(ctx, args)
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    per_layer = {**layer, **per_layer}
    if args.trace:
        # a layer the workload does not exercise reads 0
        units = {m["name"]: m["unit"] for m in benchmark_spec()["per_layer"]}
        out = {k: {"value": per_layer.get(k, 0), "unit": u} for k, u in units.items()}
        ctx.tracer.write(
            os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-trace.json"),
            per_layer,
        )
    else:
        metrics["setup_s"] = (setup_s, "s")
        metrics["peak_rss_mb"] = (ctx.peak_rss_mb, "MB")
        out = {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())}
    print(json.dumps({"correct": not ctx.problems, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


def run_workload(ctx: Context, args):
    """Warm up, then run whole rounds. Returns (end-to-end, per-layer,
    attempted, failed).

    The round count is ``--seconds`` over the workload's nominal round
    time on the reference host, not a deadline: the JIT keeps speeding
    the calls up for several rounds, so a count that depended on the
    measured speed would make runs that fit one more round read faster."""
    if args.workload == "corpus_dedup":
        from corpus import CorpusWorkload

        wl = CorpusWorkload(ctx, CORPUS_DOCS)
    else:
        from spool import SpoolWorkload

        wl = SpoolWorkload(ctx, SPOOL_FILES)
        if args.trace:
            wl.listener = trace_listener(ctx)
    wl.warmup()
    attempted = failed = 0
    for r in range(max(1, round(args.seconds / ROUND_S))):
        a, f = wl.round(r)
        attempted += a
        failed += f
    a, f = wl.known_faults()
    attempted += a
    failed += f
    if args.trace:
        wl.layers()
    return wl.end_to_end(), wl.per_layer(), attempted, failed


def trace_listener(ctx: Context):
    listener = tracing.progress_listener()
    ctx.spark.streams.addListener(listener)
    return listener


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
