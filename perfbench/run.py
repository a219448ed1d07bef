"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Fits the Spark session
to a 4-core host from outside the package (``local[4]``, 4 shuffle
partitions, driver heap below physical RAM, local dirs and temp files
inside the checkout, ``PYTHONPATH`` so Python workers import the package),
sets up the workload, runs its operation in a closed loop for ``--seconds``
of timed work, checks every output outside the timed region, and prints as
its last line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the Spark event log is on, spans wrap each layer's calls, and the metrics
are the per-layer ones (see ``layers.py``). Lines before the last one are
human-readable: the workload's named metrics with units, and any failure.
Exits non-zero when an output is wrong or the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CORES = 4
SHUFFLE_PARTITIONS = 4
# driver heap: a quarter of physical RAM, at most 4 GiB (the package's
# session default is sized for a 128 GiB host)
MEM_BYTES = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
DRIVER_MEMORY_MB = min(4096, MEM_BYTES // 4 // (1 << 20))


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: Path) -> None:
    """Environment the JVM and its Python workers inherit; set before the
    session starts."""
    (work / "local").mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = f"{DRIVER_MEMORY_MB}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()


def _session_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(work / "eventlog")
        # one plain JSON-lines file
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def _warm_up(spark) -> None:
    """Start the Python workers and run the first jobs every workload
    needs (a pandas UDF, a shuffle, a parquet round trip). Plan-specific
    code generation and JIT stay in the measured op: a fresh process
    running one load or one nightly prep pays them on every run."""
    import pandas as pd

    df = spark.range(0, 20_000, numPartitions=CORES)
    df = df.mapInPandas(lambda it: (pd.DataFrame({"id": b["id"] * 2}) for b in it), "id long")
    out = df.groupBy((df.id % 97).alias("k")).count()
    path = str(Path(os.environ["TMPDIR"]) / "warmup.parquet")
    out.write.mode("overwrite").parquet(path)
    if spark.read.parquet(path).count() != 97:
        raise RuntimeError("warm-up job returned a wrong count")


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not (ROOT / "ctcityscraper_spark" / "__init__.py").is_file():
        print(f"package ctcityscraper_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = ROOT / "perfbench" / ".work"
    work = base / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    try:
        return _run(args, WORKLOADS[args.workload](), base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, base: Path, work: Path) -> int:
    from perfbench.trace import NullTracer, Tracer
    from perfbench.workloads import Ctx

    tracer = Tracer(run_id=work.name) if args.trace else NullTracer()
    if args.trace:
        from perfbench.layers import install_wrappers

        install_wrappers(tracer)
    spark = None
    try:
        # ---------------------------------------------------------- setup
        from ctcityscraper_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{CORES}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=_session_conf(work, bool(args.trace)),
        )
        session_s = time.perf_counter() - t0
        if args.trace:
            tracer.sc = spark.sparkContext
        ctx = Ctx(spark=spark, seed=args.seed, work=work, state=base, tracer=tracer)
        t1 = time.perf_counter()
        with tracer.span("input.generate"):
            wl.setup(ctx)
        generate_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        with tracer.span("warmup"):
            _warm_up(spark)
        warmup_s = time.perf_counter() - t2
        setup_s = time.perf_counter() - t0

        # ------------------------------------------------------- measure
        recs, failed, timed = [], 0, 0.0
        while not recs or timed < args.seconds:
            with tracer.span("op") as op_span:
                t = time.perf_counter()
                rec = wl.op(ctx, len(recs))
                rec["wall"] = time.perf_counter() - t
            timed += rec["wall"]
            bad = wl.verify(ctx, rec)  # outside the timed region
            if args.trace and "table_files" in rec:
                tracer.add(op_span, table_files=rec["table_files"])
            failed += min(1, bad)
            recs.append(rec)

        from ctcityscraper_spark.operators.artifacts import tracked_count

        run = {
            "session_start_s": session_s, "generate_s": generate_s, "warmup_s": warmup_s,
            "artifacts_unreleased": tracked_count(),
            "cached_blocks_after": spark.sparkContext._jsc.getPersistentRDDs().size(),
            "corpus_rows_in": getattr(wl, "N_DOCS", 0),
            "compact_every": getattr(wl, "compact_every", 0),
        }
        med = lambda key: statistics.median(r[key] for r in recs)
        e2e = {
            "setup_s": (setup_s, "s"),
            "cycle_s": (med("wall"), "s"),
        }
        run["peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        named = {"leg1_s": (med("leg1_s"), "s"), "leg2_s": (med("leg2_s"), "s"),
                 **wl.report(recs), "peak_rss_mb": (run["peak_rss_mb"], "MB")}
    finally:
        if spark is not None:
            _stop_spark(spark)
        if args.trace:
            tracer.unwrap_all()

    attempted = len(recs)
    for line in ctx.log:
        print(line)
    print(f"workload {args.workload} seed {args.seed}: {attempted} ops, {failed} failed")
    for name, (v, unit) in {**e2e, **named}.items():
        print(f"  {name:28s} {v:14.4f} {unit}")
    print(f"  {'failed_op_ratio':28s} {failed / attempted:14.4f} ratio")
    print(f"  {'setup: session/inputs/warmup':28s} {session_s:.2f} / {generate_s:.2f} / {warmup_s:.2f} s")

    if args.trace:
        from perfbench.layers import UNITS, layer_metrics

        tracer.dump(base / f"spans-{args.workload}-seed{args.seed}.jsonl")
        lm = layer_metrics(tracer, work / "eventlog", CORES, run)
        metrics = {k: {"value": lm[k], "unit": UNITS[k]} for k in UNITS}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
