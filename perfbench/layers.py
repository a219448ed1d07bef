"""Per-layer metrics of a traced run, from spans and the Spark event log.

Every workload reports every metric; a layer the workload does not reach
reports 0. Times and counts are per measured op (mean over the run's ops)
unless the name says otherwise; ``scd2.<op>.*`` are medians over the
reads of that kind.
"""

from __future__ import annotations

import statistics
from pathlib import Path

from perfbench.trace import SpanTree, Tracer, read_event_log, union_length

GENERIC = ("jobs", "stages", "tasks", "task_busy_s", "shuffle_read_bytes",
           "shuffle_write_bytes", "spill_bytes", "driver_gap_s", "utilization")
SCD2_OPS = ("latest", "history", "changed_since", "as_of")
SCD2_FIELDS = ("plan_s", "exec_s", "jobs", "files_read", "bytes_read",
               "rows_scanned_per_row_returned", "shuffle_bytes")
STREAM_DURATIONS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
                    "query_planning_ms": "queryPlanning", "get_batch_ms": "getBatch",
                    "wal_commit_ms": "walCommit"}

# name -> unit, in report order
UNITS: dict[str, str] = {
    "session.start_s": "s", "input.generate_s": "s", "warmup_s": "s",
    "engine.load.wall_s": "s", "engine.refresh.wall_s": "s", "engine.self_s": "s",
    "engine.batches": "count", "engine.jobs_per_batch": "count",
    "store.write_batch.calls": "count", "store.write_batch.wall_s": "s",
    "store.write_batch.jobs": "count", "store.write_batch.rows_in": "rows",
    "store.write_batch.rows_written": "rows", "store.write_batch.useful_ratio": "ratio",
    "store.write_batch.files_added": "count", "store.write_batch.bytes_added": "B",
    "store.compact.calls": "count", "store.compact.wall_s": "s",
    "store.compact.files_in": "count", "store.compact.files_out": "count",
    "store.compact.bytes_rewritten": "B",
    "store.materialize_current.calls": "count", "store.materialize_current.wall_s": "s",
    "store.materialize_current.bytes_written": "B",
    "store.table_files": "count", "store.scan.plan_s": "s",
    **{f"scd2.{o}.{f}": u for o in SCD2_OPS for f, u in zip(
        SCD2_FIELDS, ("s", "s", "count", "count", "B", "ratio", "B"))},
    "corpus.rows_in": "rows", "corpus.rows_out": "rows", "corpus.keep_ratio": "ratio",
    "corpus.checkpoint_tracked.calls": "count", "corpus.checkpoint_tracked.wall_s": "s",
    "artifacts.unreleased": "count",
    "stream.batches": "count",
    **{f"stream.batch.{k}": "ms" for k in STREAM_DURATIONS},
    "stream.compaction_batch_s": "s", "stream.plain_batch_s": "s",
    "stream.jobs_per_batch": "count", "stream.zone_files": "count", "stream.zone_bytes": "B",
    "stream.cached_blocks_after": "count",
    **{f"{layer}.{g}": ("s" if g.endswith("_s") else "B" if g.endswith("bytes")
                        else "ratio" if g == "utilization" else "count")
       for layer in ("engine", "store", "scd2", "corpus", "stream") for g in GENERIC},
    "driver.peak_rss_mb": "MB", "trace.op_p50_s": "s", "trace.layer_share": "ratio",
}


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def layer_metrics(tracer: Tracer, event_log: Path, cores: int, run: dict) -> dict:
    """``run`` carries what only the runner knows: setup times, input
    sizes and resource counts after the run."""
    jobs = read_event_log(event_log)
    tree = SpanTree(tracer.spans, jobs, cores)
    ops = [s for s in tracer.spans if s.name == "op"]
    n = max(1, len(ops))
    in_op = set()
    for o in ops:
        in_op.update(d.id for d in tree.descendants(o))
    measured = [s for s in tracer.spans if s.id in in_op]

    def spans(name):
        return [s for s in measured if s.name == name]

    def layer(prefix):
        return tree.outermost([s for s in measured if s.name.split(".")[0] == prefix])

    def per_op(x):
        return x / n

    def c(ss, key):
        return sum(s.counters.get(key, 0) for s in ss)

    m: dict[str, float] = {k: 0.0 for k in UNITS}
    m["session.start_s"] = run["session_start_s"]
    m["input.generate_s"] = run["generate_s"]
    m["warmup_s"] = run["warmup_s"]

    # engine: spans around run_load / run_refresh; children are store
    # calls and the distributed fetch+flatten builder
    eng = layer("engine")
    batches = len(spans("http.fetch_and_flatten"))
    m["engine.load.wall_s"] = per_op(sum(s.wall for s in spans("engine.load")))
    m["engine.refresh.wall_s"] = per_op(sum(s.wall for s in spans("engine.refresh")))
    m["engine.self_s"] = per_op(sum(tree.self_time(s) for s in eng))
    m["engine.batches"] = per_op(batches)
    eng_jobs = {j.id for s in eng for j in tree.jobs_under(s)}
    m["engine.jobs_per_batch"] = len(eng_jobs) / batches if batches else 0.0

    wb = spans("store.write_batch")
    m["store.write_batch.calls"] = per_op(len(wb))
    m["store.write_batch.wall_s"] = per_op(sum(s.wall for s in wb))
    m["store.write_batch.jobs"] = per_op(len({j.id for s in wb for j in tree.jobs_under(s)}))
    for k in ("rows_in", "rows_written", "files_added", "bytes_added"):
        m[f"store.write_batch.{k}"] = per_op(c(wb, k))
    m["store.write_batch.useful_ratio"] = c(wb, "rows_written") / c(wb, "rows_in") if c(wb, "rows_in") else 0.0
    cp = spans("store.compact")
    m["store.compact.calls"] = per_op(len(cp))
    m["store.compact.wall_s"] = per_op(sum(s.wall for s in cp))
    for k in ("files_in", "files_out", "bytes_rewritten"):
        m[f"store.compact.{k}"] = per_op(c(cp, k))
    mc = spans("store.materialize_current")
    m["store.materialize_current.calls"] = per_op(len(mc))
    m["store.materialize_current.wall_s"] = per_op(sum(s.wall for s in mc))
    m["store.materialize_current.bytes_written"] = per_op(c(mc, "bytes_written"))
    m["store.table_files"] = _median(c([o], "table_files") for o in ops)
    m["store.scan.plan_s"] = _median(s.wall for s in spans("store.scan"))

    for op in SCD2_OPS:
        reads = spans(f"scd2.{op}")
        rows = []
        for s in reads:
            t = tree.totals([s])
            rows.append({
                "plan_s": s.counters.get("plan_s", 0.0),
                "exec_s": s.counters.get("exec_s", 0.0),
                "jobs": t["jobs"],
                "files_read": s.counters.get("files_read", 0),
                "bytes_read": t["input_bytes"],
                "rows_scanned_per_row_returned": t["input_records"] / max(1, s.counters.get("rows_returned", 0)),
                "shuffle_bytes": t["shuffle_write_bytes"],
            })
        for f in SCD2_FIELDS:
            m[f"scd2.{op}.{f}"] = _median(r[f] for r in rows)

    e2e = spans("corpus.e2e")
    m["corpus.rows_in"] = run.get("corpus_rows_in", 0)
    m["corpus.rows_out"] = per_op(c(e2e, "rows_out"))
    m["corpus.keep_ratio"] = m["corpus.rows_out"] / m["corpus.rows_in"] if m["corpus.rows_in"] else 0.0
    ct = spans("corpus.checkpoint_tracked")
    m["corpus.checkpoint_tracked.calls"] = per_op(len(ct))
    m["corpus.checkpoint_tracked.wall_s"] = per_op(sum(s.wall for s in ct))
    m["artifacts.unreleased"] = run["artifacts_unreleased"]

    runs = spans("stream.run")
    batches_s = [s for s in measured if s.name == "stream.batch"]
    m["stream.batches"] = per_op(len(batches_s))
    progress = [p for s in runs for p in s.counters.get("progress", []) if p["numInputRows"] > 0]
    for k, key in STREAM_DURATIONS.items():
        m[f"stream.batch.{k}"] = _median(p["durationMs"].get(key, 0) for p in progress)
    every = run.get("compact_every") or 0
    comp = [p for p in progress if every and p["batchId"] > 0 and p["batchId"] % every == 0]
    plain = [p for p in progress if p not in comp]
    m["stream.compaction_batch_s"] = _median(p["durationMs"]["triggerExecution"] / 1000 for p in comp)
    m["stream.plain_batch_s"] = _median(p["durationMs"]["triggerExecution"] / 1000 for p in plain)
    sjobs = {j.id for s in batches_s for j in tree.jobs_under(s)}
    m["stream.jobs_per_batch"] = len(sjobs) / len(batches_s) if batches_s else 0.0
    m["stream.zone_files"] = per_op(c(runs, "zone_files"))
    m["stream.zone_bytes"] = per_op(c(runs, "zone_bytes"))
    m["stream.cached_blocks_after"] = run["cached_blocks_after"]

    for prefix in ("engine", "store", "scd2", "corpus", "stream"):
        t = tree.totals(layer(prefix))
        for g in GENERIC:
            m[f"{prefix}.{g}"] = t[g] if g == "utilization" else per_op(t[g])

    m["driver.peak_rss_mb"] = run["peak_rss_mb"]
    m["trace.op_p50_s"] = _median(s.wall for s in ops)
    covered = sum(union_length([(d.start, d.end) for d in tree.children.get(o.id, [])], o.start, o.end)
                  for o in ops)
    m["trace.layer_share"] = covered / sum(o.wall for o in ops) if ops else 0.0
    return m


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the package's layer entry points that the benchmark does not
    call itself (the engine calls them): store methods on the class, the
    distributed fetch builder, and the corpus DAG's tracked checkpoints."""
    from ctcityscraper_spark.engine import engine
    from ctcityscraper_spark.operators import artifacts
    from ctcityscraper_spark.sources.store import ParquetStore

    def files_of(store, table):
        return {p: Path(p).stat().st_size for p in store.list_files(table)}

    def wb_before(args, kwargs):
        store, table = args[0], args[1]
        return files_of(store, table)

    def wb_after(span, before, args, kwargs, result):
        after = files_of(args[0], args[1])
        new = [p for p in after if p not in before]
        written, skipped = result
        tracer.add(span, rows_in=written + skipped, rows_written=written,
                   files_added=len(new), bytes_added=sum(after[p] for p in new))

    def compact_before(args, kwargs):
        store, table = args[0], args[1]
        only = kwargs.get("only_files", args[2] if len(args) > 2 else None)
        files = sorted(only if only is not None else store.list_files(table))
        return len(files), sum(Path(f).stat().st_size for f in files)

    def compact_after(span, before, args, kwargs, result):
        if before[0] > 1:  # compact() is a no-op on <= 1 file
            tracer.add(span, files_in=before[0], files_out=result, bytes_rewritten=before[1])

    def mc_after(span, before, args, kwargs, result):
        store, table = args[0], args[1]
        snap = store.snapshot_path(table)
        tracer.add(span, bytes_written=sum(p.stat().st_size for p in snap.rglob("*.parquet")))

    tracer.wrap(ParquetStore, "write_batch", "store.write_batch", wb_before, wb_after)
    tracer.wrap(ParquetStore, "compact", "store.compact", compact_before, compact_after)
    tracer.wrap(ParquetStore, "materialize_current", "store.materialize_current", after=mc_after)
    tracer.wrap(ParquetStore, "scan", "store.scan")
    tracer.wrap(ParquetStore, "current_snapshot", "store.current_snapshot")
    tracer.wrap(engine, "fetch_and_flatten_distributed", "http.fetch_and_flatten")
    tracer.wrap(artifacts, "checkpoint_tracked", "corpus.checkpoint_tracked")
