"""The benchmark's workloads. Each drives the package only through its
public functions, one closed-loop client in one process.

A workload has three parts:

- ``setup(ctx)``: generate the seeded inputs.
- ``op(ctx, i)``: one timed operation. Consuming the result is part of it.
  It returns a record with what ``verify`` needs.
- ``verify(ctx, rec)``: check the operation's output, outside the timed
  region. Returns the number of failed checks.
"""

from __future__ import annotations

import json
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import functions as F

from perfbench import inputs as I


@dataclass
class Ctx:
    spark: object
    seed: int
    work: Path
    state: Path  # survives runs: digests recorded per seed
    tracer: object
    log: list = field(default_factory=list)

    def fail(self, msg: str) -> int:
        self.log.append(f"FAIL {msg}")
        return 1


def _file_stats(root: Path) -> tuple[int, int]:
    files = [p for p in Path(root).rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def _stable_digest(ctx: Ctx, key: str, digest: str) -> int:
    """Compare against the digest an earlier run of this seed recorded."""
    path = ctx.state / "digests.json"
    known = json.loads(path.read_text()) if path.exists() else {}
    k = f"{key}/seed={ctx.seed}"
    if k in known:
        return 0 if known[k] == digest else ctx.fail(f"{k}: digest {digest} != {known[k]}")
    known[k] = digest
    path.write_text(json.dumps(known, indent=1, sort_keys=True))
    return 0


def _digest_rows(rows) -> str:
    import hashlib

    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


# =============================================================== ingest_read

# per cycle: 10 reads, in a seeded order
_READ_MIX = ["history"] * 6 + ["latest", "changed_since", "changed_since", "as_of"]


def _spark_digest(df, cols):
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    return df.agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("d"))


class IngestRead:
    """The write path, then the read path over what it wrote.

    Leg 1: load a seeded offline source through ``engine.run_load`` in
    micro-batches, then refresh it ``ROUNDS`` times through
    ``engine.run_refresh`` (hash dedup, compaction, latest-state snapshot).
    Leg 2: a seeded mix of SCD2 reads over the ingested ``parcels`` table
    (``ParquetStore.scan`` + ``operators.scd2``): ``history(entity)`` 6 in
    10, as in a property-history lookup, ``current`` 1, ``changed_since``
    2 and ``as_of`` 1. One op = both legs on a fresh store."""

    TABLE = "parcels"
    N_ENTRIES = 1_000
    BATCH = 500
    ROUNDS = 2

    def _ingest(self, ctx: Ctx, data_dir: Path) -> dict:
        from ctcityscraper_spark.engine.engine import run_load, run_refresh
        from ctcityscraper_spark.sources.contracts import ResolvedParams
        from ctcityscraper_spark.sources.store import ParquetStore

        store = ParquetStore(ctx.spark, data_dir, "bench")
        src = I.parcel_source()
        ids = list(range(self.N_ENTRIES))
        with ctx.tracer.span("engine.load"):
            load = run_load(
                ctx.spark, store, src,
                ResolvedParams("bench", I.source_url(ctx.seed, 0), entry_ids=ids),
                batch_size=self.BATCH,
            )
        refreshes, starts = [], []
        for r in range(1, self.ROUNDS + 1):
            # rows of round r are stamped after this instant
            starts.append(datetime.now(timezone.utc).replace(tzinfo=None))
            with ctx.tracer.span("engine.refresh"):
                refreshes.append(
                    run_refresh(
                        ctx.spark, store, src,
                        ResolvedParams("bench", I.source_url(ctx.seed, r)),
                        batch_size=self.BATCH, materialize_current=I.PARCEL_KEYS,
                    )
                )
        return {"store": store, "ids": ids, "load": load, "refreshes": refreshes,
                "round_starts": starts}

    def _read_plan(self, ctx: Ctx, rec: dict) -> list[tuple[str, object]]:
        """Seeded reads: history of a changed entity half the time (long
        histories), of any entity otherwise; cutoffs at refresh rounds."""
        rng = random.Random(I._h(ctx.seed, "reads"))
        mix = list(_READ_MIX)
        rng.shuffle(mix)
        ids, starts = rec["ids"], rec["round_starts"]
        changed = I.changed_entries(ctx.seed, 1, ids) + I.changed_entries(ctx.seed, 2, ids)
        plan = []
        for kind in mix:
            if kind == "history":
                pool = changed if changed and rng.random() < 0.5 else ids
                plan.append((kind, I.parcel_uuid(ctx.seed, rng.choice(pool))))
            elif kind == "latest":
                plan.append((kind, None))
            else:
                plan.append((kind, rng.choice(starts)))
        return plan

    def _read(self, ctx: Ctx, store, kind: str, arg) -> dict:
        from ctcityscraper_spark.operators import scd2

        with ctx.tracer.span(f"scd2.{kind}") as s:
            t0 = time.perf_counter()
            df = store.scan(self.TABLE)
            if kind == "history":
                view, cols = scd2.history(df, entity=arg), ["uuid", "row_hash", "version"]
            elif kind == "latest":
                view, cols = scd2.current(df), ["uuid", "row_hash"]
            elif kind == "changed_since":
                view, cols = scd2.changed_since(df, arg), ["uuid", "row_hash"]
            else:
                view, cols = scd2.as_of(df, arg), ["uuid", "row_hash"]
            agg = _spark_digest(view, cols)
            if s is not None:
                agg._jdf.queryExecution().executedPlan()  # split plan from exec
                plan_s = time.perf_counter() - t0
            row = agg.collect()[0]
            wall = time.perf_counter() - t0
            if s is not None:
                ctx.tracer.add(s, plan_s=plan_s, exec_s=wall - plan_s,
                               rows_returned=row.n, files_read=len(df.inputFiles()))
        return {"kind": kind, "arg": arg, "n": row.n, "d": row.d, "wall": wall}

    def setup(self, ctx: Ctx):
        """Inputs are a pure function of (seed, round, entry id): nothing
        to generate up front."""

    def op(self, ctx: Ctx, i: int) -> dict:
        t0 = time.perf_counter()
        rec = self._ingest(ctx, ctx.work / f"cycle{i}")
        t1 = time.perf_counter()
        rec["reads"] = [self._read(ctx, rec["store"], k, a) for k, a in self._read_plan(ctx, rec)]
        rec["leg1_s"], rec["leg2_s"] = t1 - t0, time.perf_counter() - t1
        return rec

    def verify(self, ctx: Ctx, rec: dict) -> int:
        store = rec["store"]
        bad = self._verify_ingest(ctx, rec) + self._verify_reads(ctx, rec)
        _, size = _file_stats(store.scope_dir)
        rows = sum(store.scan(t).count() for t in ("parcels", "buildings"))
        rec["store_bytes_per_row"] = size / rows
        rec["table_files"] = sum(len(store.list_files(t)) for t in ("parcels", "buildings"))
        shutil.rmtree(store.data_dir, ignore_errors=True)
        return bad

    def _verify_ingest(self, ctx: Ctx, rec: dict) -> int:
        """Engine counters equal the generator's prediction; ``current``
        equals the snapshot and the generator's latest values."""
        from ctcityscraper_spark.operators.scd2 import current

        seed, ids, store = ctx.seed, rec["ids"], rec["store"]
        n_build = sum(I.n_buildings(seed, e) for e in ids)
        bad = 0
        load = rec["load"]
        if (load.scraped, load.errors, load.rows_written) != (len(ids), 0, len(ids) + n_build):
            bad += ctx.fail(f"load stats {load}")
        for r, st in enumerate(rec["refreshes"], 1):
            want = I.expected_refresh_rows(seed, r, ids)
            if (st.rows_written, st.rows_skipped) != want:
                bad += ctx.fail(f"refresh {r}: written/skipped {(st.rows_written, st.rows_skipped)} != {want}")
        want_vals = I.expected_current_values(seed, len(rec["refreshes"]), ids)
        pairs = ("uuid", "assessed_value")
        cur = dict(current(store.scan("parcels")).select(*pairs).collect())
        snap = dict(store.current_snapshot("parcels").select(*pairs).collect())
        if cur != want_vals:
            bad += ctx.fail(f"current parcels: {len(cur)} rows, expected {len(want_vals)} with generator values")
        if snap != cur:
            bad += ctx.fail("parcels snapshot differs from current()")
        n_cur_b = current(store.scan("buildings"), key="building_key").count()
        n_snap_b = store.current_snapshot("buildings").count()
        if not n_cur_b == n_snap_b == n_build:
            bad += ctx.fail(f"buildings current {n_cur_b} / snapshot {n_snap_b} != {n_build}")
        return bad

    def _verify_reads(self, ctx: Ctx, rec: dict) -> int:
        """Every read against DuckDB running the reference SQL shapes
        (W1 latest, W4 history, W5 changed-since, and as-of) over the same
        parquet files."""
        import duckdb

        files = sorted(rec["store"].list_files(self.TABLE))
        w = "OVER (PARTITION BY uuid ORDER BY scraped_at"

        def digest(cols):
            key = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
            return f"count(*), coalesce(sum(('0x' || substring(md5({key}), 1, 8))::BIGINT), 0)"

        con = duckdb.connect()
        bad = 0
        try:
            con.execute("SET TimeZone='UTC'")
            con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet({files!r})")
            for r in rec["reads"]:
                kind, arg = r["kind"], r["arg"]
                if kind == "history":
                    sql = f"""SELECT {digest(['uuid', 'row_hash', 'version'])} FROM (
                        SELECT *, lag(row_hash) {w}) AS prev, row_number() {w}) AS version
                        FROM t WHERE uuid = ?) WHERE prev IS NULL OR row_hash != prev"""
                elif kind == "changed_since":
                    sql = f"""SELECT {digest(['uuid', 'row_hash'])} FROM (
                        SELECT *, lag(row_hash) {w}) AS prev FROM t)
                        WHERE scraped_at >= ?::TIMESTAMPTZ AND prev IS NOT NULL
                          AND row_hash != prev"""
                else:
                    where = "" if kind == "latest" else "WHERE scraped_at <= ?::TIMESTAMPTZ"
                    sql = f"""SELECT {digest(['uuid', 'row_hash'])} FROM (
                        SELECT * FROM t {where} QUALIFY row_number() {w} DESC) = 1)"""
                params = [] if arg is None else [arg if kind == "history" else f"{arg.isoformat()}+00:00"]
                want = tuple(con.execute(sql, params).fetchone())
                if (r["n"], r["d"]) != want:
                    bad += ctx.fail(f"{kind}({arg}): spark (n, digest) {(r['n'], r['d'])} != duckdb {want}")
                if r["n"] == 0 and kind != "as_of":
                    bad += ctx.fail(f"{kind}({arg}) returned no rows")
        finally:
            con.close()
        return bad

    def report(self, recs: list[dict]) -> dict:
        med = lambda xs: statistics.median(list(xs))
        reads = [r for rec in recs for r in rec["reads"]]
        ts = sorted(r["wall"] for r in reads)
        out = {
            "load_entries_per_s": (self.N_ENTRIES / med(
                r["load"].elapsed_sec for r in recs), "entries/s"),
            "refresh_entries_per_s": (self.N_ENTRIES * self.ROUNDS / med(
                sum(s.elapsed_sec for s in r["refreshes"]) for r in recs), "entries/s"),
            "store_bytes_per_row": (med(r["store_bytes_per_row"] for r in recs), "B/row"),
            "read_p50_s": (med(ts), "s"),
            # only the top sample lies beyond this, not ten: a run reads 10 times
            "read_p90_s": (ts[min(len(ts) - 1, int(0.9 * len(ts)))], "s"),
        }
        for kind in ("latest", "history", "changed_since", "as_of"):
            out[f"{kind}_p50_s"] = (med(r["wall"] for r in reads if r["kind"] == kind), "s")
        return out


# ============================================================== corpus_prep


# compaction at batch 1, so one plain and one compacting batch
STREAM_KW = dict(
    compact_every=1, quality_gate=True, dsir_gate=True, dsir_target="lang = 'en'"
)
STREAM_BATCHES = 2


class CorpusPrep:
    """The corpus-prep DAG both ways on one seeded corpus: the batch query
    ``corpus_e2e_prep`` over all documents, then ``streaming_corpus_prep``
    over a seeded quarter of them delivered as availableNow micro-batches.
    One op = one batch run followed by one stream run."""

    N_DOCS = 1_000
    compact_every = STREAM_KW["compact_every"]

    def setup(self, ctx: Ctx):
        self.rows, self.planted = I.make_documents(ctx.seed, self.N_DOCS)
        I.write_documents(str(ctx.work / "sf" / "documents.parquet"), self.rows)
        rng = random.Random(I._h(ctx.seed, "quarter"))
        self.stream_rows = sorted(rng.sample(self.rows, len(self.rows) // 4))

    def _batch(self, ctx: Ctx):
        from ctcityscraper_spark.plans.queries import QUERIES

        with ctx.tracer.span("corpus.e2e") as s:
            rows = QUERIES["corpus_e2e_prep"].fn(ctx.spark, str(ctx.work / "sf")).collect()
            ctx.tracer.add(s, rows_out=len({r.doc_id for r in rows}))
        return rows

    def _stream(self, ctx: Ctx, i: int) -> dict:
        from ctcityscraper_spark.streaming.events import (
            stream_from_directory,
            streaming_corpus_prep,
        )

        d = ctx.work / f"stream{i}"
        sizes = I.write_stream_batches(str(d / "in"), self.stream_rows, STREAM_BATCHES)
        t0 = time.perf_counter()
        with ctx.tracer.span("stream.run") as s:
            stream = stream_from_directory(
                ctx.spark, str(d / "in" / "b*"), I.DOC_SCHEMA, max_files_per_trigger=1
            )
            q = streaming_corpus_prep(stream, str(d / "prep"), str(d / "ckpt"), **STREAM_KW)
            try:
                done = q.awaitTermination(100)
            finally:
                if q.isActive:
                    q.stop()
            progress = list(q.recentProgress)
        wall = time.perf_counter() - t0
        if s is not None:
            n, size = _file_stats(d / "prep")
            ctx.tracer.add(s, zone_files=n, zone_bytes=size)
            s.counters["progress"] = progress
            for p in progress:
                start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                ctx.tracer.add_span("stream.batch", s, start,
                                    start + p["durationMs"]["triggerExecution"] / 1000)
        return {"dir": d, "sizes": sizes, "done": done, "stream_s": wall,
                "batch_durations": [p["durationMs"]["triggerExecution"] / 1000 for p in progress
                                    if p["numInputRows"] > 0]}

    def op(self, ctx: Ctx, i: int) -> dict:
        t0 = time.perf_counter()
        rows = self._batch(ctx)
        batch_s = time.perf_counter() - t0
        rec = self._stream(ctx, i)
        rec.update(rows=rows, leg1_s=batch_s, leg2_s=rec["stream_s"])
        return rec

    def verify(self, ctx: Ctx, rec: dict) -> int:
        bad = 0
        rows = rec.pop("rows")
        if not rows:
            bad += ctx.fail("corpus_e2e_prep returned no rows")
        else:
            kept = {r.doc_id for r in rows}
            leaked = kept & set(self.planted)
            if leaked:
                bad += ctx.fail(f"{len(leaked)} planted duplicates survived dedup")
            if rows[0].n_dup_dropped < len(self.planted):
                bad += ctx.fail(f"n_dup_dropped {rows[0].n_dup_dropped} < {len(self.planted)} planted")
            if rows[0].n_docs_in != len(self.rows):
                bad += ctx.fail(f"n_docs_in {rows[0].n_docs_in} != {len(self.rows)}")
        bad += _stable_digest(ctx, f"corpus_e2e_prep/docs={self.N_DOCS}", _digest_rows(rows))
        spark, d = ctx.spark, rec.pop("dir")
        if not rec["done"]:
            bad += ctx.fail("streaming_corpus_prep did not drain in time")
        else:
            stats = spark.read.parquet(str(d / "prep" / "stats")).collect()
            if sorted(r.n_batch_in for r in stats) != sorted(rec["sizes"]):
                bad += ctx.fail(f"stream stats batch sizes {[r.n_batch_in for r in stats]} != {rec['sizes']}")
            packs = spark.read.parquet(str(d / "prep" / "packs")).collect()
            if not packs:
                bad += ctx.fail("streaming_corpus_prep packed nothing")
            bad += _stable_digest(
                ctx, f"streaming_corpus_prep/docs={len(self.stream_rows)}", _digest_rows(packs))
        shutil.rmtree(d, ignore_errors=True)
        return bad

    def report(self, recs: list[dict]) -> dict:
        return {
            "corpus_prep_s": (statistics.median(r["leg1_s"] for r in recs), "s"),
            "stream_prep_s": (statistics.median(r["stream_s"] for r in recs), "s"),
            "stream_batch_p50_s": (
                statistics.median(b for r in recs for b in r["batch_durations"]), "s"),
        }


WORKLOADS = {
    "ingest_read": IngestRead,
    "corpus_prep": CorpusPrep,
}
