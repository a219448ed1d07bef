"""ParquetStore — append-only Parquet tables with scope namespacing.

Layout matches the reference exactly (src/engine/database.py:53, 156-158;
README.md:98-116): ``<data_dir>/<scope>/<table>/*.parquet``, append-only,
ZSTD-compressed, schema drift tolerated across files within a table
(union-by-name semantics, database.py:275).

Scale notes:
- Scans are plain ``spark.read.parquet`` on the table directory — column
  pruning and predicate pushdown reach the parquet reader via Catalyst.
- ``existing_hashes`` / ``known_entry_ids`` return DataFrames (distributed),
  not driver-side sets — the reference's in-memory hash set
  (database.py:86-106) becomes a left-anti join at any scale.
- Compaction rewrites only the files of one ingest session (the reference's
  N-batch-files -> 1, database.py:246-288); at cluster scale the same pass is
  a ``repartition`` rewrite sized by bytes, which ``compact`` approximates
  with a target file size.

Schema resolution: every read (``scan``, ``existing_hashes``,
``known_entry_ids``, ``compact``, ``materialize_current``,
``current_snapshot``) hands the reader an explicit schema, so planning a
read launches no Spark job. Spark stores each file's schema as JSON under
the footer key ``org.apache.spark.sql.parquet.row.metadata``; the store
reads that key on the driver with pyarrow and merges the files' schemas by
name in file-name order, with every field nullable — the same fields and
types Spark's ``mergeSchema`` inference (a distributed footer-reading job)
returns. Footers are cached by (path, size, mtime), up to 8192 of them:
files are immutable, and compaction writes new names. The store falls
back to Spark's own ``mergeSchema`` inference when any file lacks the key
(files written by the reference engine's pandas/DuckDB writers), when a
footer is unreadable (a truncated file: the fallback keeps
``tolerate_corrupt`` and the fail-fast default exactly as they were), or
when two files disagree on a column's type or the case of its name.
"""

from __future__ import annotations

import functools
import json
import shutil
import uuid as _uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from ctcityscraper_spark.functions.hashing import stamp_metadata

SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(dt: DataType) -> DataType:
    """Spark's ``asNullable``: file-source schemas are nullable all the way
    down, whatever the writer declared."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


@functools.lru_cache(maxsize=8192)
def _footer_schema(path: str, size: int, mtime_ns: int) -> StructType | None:
    """The Spark schema a parquet file's footer records, or None when the
    file has no Spark key or its footer cannot be read. ``size`` and
    ``mtime_ns`` only key the cache."""
    import pyarrow.parquet as pq

    try:
        raw = (pq.read_metadata(path).metadata or {}).get(SPARK_SCHEMA_KEY)
        return None if raw is None else _as_nullable(StructType.fromJson(json.loads(raw)))
    except (OSError, ValueError, KeyError, TypeError):  # pyarrow's ArrowInvalid is a ValueError
        return None


def footer_merged_schema(files: list[str]) -> StructType | None:
    """Merge the footer schemas of ``files`` by name, in the given order
    (a new column is appended where it first appears). None means "let
    Spark infer": no files, a file without the Spark key or with an
    unreadable footer, or a conflict in a column's type or name case."""
    fields: dict[str, StructField] = {}
    for f in files:
        st = Path(f).stat()
        schema = _footer_schema(f, st.st_size, st.st_mtime_ns)
        if schema is None:
            return None
        for field in schema.fields:
            have = fields.setdefault(field.name.lower(), field)
            if have.name != field.name or have.dataType != field.dataType:
                return None
    return StructType(list(fields.values())) if fields else None


def _data_files(directory: Path) -> list[str]:
    """The files Spark's listing reads from a table or snapshot directory:
    it skips names starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc``)."""
    if not directory.is_dir():
        return []
    return sorted(
        str(p) for p in directory.iterdir()
        if p.is_file() and not p.name.startswith(("_", "."))
    )


class ParquetStore:
    def __init__(self, spark: SparkSession, data_dir: str | Path, scope_key: str):
        self.spark = spark
        self.data_dir = Path(data_dir)
        self.scope_key = scope_key
        self.scope_dir = self.data_dir / scope_key

    # ------------------------------------------------------------------ paths
    def table_path(self, table: str) -> Path:
        return self.scope_dir / table

    def table_exists(self, table: str) -> bool:
        p = self.table_path(table)
        return p.exists() and any(p.glob("*.parquet"))

    def tables(self) -> list[str]:
        if not self.scope_dir.exists():
            return []
        return sorted(
            d.name
            for d in self.scope_dir.iterdir()
            if d.is_dir() and not d.name.startswith("_") and any(d.glob("*.parquet"))
        )

    # ------------------------------------------------------------------ scans
    def _read(
        self, paths: list[str], files: list[str], tolerate_corrupt: bool = False
    ) -> DataFrame:
        """Read ``paths`` with the merged footer schema of ``files`` (the
        data files under them), or with Spark's mergeSchema inference when
        the footers cannot give it."""
        reader = self.spark.read
        if tolerate_corrupt:
            reader = reader.option("ignoreCorruptFiles", "true")
        schema = footer_merged_schema(files)
        if schema is None:
            reader = reader.option("mergeSchema", "true")
        else:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def _read_dir(self, directory: Path, tolerate_corrupt: bool = False) -> DataFrame:
        return self._read([str(directory)], _data_files(directory), tolerate_corrupt)

    def scan(self, table: str, tolerate_corrupt: bool = False) -> DataFrame:
        """Universal table scan (reference S1/S2).

        The schema is the union by name over every file of the table,
        because schema drift across session files is an expected state
        (reference database.py:275). It comes from the files' footers
        without a Spark job (module docstring).

        ``tolerate_corrupt`` sets the per-read ``ignoreCorruptFiles``
        option: a 100 TB lake accumulated over months of ingest WILL
        contain the occasional truncated/bit-rotted file (killed writer,
        storage fault), and the default fail-fast read aborts the whole
        job on the first bad footer. With the flag, corrupt files are
        skipped and the scan returns every readable row — the right
        posture for analytical sweeps over historical data; keep the
        default for correctness-critical reads (dedup state, SCD2
        current) where silently missing rows would corrupt results. The
        option is per-DataFrameReader, so it never leaks into other
        reads the way the session-wide
        ``spark.sql.files.ignoreCorruptFiles`` conf would.
        """
        return self._read_dir(self.table_path(table), tolerate_corrupt)

    def existing_hashes(self, table: str) -> DataFrame:
        """DISTINCT row_hash — the refresh-dedup state (reference P1/J2).

        Column pruning means only the row_hash column is read from parquet.
        """
        if not self.table_exists(table):
            return self.spark.createDataFrame([], "row_hash string")
        return self.scan(table).select("row_hash").distinct()

    def known_entry_ids(self, table: str, column: str) -> DataFrame:
        """DISTINCT entry ids, sorted (reference P2, database.py:218-244).

        The distinct ids are sorted in one partition: the engine collects
        them to the driver anyway, and a global ``orderBy`` would add a
        range-sampling job and a second shuffle."""
        if not self.table_exists(table):
            raise FileNotFoundError(f"no data for table {table!r}")
        return (
            self.scan(table).select(column).distinct().coalesce(1).sortWithinPartitions(column)
        )

    # ------------------------------------------------------------------ sinks
    def append(self, table: str, df: DataFrame) -> None:
        """Append-only parquet sink (reference S3). Never updates in place."""
        df.write.mode("append").option("compression", "zstd").parquet(
            str(self.table_path(table))
        )

    def write_batch(
        self,
        table: str,
        df: DataFrame,
        dedup_against_existing: bool = False,
        extra_exclude: set[str] | None = None,
        scraped_at=None,
    ) -> tuple[int, int]:
        """Stamp metadata, optionally drop content-duplicate rows, append.

        Refresh-mode dedup is the reference's hash anti-join
        (database.py:139-149) expressed distributively: left-anti join against
        the table's DISTINCT row_hash. Returns (written, skipped).

        Preserved reference quirk: the dedup set is ALL historical hashes
        (reference preload_hashes, database.py:86-106), so an entity
        *reverting* to any previous state is dropped as a duplicate and the
        revert never appears in SCD2 history. Parity is intentional; a
        current-state-only dedup would be ``current(scan(table))`` instead of
        ``existing_hashes``.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        stamped = stamp_metadata(df, extra_exclude=extra_exclude, scraped_at=scraped_at)
        if dedup_against_existing and self.table_exists(table):
            existing = self.existing_hashes(table)
            # intra-batch content dupes collapse too (reference adds written
            # hashes to the in-session set, database.py:144-148). AQE picks
            # broadcast vs shuffled anti-join from the runtime size of
            # `existing`; don't hint — the existing-hash side can be huge.
            obs_in, obs_out = Observation(), Observation()
            surviving = (
                stamped.observe(obs_in, F.count(F.lit(1)).alias("n"))
                .dropDuplicates(["row_hash"])
                .join(existing, "row_hash", "left_anti")
                .observe(obs_out, F.count(F.lit(1)).alias("n"))
            )
            # one action: counts ride along with the write via Observations
            self.append(table, surviving)
            incoming, written = obs_in.get["n"], obs_out.get["n"]
            if written == 0:
                self._remove_empty_new_files(table)
            return written, incoming - written
        obs = Observation()
        self.append(table, stamped.observe(obs, F.count(F.lit(1)).alias("n")))
        return obs.get["n"], 0

    def _remove_empty_new_files(self, table: str) -> None:
        """Drop zero-row parquet files left by an all-duplicate append (the
        single-action write can't know the count beforehand)."""
        import pyarrow.parquet as pq

        for f in self.table_path(table).glob("*.parquet"):
            try:
                if pq.ParquetFile(f).metadata.num_rows == 0:
                    f.unlink()
            except Exception:
                continue

    # ------------------------------------------------------ current snapshots
    def snapshot_path(self, table: str) -> Path:
        return self.scope_dir / "_snapshots" / f"{table}_current"

    def materialize_current(
        self, table: str, key: str = "uuid", order: str = "scraped_at"
    ) -> int:
        """Materialize the latest-state view as a parquet snapshot.

        The W1 window over full history is the one per-query cost that grows
        with history length (SCALE.md); refreshing this snapshot at
        compaction time amortizes it — ``current_snapshot`` then reads the
        snapshot directly with zero shuffle. Semantics identical to
        operators.scd2.current by construction. Atomic swap; returns rows.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.scd2 import current

        # the row count rides along with the write: no read-back of tmp
        obs = Observation()
        snap = current(self.scan(table), key=key, order=order).observe(
            obs, F.count(F.lit(1)).alias("n")
        )
        tmp = self.snapshot_path(table).parent / f"_tmp_{table}_{_uuid.uuid4().hex[:8]}"
        snap.write.mode("overwrite").option("compression", "zstd").parquet(str(tmp))
        n = obs.get["n"]
        dest = self.snapshot_path(table)
        if dest.exists():
            shutil.rmtree(dest)
        dest.parent.mkdir(parents=True, exist_ok=True)
        tmp.rename(dest)
        return n

    def current_snapshot(self, table: str) -> DataFrame:
        """Read the materialized latest-state snapshot (no window, no
        shuffle). Raises if never materialized — callers fall back to
        operators.scd2.current over ``scan``."""
        dest = self.snapshot_path(table)
        if not dest.exists():
            raise FileNotFoundError(
                f"no current-snapshot for {table!r}; call materialize_current"
            )
        return self._read_dir(dest)

    # ------------------------------------------------------------- migration
    def rehash_table(self, table: str, extra_exclude: set[str] | None = None) -> int:
        """One-off migration: rewrite ``row_hash`` with the engine-canonical
        scheme, preserving every other column (including ``scraped_at``).

        Needed when adopting tables produced by the reference engine: its
        CPython hash (json.dumps with ', '/': ' separators, str(True) ->
        'True') is deliberately NOT byte-compatible with this engine's
        Spark ``to_json`` canonical hash (functions/hashing.py) — without
        migration the first refresh would see every existing hash as
        unmatched and append one spurious 'changed' version per row. Run
        once per table before the first refresh. Crash-safe in the
        ``compact`` sense: new files land in the table directory before the
        old ones are unlinked. Returns the number of rows rewritten.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from ctcityscraper_spark.functions.hashing import row_hash_col

        files = sorted(self.list_files(table))
        df = self.scan(table)
        data_cols = [c for c in df.columns if c != "row_hash"]
        obs = Observation()
        rehashed = (
            df.select(*data_cols)
            .withColumn("row_hash", row_hash_col(data_cols, extra_exclude))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        tmp = self.table_path(table).parent / f"_rehash_{table}_{_uuid.uuid4().hex[:8]}"
        rehashed.write.mode("overwrite").option("compression", "zstd").parquet(str(tmp))
        for part in sorted(tmp.glob("*.parquet")):
            part.rename(self.table_path(table) / f"rehashed-{_uuid.uuid4().hex}.parquet")
        for f in files:
            Path(f).unlink()
        shutil.rmtree(tmp)
        return obs.get["n"]

    # ------------------------------------------------------------- compaction
    def list_files(self, table: str) -> set[str]:
        return {str(p) for p in self.table_path(table).glob("*.parquet")}

    def compact(
        self,
        table: str,
        only_files: set[str] | None = None,
        target_file_bytes: int = 512 * 1024 * 1024,
    ) -> int:
        """Merge small files -> few files (reference T7, database.py:246-288).

        The reference merges one session's batch files into one file with
        union_by_name. Here: read the given files (or all) with their merged
        schema, rewrite sized by bytes, atomically swap. Returns resulting
        file count.

        NOTE: DataFrames obtained from ``scan()`` *before* compaction pin the
        old file list and will fail on their next action — re-``scan()`` after
        compacting.

        Crash-safety ordering matches the reference (database.py:246-288:
        write the merged data into place BEFORE deleting batch files): the
        compacted parts are renamed into the table directory first, the
        source files unlinked after. A crash in between leaves transient
        duplicate rows — never an empty table with data stranded in the
        hidden tmp dir.
        """
        files = sorted(only_files if only_files is not None else self.list_files(table))
        if len(files) <= 1:
            return len(files)
        total_bytes = sum(Path(f).stat().st_size for f in files)
        n_out = max(1, round(total_bytes / target_file_bytes))
        df = self._read(files, files)
        # one output file needs no shuffle: coalesce(1) narrows the read
        df = df.coalesce(1) if n_out == 1 else df.repartition(n_out)
        tmp = self.table_path(table).parent / f"_compact_{table}_{_uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").option("compression", "zstd").parquet(str(tmp))
        moved = 0
        for part in sorted(tmp.glob("*.parquet")):
            part.rename(self.table_path(table) / f"compacted-{_uuid.uuid4().hex}.parquet")
            moved += 1
        for f in files:
            Path(f).unlink()
        shutil.rmtree(tmp)
        return moved
