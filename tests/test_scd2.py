"""Golden SCD2 query-semantics tests + storage round-trip.

Reproduces the reference's golden contract (tests/test_database.py
TestQueryTimeVersioning :462-562, TestRefreshHelpers :588-661; FIXTURES.md §A
golden scenarios 1-4, 6) and cross-checks every view against DuckDB running
the reference's literal SQL over the same parquet files.
"""

import datetime as dt

import duckdb
import pytest
from pyspark.sql import Row

from ctcityscraper_spark.operators.scd2 import changed_since, current, history

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def write_versions(store, rows_by_time):
    """rows_by_time: list of (scraped_at, [row dicts]) appended in order."""
    for ts, rows in rows_by_time:
        df = store.spark.createDataFrame([Row(**r) for r in rows])
        store.write_batch("properties", df, scraped_at=ts)


@pytest.fixture()
def three_version_store(tmp_store):
    """u1 gets values 100k -> 150k -> 150k (unchanged re-scrape) -> 200k."""
    write_versions(
        tmp_store,
        [
            (T0, [{"uuid": "u1", "pid": 1, "assessment_value": 100000.0}]),
            (T0 + dt.timedelta(days=1), [{"uuid": "u1", "pid": 1, "assessment_value": 150000.0}]),
            (T0 + dt.timedelta(days=2), [{"uuid": "u1", "pid": 1, "assessment_value": 150000.0}]),
            (T0 + dt.timedelta(days=3), [{"uuid": "u1", "pid": 1, "assessment_value": 200000.0}]),
        ],
    )
    return tmp_store


def duck_sql(store, table, sql):
    pattern = f"{store.table_path(table)}/*.parquet"
    con = duckdb.connect()
    try:
        return con.execute(sql.format(scan=f"read_parquet('{pattern}')")).df()
    finally:
        con.close()


class TestAppendOnly:
    def test_double_write_two_rows(self, tmp_store):
        write_versions(
            tmp_store,
            [
                (T0, [{"uuid": "u1", "pid": 1, "v": 1.0}]),
                (T0 + dt.timedelta(days=1), [{"uuid": "u1", "pid": 1, "v": 2.0}]),
            ],
        )
        assert tmp_store.scan("properties").count() == 2

    def test_metadata_stamped(self, tmp_store):
        write_versions(tmp_store, [(T0, [{"uuid": "u1", "pid": 1, "v": 1.0}])])
        row = tmp_store.scan("properties").first()
        assert len(row.row_hash) == 32
        assert row.scraped_at == T0


class TestHistory:
    def test_versions_collapse_and_number(self, three_version_store):
        h = history(three_version_store.scan("properties"), "u1").collect()
        # 4 raw rows; the unchanged re-scrape collapses -> 3 distinct versions
        assert [r.version for r in h] == [1, 2, 4]
        assert [r.assessment_value for r in h] == [100000.0, 150000.0, 200000.0]

    def test_identical_appends_collapse_to_one(self, tmp_store):
        write_versions(
            tmp_store,
            [
                (T0, [{"uuid": "u1", "pid": 1, "v": 1.0}]),
                (T0 + dt.timedelta(days=1), [{"uuid": "u1", "pid": 1, "v": 1.0}]),
            ],
        )
        assert history(tmp_store.scan("properties"), "u1").count() == 1

    def test_matches_reference_sql(self, three_version_store):
        spark_rows = history(three_version_store.scan("properties"), "u1") \
            .select("uuid", "version", "assessment_value").collect()
        ref = duck_sql(
            three_version_store,
            "properties",
            """
            SELECT uuid, version, assessment_value FROM (
                SELECT *,
                    LAG(row_hash) OVER (PARTITION BY uuid ORDER BY scraped_at) AS prev_hash,
                    ROW_NUMBER() OVER (PARTITION BY uuid ORDER BY scraped_at) AS version
                FROM {scan} WHERE uuid = 'u1'
            ) WHERE row_hash != prev_hash OR prev_hash IS NULL ORDER BY version
            """,
        )
        assert [(r.uuid, r.version, r.assessment_value) for r in spark_rows] == [
            tuple(x) for x in ref.itertuples(index=False)
        ]


class TestCurrent:
    def test_latest_state(self, three_version_store):
        c = current(three_version_store.scan("properties")).collect()
        assert len(c) == 1
        assert c[0].assessment_value == 200000.0

    def test_multi_entity(self, tmp_store):
        write_versions(
            tmp_store,
            [
                (T0, [{"uuid": "u1", "pid": 1, "v": 1.0}, {"uuid": "u2", "pid": 2, "v": 5.0}]),
                (T0 + dt.timedelta(days=1), [{"uuid": "u1", "pid": 1, "v": 2.0}]),
            ],
        )
        got = {r.uuid: r.v for r in current(tmp_store.scan("properties")).collect()}
        assert got == {"u1": 2.0, "u2": 5.0}


class TestChangedSince:
    def test_detects_change_ignores_insert_and_unchanged(self, tmp_store):
        write_versions(
            tmp_store,
            [
                (T0, [{"uuid": "u1", "pid": 1, "v": 1.0},
                      {"uuid": "u2", "pid": 2, "v": 5.0},
                      {"uuid": "u3", "pid": 3, "v": 9.0}]),
                # after cutoff: u1 changed, u2 re-scraped unchanged, u4 new insert
                (T0 + dt.timedelta(days=2), [{"uuid": "u1", "pid": 1, "v": 2.0},
                                             {"uuid": "u2", "pid": 2, "v": 5.0},
                                             {"uuid": "u4", "pid": 4, "v": 7.0}]),
            ],
        )
        cutoff = T0 + dt.timedelta(days=1)
        got = changed_since(tmp_store.scan("properties"), cutoff).collect()
        assert [r.uuid for r in got] == ["u1"]

    def test_matches_reference_sql(self, tmp_store):
        write_versions(
            tmp_store,
            [
                (T0, [{"uuid": "u1", "pid": 1, "v": 1.0}]),
                (T0 + dt.timedelta(days=1), [{"uuid": "u1", "pid": 1, "v": 2.0}]),
                (T0 + dt.timedelta(days=2), [{"uuid": "u1", "pid": 1, "v": 3.0}]),
            ],
        )
        cutoff = T0 + dt.timedelta(days=1)
        spark_rows = changed_since(tmp_store.scan("properties"), cutoff) \
            .select("uuid", "v", "scraped_at").collect()
        ref = duck_sql(
            tmp_store,
            "properties",
            f"""
            SELECT uuid, v, scraped_at FROM (
                SELECT *, LAG(row_hash) OVER (PARTITION BY uuid ORDER BY scraped_at) AS prev_hash
                FROM {{scan}}
            )
            WHERE scraped_at >= TIMESTAMP '{cutoff}'
              AND prev_hash IS NOT NULL AND row_hash != prev_hash
            ORDER BY scraped_at DESC
            """,
        )
        assert [(r.uuid, r.v) for r in spark_rows] == [
            (x.uuid, x.v) for x in ref.itertuples(index=False)
        ]


class TestRefreshDedup:
    def test_stable_data_writes_zero(self, tmp_store):
        rows = [{"uuid": "u1", "pid": 1, "v": 1.0}, {"uuid": "u2", "pid": 2, "v": 2.0}]
        df = tmp_store.spark.createDataFrame([Row(**r) for r in rows])
        tmp_store.write_batch("properties", df, scraped_at=T0)
        written, skipped = tmp_store.write_batch(
            "properties", df, dedup_against_existing=True,
            scraped_at=T0 + dt.timedelta(days=1),
        )
        assert (written, skipped) == (0, 2)
        assert tmp_store.scan("properties").count() == 2

    def test_one_changed_stats(self, tmp_store):
        rows = [{"uuid": f"u{i}", "pid": i, "v": float(i)} for i in range(1, 4)]
        df = tmp_store.spark.createDataFrame([Row(**r) for r in rows])
        tmp_store.write_batch("properties", df, scraped_at=T0)
        rows[0]["v"] = 99.0  # change 1 of 3 -> written=1, skipped=2
        df2 = tmp_store.spark.createDataFrame([Row(**r) for r in rows])
        written, skipped = tmp_store.write_batch(
            "properties", df2, dedup_against_existing=True,
            scraped_at=T0 + dt.timedelta(days=1),
        )
        assert (written, skipped) == (1, 2)

    def test_known_entry_ids(self, tmp_store):
        rows = [{"uuid": f"u{i}", "pid": i, "v": 1.0} for i in (3, 1, 2, 2)]
        df = tmp_store.spark.createDataFrame([Row(**r) for r in rows])
        tmp_store.write_batch("properties", df, scraped_at=T0)
        ids = [r.pid for r in tmp_store.known_entry_ids("properties", "pid").collect()]
        assert ids == [1, 2, 3]


class TestRehashMigration:
    def test_reference_style_hashes_migrated(self, tmp_store):
        """Simulate a reference-produced table (incompatible row_hash bytes):
        without migration a refresh re-appends every row; after rehash_table
        the same refresh writes zero."""
        from ctcityscraper_spark.functions.hashing import compute_row_hash

        spark = tmp_store.spark
        rows = [{"uuid": f"u{i}", "pid": i, "v": float(i)} for i in (1, 2, 3)]
        # reference engine hash: CPython json.dumps with ', '/': ' separators
        import hashlib as _hl
        import json as _json

        ref_rows = [
            Row(**r, scraped_at=T0,
                row_hash=_hl.md5(_json.dumps(
                    {k: str(v) for k, v in sorted(r.items())}).encode()).hexdigest())
            for r in rows
        ]
        tmp_store.append("properties", spark.createDataFrame(ref_rows))

        migrated = tmp_store.rehash_table("properties")
        assert migrated == 3
        got = {r.uuid: r.row_hash for r in tmp_store.scan("properties").collect()}
        for r in rows:
            assert got[r["uuid"]] == compute_row_hash(r)  # engine-canonical now
        # scraped_at preserved through migration
        assert {r.scraped_at for r in tmp_store.scan("properties").collect()} == {T0}

        # refresh over identical content is now a no-op
        df = spark.createDataFrame([Row(**r) for r in rows])
        written, skipped = tmp_store.write_batch(
            "properties", df, dedup_against_existing=True,
            scraped_at=T0 + dt.timedelta(days=1),
        )
        assert (written, skipped) == (0, 3)


class TestCompaction:
    def test_schema_drift_union_by_name(self, tmp_store):
        spark = tmp_store.spark
        tmp_store.write_batch("t", spark.createDataFrame([Row(uuid="a", x=1)]), scraped_at=T0)
        tmp_store.write_batch("t", spark.createDataFrame([Row(uuid="b", y="z")]), scraped_at=T0)
        n_before = len(tmp_store.list_files("t"))
        assert n_before >= 2
        tmp_store.compact("t")
        df = tmp_store.scan("t")
        assert df.count() == 2
        assert {"uuid", "x", "y", "scraped_at", "row_hash"} <= set(df.columns)
        assert len(tmp_store.list_files("t")) == 1


class TestCorruptFileTolerance:
    def test_tolerate_corrupt_skips_bad_file_default_fails(self, tmp_store):
        """A 100 TB lake accumulated over months WILL contain the
        occasional truncated file (killed writer, storage fault).
        scan(tolerate_corrupt=True) must return every readable row; the
        default must stay fail-fast so correctness-critical reads (dedup
        state, SCD2 current) never silently lose rows."""
        write_versions(
            tmp_store,
            [
                (T0, [{"uuid": "u1", "pid": 1, "v": 1.0}]),
                (T0 + dt.timedelta(days=1), [{"uuid": "u2", "pid": 2, "v": 2.0}]),
            ],
        )
        files = sorted(tmp_store.table_path("properties").glob("*.parquet"))
        assert len(files) >= 2
        # truncate a ROW-BEARING file mid-body (writes also emit empty
        # part files — the largest file is a real one): bad magic footer.
        # Also drop Hadoop's local-FS .crc sidecar for it — otherwise the
        # checksum layer fails the read before the parquet layer ever
        # sees the file (real object stores have no such sidecar; the
        # parquet footer is what ignoreCorruptFiles actually guards)
        victim = max(files, key=lambda p: p.stat().st_size)
        data = victim.read_bytes()
        victim.write_bytes(data[: max(8, len(data) // 3)])
        crc = victim.parent / f".{victim.name}.crc"
        if crc.exists():
            crc.unlink()

        good = tmp_store.scan("properties", tolerate_corrupt=True)
        rows = good.collect()
        assert len(rows) == 1  # every readable row, none from the bad file

        with pytest.raises(Exception):
            tmp_store.scan("properties").collect()


def _fields(schema):
    return {(f.name, f.dataType) for f in schema.fields}


class TestFooterResolvedSchema:
    """Reads take their schema from the files' Spark footer key on the
    driver: the same (name, type) set Spark's mergeSchema inference gives,
    all fields nullable, and no Spark job."""

    def _inferred(self, spark, path):
        return spark.read.option("mergeSchema", "true").parquet(str(path)).schema

    def test_drifted_table_and_snapshot_match_merge_schema(self, tmp_store):
        from pyspark.sql import functions as F

        from ctcityscraper_spark.sources.store import footer_merged_schema

        spark, path = tmp_store.spark, tmp_store.table_path("t")
        # batch 1 has a column no later batch has; arr is array<int> with
        # non-null elements, so nested nullability is exercised too
        b1 = spark.createDataFrame([Row(uuid="a", old_only=1)]).withColumn(
            "arr", F.array(F.lit(1))
        )
        tmp_store.write_batch("t", b1, scraped_at=T0)
        tmp_store.write_batch(
            "t", spark.createDataFrame([Row(uuid="b", added="x")]),
            scraped_at=T0 + dt.timedelta(days=1),
        )

        def check():
            assert footer_merged_schema(sorted(tmp_store.list_files("t"))) is not None
            got = tmp_store.scan("t").schema
            assert _fields(got) == _fields(self._inferred(spark, path))
            assert all(f.nullable for f in got.fields)

        check()
        tmp_store.compact("t")
        # a column added after compaction: old_only now lives only in the
        # compacted (older) file. arr comes back with non-null elements,
        # while the compacted file recorded it nullable: the merge must not
        # see that as a type conflict, as Spark's mergeSchema does not
        tmp_store.write_batch(
            "t",
            spark.createDataFrame([Row(uuid="a", later=2.5)]).withColumn(
                "arr", F.array(F.lit(2))
            ),
            scraped_at=T0 + dt.timedelta(days=2),
        )
        check()
        assert tmp_store.scan("t").count() == 3

        assert tmp_store.materialize_current("t") == 2
        snap = tmp_store.current_snapshot("t")
        assert _fields(snap.schema) == _fields(self._inferred(spark, tmp_store.snapshot_path("t")))
        assert all(f.nullable for f in snap.schema.fields)
        assert sorted(r.uuid for r in snap.collect()) == ["a", "b"]

    def test_footerless_file_falls_back_to_inference(self, tmp_store, job_probe):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ctcityscraper_spark.sources.store import footer_merged_schema

        spark = tmp_store.spark
        tmp_store.write_batch(
            "t", spark.createDataFrame([Row(uuid="a", v=1.0)]), scraped_at=T0
        )
        # the reference engine's pandas/DuckDB writers leave no Spark key
        pq.write_table(
            pa.table({"uuid": ["b"], "v": [2.0], "row_hash": ["h"]}),
            tmp_store.table_path("t") / "reference-batch.parquet",
        )
        assert footer_merged_schema(sorted(tmp_store.list_files("t"))) is None
        with job_probe("footerless-scan") as jobs:
            df = tmp_store.scan("t")
        assert jobs["group"], "Spark's own inference should have run"
        assert sorted((r.uuid, r.v) for r in df.collect()) == [("a", 1.0), ("b", 2.0)]
        assert _fields(df.schema) == _fields(self._inferred(spark, tmp_store.table_path("t")))

    def test_scan_submits_no_spark_job(self, tmp_store, job_probe):
        write_versions(
            tmp_store,
            [
                (T0, [{"uuid": "u1", "pid": 1, "v": 1.0}]),
                (T0 + dt.timedelta(days=1), [{"uuid": "u1", "pid": 1, "v": 2.0, "w": "x"}]),
            ],
        )
        tmp_store.materialize_current("properties")
        with job_probe("footer-scan") as jobs:
            tmp_store.scan("properties")
            tmp_store.existing_hashes("properties")
            tmp_store.current_snapshot("properties")
        assert jobs["group"] == set()
        assert jobs["ungrouped"] == set()
