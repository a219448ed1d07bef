"""HTTP fetch helpers: retry/backoff and the distributed fetch stage.

The network boundary is injected (``fetcher`` callables) so everything is
testable offline; the real engine wires ``urllib``-based fetchers here.
Retry semantics mirror the reference (scrapers/vgsi/source.py:202-253,
scrapers/llc_ct_data/source.py:57-102): N retries, initial delay, x2
exponential backoff; the source's invalid-entry exception is never retried.
"""

from __future__ import annotations

import json
import time
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ctcityscraper_spark.sources.contracts import SourceDefinition
from ctcityscraper_spark.sources.ratelimit import partition_bucket

# schema of the distributed fetch stage output; ``seq`` is the position in
# the submitted id list so the engine can adjudicate errors in entry order
FETCH_RESULT_SCHEMA = (
    "seq long, entry_id string, payload string, invalid boolean, error string"
)


def with_retries(
    fn: Callable[[], Any],
    retries: int = 3,
    delay: float = 1.0,
    backoff: float = 2.0,
    no_retry: tuple[type[Exception], ...] = (),
    sleep: Callable[[float], None] = time.sleep,
):
    """Run fn with exponential backoff; ``no_retry`` exceptions pass through
    immediately (the reference treats invalid-entry as terminal)."""
    attempt = 0
    while True:
        try:
            return fn()
        except no_retry:
            raise
        except Exception:
            attempt += 1
            if attempt > retries:
                raise
            sleep(delay * backoff ** (attempt - 1))


def _seq_frame(
    spark: SparkSession, entry_ids: list, num_partitions: int | None
) -> tuple[DataFrame, int]:
    """One ``seq`` row per entry (its position in ``entry_ids``), split into
    the fetch's partitions, and the partition count.

    ``spark.range`` is born partitioned: no Exchange, and no driver-local
    relation to ship. The fetch function maps ``seq`` back to its entry id
    by position in the id list it closes over.

    Default partitioning: >=256 entries per partition — Python-worker
    spin-up (~1-2s each) dwarfs the work for small fetch batches, so tiny
    chunks must not fan out to every core. Network-bound sources pass
    num_partitions (=workers) explicitly.
    """
    n_parts = num_partitions or max(
        1, min(spark.sparkContext.defaultParallelism, len(entry_ids) // 256 + 1)
    )
    seq_df = spark.range(len(entry_ids), numPartitions=n_parts).withColumnRenamed("id", "seq")
    return seq_df, n_parts


def fetch_entries_distributed(
    spark: SparkSession,
    source: SourceDefinition,
    base_url: str,
    entry_ids: list,
    rate_per_sec: float = 0.0,
    num_partitions: int | None = None,
    retries: int = 3,
    retry_delay: float = 1.0,
) -> DataFrame:
    """Distributed fetch: ids -> mapInPandas(scrape) -> result rows.

    Each partition runs a rate-limited loop calling ``source.scrape_fn``;
    results come back as (entry_id, payload JSON, invalid, error) — errors
    are captured per-row, never fail the stage (the engine applies the
    circuit-breaker policy afterwards). This is the Spark restatement of the
    reference's ThreadPoolExecutor loop (src/engine/engine.py:271-308).
    """
    seq_df, n_parts = _seq_frame(spark, entry_ids, num_partitions)
    ids = [str(e) for e in entry_ids]
    scrape_fn = source.scrape_fn
    invalid_exc = source.invalid_entry_exception

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bucket = partition_bucket(rate_per_sec, n_parts)
        for pdf in batches:
            out = {"seq": [], "entry_id": [], "payload": [], "invalid": [], "error": []}
            for seq in pdf["seq"]:
                entry_id = ids[seq]
                bucket.acquire()
                payload = invalid = err = None
                try:
                    result = with_retries(
                        lambda: scrape_fn(base_url, entry_id),
                        retries=retries,
                        delay=retry_delay,
                        no_retry=(invalid_exc,),
                    )
                    payload = None if result is None else json.dumps(result)
                    invalid = False
                except invalid_exc:
                    invalid = True
                except Exception as e:  # captured, adjudicated by the engine
                    invalid = False
                    err = f"{type(e).__name__}: {e}"
                out["seq"].append(int(seq))
                out["entry_id"].append(entry_id)
                out["payload"].append(payload)
                out["invalid"].append(invalid)
                out["error"].append(err)
            yield pd.DataFrame(out)

    return seq_df.mapInPandas(fetch_partition, FETCH_RESULT_SCHEMA)


# distributed-flatten output: one row per (entry, table, flattened row),
# plus exactly one table=NULL status marker per entry carrying its
# (seq, invalid, error), so the engine reads status without a shuffle
FETCH_FLAT_SCHEMA = (
    "seq long, entry_id string, table string, row_json string, "
    "invalid boolean, error string"
)


def fetch_and_flatten_distributed(
    spark: SparkSession,
    source: SourceDefinition,
    base_url: str,
    entry_ids: list,
    rate_per_sec: float = 0.0,
    num_partitions: int | None = None,
    retries: int = 3,
    retry_delay: float = 1.0,
) -> DataFrame:
    """Fetch + flatten inside the partition: rows never touch the driver.

    The bulk-backfill twin of :func:`fetch_entries_distributed` — requires
    ``source.table_schemas`` so the engine can parse ``row_json`` with
    ``from_json`` instead of driver-side inference.
    """
    seq_df, n_parts = _seq_frame(spark, entry_ids, num_partitions)
    ids = [str(e) for e in entry_ids]
    scrape_fn, flatten_fn = source.scrape_fn, source.flatten_fn
    invalid_exc = source.invalid_entry_exception

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bucket = partition_bucket(rate_per_sec, n_parts)
        for pdf in batches:
            recs: list[tuple] = []
            for seq in pdf["seq"]:
                seq, entry_id = int(seq), ids[seq]
                bucket.acquire()
                invalid, err = False, None
                try:
                    payload = with_retries(
                        lambda: scrape_fn(base_url, entry_id),
                        retries=retries,
                        delay=retry_delay,
                        no_retry=(invalid_exc,),
                    )
                    if payload is not None:
                        # built whole first: a flatten that raises emits no rows
                        recs.extend([
                            (seq, entry_id, table, json.dumps(row), False, None)
                            for table, rows in flatten_fn([payload]).items()
                            for row in rows
                        ])
                except invalid_exc:
                    invalid = True
                except Exception as e:
                    err = f"{type(e).__name__}: {e}"
                recs.append((seq, entry_id, None, None, invalid, err))
            yield pd.DataFrame(
                recs, columns=["seq", "entry_id", "table", "row_json", "invalid", "error"]
            )

    return seq_df.mapInPandas(run_partition, FETCH_FLAT_SCHEMA)


def fetch_status(flat: DataFrame) -> DataFrame:
    """(seq, invalid, error) per entry of a :func:`fetch_and_flatten_distributed`
    frame: its table=NULL markers. A filter, so no Exchange."""
    from pyspark.sql import functions as F

    return flat.filter(F.col("table").isNull()).select("seq", "invalid", "error")
