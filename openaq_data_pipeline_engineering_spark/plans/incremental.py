"""Incremental mart maintenance: idempotent merge of re-delivered data.

The reference's daily job blind-appends each 24h-lookback pull into the
mart (process_openaq_raw.py:253-255); overlapping lookback windows thus
re-deliver rows and duplicate them — its tests *expect* ~5% dup shrink
only within a batch, not across runs (SURVEY §2.9). "Job bookmarks" are
a listed future item (doc/architecture.md:697).

Spark-native replacement, no table format required:

1. restrict to the Hive partitions the new batch touches (partition
   pruning — reads only those partitions of the existing mart);
2. union existing + new, window-dedup with the batch's tiebreaker so a
   re-delivered or corrected row wins deterministically;
3. write back with dynamic partitionOverwriteMode — only the touched
   partitions are replaced, atomically per partition.

Cost at 100 TB: proportional to the touched partitions (a day or two),
never the whole table. With Delta/Iceberg the same logic is a MERGE; the
operator keeps that seam (`merge_into_mart` is the single entry point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.operators.dedup import dedup_first

PARTITION_COLS = ["year", "month", "day"]


def touched_partitions(batch: DataFrame) -> DataFrame:
    """Distinct (year, month, day) the batch writes into — a tiny frame."""
    return batch.select(*PARTITION_COLS).distinct()


def merge_into_mart(
    spark: SparkSession,
    mart_path: str,
    batch: DataFrame,
    keys: list[str],
    tiebreaker: list[str],
) -> None:
    """Idempotently merge ``batch`` (already in mart schema, partition
    columns included) into the partitioned mart at ``mart_path``.

    ``keys``: logical row identity (e.g. location_id, datetime) WITHIN
    a partition — the operator appends :data:`PARTITION_COLS` to the
    key set itself (ADVICE r12 #4): the merge only ever reads the
    batch's touched partitions, so a same-key row in an untouched
    partition always survived regardless of ``keys``; cross-partition
    identity is unenforceable under the partition-pruned read, and a
    partition-less key with a non-total tiebreaker would silently make
    the surviving row partition-layout-dependent (the r12
    ``incremental_mart_merge`` determinism bug). So a correction whose
    partition columns moved (e.g. a fixed timestamp that shifts the
    day) lands as a NEW row in its new partition and the stale row
    survives in the old one, even when the batch touches both:
    cross-partition corrections require an explicit delete of the
    stale row.
    ``tiebreaker``: ordering; the FIRST row per key under this order
    survives — include a batch/extraction timestamp descending to make
    re-delivered corrections win.
    """
    keys = list(keys) + [c for c in PARTITION_COLS if c not in keys]
    try:
        # Explicit schema (the batch's) on the read: without it Spark
        # type-INFERS partition values, turning the zero-padded string
        # partitions ("01") into ints (1); the rewrite would then land
        # in different directories (month=1 next to month=01) and the
        # old files would survive — silent duplication.
        existing = spark.read.schema(batch.schema).parquet(mart_path)
        has_existing = True
    except Exception:
        has_existing = False

    if has_existing:
        parts = touched_partitions(batch)
        # partition-pruned read of only the affected partitions:
        # a broadcast semi-join against partition VALUES prunes at plan
        # time because year/month/day are partition columns of the scan
        affected = existing.join(F.broadcast(parts), PARTITION_COLS, "left_semi")
        merged = affected.unionByName(batch)
    else:
        merged = batch

    deduped = dedup_first(merged, keys=keys, tiebreaker=tiebreaker)
    (
        deduped.repartition(*PARTITION_COLS)
        .write.mode("overwrite")
        # writer-level option, NOT session conf: on a session with
        # static overwrite mode this write would otherwise truncate
        # every untouched partition of the mart
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLS)
        .parquet(mart_path)
    )
