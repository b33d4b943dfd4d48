"""Partitioned parquet serving table — the engine's replacement for the
reference's MongoDB collection + index (K4; cmd/storelinks/main.go:84-176,
SURVEY §1.4).

The reference serves every query through a Mongo index on
``linkdomain``; here the serving table is hash-bucketed on ``link_domain``
into a partition column, so a domain-equality query prunes to one
directory — O(table/N) scan instead of O(table), no index to maintain, and
the bucket count scales the layout to 100 TB (buckets=1024 → ~100 GB per
bucket directory, each internally splittable by parquet row groups).

Bucketing by hash (not by first letter) keeps Zipfian domain skew from
concentrating hot domains in one partition.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 256
# auto-layout target: one bucket directory per ~256 MiB of input. At the
# 100 TB design point that clamps to the 4096 ceiling (~25 GB/bucket,
# each internally splittable by row groups); the floor keeps tiny tables
# from collapsing to one straggler directory.
_TARGET_BUCKET_BYTES = 256 << 20
_MIN_BUCKETS, _MAX_BUCKETS = 8, 4096
# parallel write tasks per bucket directory (see write_serving_table)
_WRITERS_PER_BUCKET = 4
_BUCKET_COL = "domain_bucket"
_META_FILE = "_serving_meta.json"
_MANIFEST_DIR = "_manifest"


def auto_buckets(df: DataFrame) -> int:
    """Size-aware bucket count from the plan's size estimate (for a
    parquet scan: sum of file sizes — no job runs). Round 5's importer
    e2e showed the fixed 256-bucket layout over-shuffling small loads:
    1.28M rows fanned into 1024 write tasks / ~1024 parquet files, and
    the store stage (11.6 s) cost 2.6× the compact stage. The layout
    parameter belongs to the DATA size, not a constant: ~256 MiB per
    bucket, power-of-two-rounded, clamped to [8, 4096]. Readers adapt
    via the ``_serving_meta.json`` sidecar, so the write-time choice is
    self-describing. Falls back to DEFAULT_BUCKETS when the estimate is
    unavailable (non-file source with CBO off)."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return DEFAULT_BUCKETS
    if size <= 0 or size >= (1 << 62):  # unknown sizes surface as huge
        return DEFAULT_BUCKETS
    return _buckets_for_bytes(size)


def _buckets_for_bytes(size: int) -> int:
    n = max(1, size // _TARGET_BUCKET_BYTES)
    return int(min(_MAX_BUCKETS, max(_MIN_BUCKETS, 1 << (n - 1).bit_length())))


def domain_bucket(domain: F.Column, buckets: int = DEFAULT_BUCKETS) -> F.Column:
    return F.pmod(F.xxhash64(F.lower(domain)), F.lit(buckets)).cast("int")


def write_serving_table(
    df: DataFrame, path: str, buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Write compacted link rows partitioned by domain bucket. Rows are
    pre-shuffled on (bucket, salt) so each directory is written by up to
    ``_WRITERS_PER_BUCKET`` parallel tasks instead of exactly one — at the
    1024-bucket design point a bucket holds ~100 GB (SCALING.md), and a
    single-task-per-bucket write (round 1) made every bucket a 100 GB
    straggler, doubled when two bucket values hash-collide into one
    task. Salting by a row-content hash keeps the shuffle balanced while
    still bounding files-per-directory at _WRITERS_PER_BUCKET (no
    many-small-files explosion of partitionBy on unsorted input)."""
    salt = F.pmod(
        F.xxhash64("link_sub_domain", "link_path", "page_host"),
        F.lit(_WRITERS_PER_BUCKET),
    )
    (
        df.withColumn(_BUCKET_COL, domain_bucket(F.col("link_domain"), buckets))
        .withColumn("_salt", salt)
        .repartition(
            buckets * _WRITERS_PER_BUCKET, _BUCKET_COL, F.col("_salt"))
        .drop("_salt")
        .write.mode("overwrite")
        .partitionBy(_BUCKET_COL)
        .parquet(path)
    )
    # persist the bucket count next to the data: a reader probing with a
    # different modulus would prune to the wrong partition and silently
    # return nothing — the layout parameter belongs to the table, not the
    # caller
    with open(os.path.join(path, _META_FILE), "w") as f:
        json.dump({"buckets": buckets, "bucket_col": _BUCKET_COL}, f)


def table_buckets(path: str) -> int:
    """Bucket count recorded at write time (falls back to the default for
    tables written before the sidecar existed)."""
    meta = os.path.join(path, _META_FILE)
    if os.path.exists(meta):
        with open(meta) as f:
            return int(json.load(f)["buckets"])
    return DEFAULT_BUCKETS


def write_manifest(manifest: DataFrame, path: str) -> None:
    """Provenance bookkeeping — the reference records an ``imported``
    document per load (cmd/storelinks/main.go:171-175, ImportedSegments
    {archName, segment}); here it is a ``_manifest`` parquet table INSIDE
    the serving path: (segment, n_rows, loaded_at). The underscore
    prefix hides it from Spark's data-file discovery, so the serving
    table reads are unaffected; overwrite semantics keep it in lockstep
    with the (also overwritten) table — the manifest always lists
    exactly the segments the table contains."""
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, _MANIFEST_DIR)
    )


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """(segment, n_rows, loaded_at) for every segment in the serving
    table — "which data is served" as a queryable frame."""
    return spark.read.parquet(os.path.join(path, _MANIFEST_DIR))


def read_serving_table(
    spark: SparkSession, path: str, domain: str | None = None,
    buckets: int | None = None,
) -> DataFrame:
    """Read the serving table; with ``domain`` given, add the bucket
    predicate so Catalyst partition-prunes to a single directory before
    the row-level domain filter. ``buckets`` defaults to the table's own
    recorded layout."""
    if buckets is None:
        buckets = table_buckets(path)
    df = spark.read.parquet(path)
    if domain is not None:
        df = df.filter(
            (F.col(_BUCKET_COL) == domain_bucket(F.lit(domain.lower()), buckets))
            & (F.col("link_domain") == domain.lower())
        )
    return df.drop(_BUCKET_COL)
