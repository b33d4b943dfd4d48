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
concentrating hot domains in one partition. The hash is crc32, which
``zlib`` computes too, so the API finds a bucket (``bucket_dir``) without
Spark.
"""

from __future__ import annotations

import json
import os
import zlib
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
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
_BUCKET_HASH = "crc32"  # recorded in the sidecar; any other must re-store
_MANIFEST_DIR = "_manifest"


def auto_buckets(df: DataFrame) -> int:
    """Size-aware bucket count from the plan's size estimate (for a
    parquet scan: sum of file sizes — no job runs): ~256 MiB per bucket,
    power-of-two-rounded, clamped to [8, 4096]; a fixed count
    over-shuffles small loads. Readers adapt via the
    ``_serving_meta.json`` sidecar. Falls back to DEFAULT_BUCKETS when
    the estimate is unavailable (non-file source with CBO off)."""
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


def domain_bucket(domain: Column, buckets: int = DEFAULT_BUCKETS) -> Column:
    return F.pmod(F.crc32(F.lower(domain)), F.lit(buckets)).cast("int")


def bucket_of(domain: str, buckets: int) -> int:
    """Python twin of ``domain_bucket``. Both hash the same bytes because
    ``domain_is_valid`` admits only ASCII domains, whose Java and Python
    lowercase agree and whose UTF-8 is the string itself."""
    return zlib.crc32(domain.lower().encode()) % buckets


def write_serving_table(
    df: DataFrame, path: str, buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Write compacted link rows partitioned by domain bucket. Rows are
    pre-shuffled on (bucket, salt) so each directory is written by up to
    ``_WRITERS_PER_BUCKET`` parallel tasks instead of one 100 GB
    straggler at the 1024-bucket design point (SCALING.md). Salting by a
    row-content hash keeps the shuffle balanced and bounds the files per
    directory."""
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
    # the layout belongs to the table: a reader probing with another
    # modulus or hash would prune to the wrong partition and return nothing
    with open(os.path.join(path, _META_FILE), "w") as f:
        json.dump({"buckets": buckets, "bucket_col": _BUCKET_COL,
                   "hash": _BUCKET_HASH}, f)


def table_buckets(path: str) -> int:
    """Bucket count recorded at write time. A table whose sidecar is
    missing or names another hash raises instead of pruning to the wrong
    directory."""
    sidecar = Path(path, _META_FILE)
    meta = json.loads(sidecar.read_text()) if sidecar.exists() else {}
    if meta.get("hash") != _BUCKET_HASH:
        raise ValueError(f"{path}: no {_BUCKET_HASH} bucket layout in "
                         f"{_META_FILE}; re-run store to rewrite the table")
    return int(meta["buckets"])


def bucket_dir(path: str, domain: str) -> str:
    """The directory that holds ``domain``'s rows, by the recorded layout."""
    return f"{path}/{_BUCKET_COL}={bucket_of(domain, table_buckets(path))}"


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
) -> DataFrame:
    """Read the serving table; with ``domain`` given, add the bucket
    predicate (the table's recorded layout) so Catalyst partition-prunes
    to a single directory before the row-level domain filter."""
    df = spark.read.parquet(path)
    if domain is not None:
        bucket = domain_bucket(F.lit(domain.lower()), table_buckets(path))
        df = df.filter((F.col(_BUCKET_COL) == bucket)
                       & (F.col("link_domain") == domain.lower()))
    return df.drop(_BUCKET_COL)
