"""Orchestration — the engine's equivalent of the reference's three
binaries (SURVEY §3):

    importer   → ``run_import``   (WAT paths → link/page parquet per segment)
    compacting → ``run_compact``  (segment links → compacted parquet)
    storelinks → ``run_store``    (compacted → partitioned serving table)

plus ``query_links``, the linksapi query — a pyarrow read of one bucket
directory (operators/linkdb.py), no Spark job.

Idempotent restart (reference: skip WAT file if its output exists,
cmd/importer/main.go:227-234; mark segment done if sort_N exists,
wat.go:1053-1062) at two granularities:

- ``run_import`` — segment-level: a segment whose ``_SUCCESS`` marker
  exists is skipped. Spark's atomic job-commit protocol makes the
  marker trustworthy — a killed run leaves no _SUCCESS and the rerun
  overwrites cleanly.
- ``run_import_incremental`` — FILE-level, the reference's actual
  granularity: an AvailableNow file-source stream whose checkpoint
  commit log records which WAT files each committed micro-batch
  consumed; a rerun after a mid-segment crash redoes at most one
  uncommitted batch (exactly-once via per-batch-id overwrite), not the
  whole segment.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from globallinks_spark.operators import compact as C
from globallinks_spark.operators import extract as X
from globallinks_spark.operators.linkdb import LinkQuery, query_serving
from globallinks_spark.sources import serving as SV
from globallinks_spark.sources.wat import read_wat_pages


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def run_import(
    spark: SparkSession,
    wat_paths: list[str],
    out_dir: str,
    segment: str,
    save_pages: bool = False,
) -> None:
    """One segment: WAT files → 14-col link parquet (+ optional pages).
    One Spark task per WAT file (the reference's goroutine-per-file
    parallelism, main.go:272-291, without the hand-rolled pool); the
    extract is the only job before the write — A2 dedup always runs as
    the partial-then-final aggregate (see ``extract.link_rows``)."""
    links_out = os.path.join(out_dir, "links", f"segment={segment}")
    if _done(links_out):
        return
    pages = read_wat_pages(spark, wat_paths)
    X.extract_links(pages) \
        .write.mode("overwrite").parquet(links_out)
    if save_pages:
        pages_out = os.path.join(out_dir, "pages", f"segment={segment}")
        X.extract_pages(pages).write.mode("overwrite").parquet(pages_out)


def run_import_incremental(
    spark: SparkSession,
    wat_dir: str,
    out_dir: str,
    segment: str,
    max_files_per_trigger: int = 4,
) -> None:
    """Per-FILE restart granularity for import — the reference skips an
    individual WAT file whose output already exists
    (cmd/importer/main.go:227-234); ``run_import`` only restarts per
    segment, so a mid-segment crash redid up to ~900 files of work.

    Spark-native equivalent: a file-source stream over the segment's WAT
    directory with ``Trigger.AvailableNow`` — the checkpoint's commit
    log records exactly which files each committed micro-batch consumed,
    so a rerun (after a crash OR after new files land) processes only
    unseen files. foreachBatch receives the text lines as a plain batch
    DataFrame, so the batch extraction plan applies unchanged; each
    micro-batch overwrites its own ``batch=<id>`` directory, making
    replay of an uncommitted batch exactly-once (same id → same dir).
    The ``batch=`` layer reads back as a partition column; run_compact
    drops it."""
    links_out = os.path.join(out_dir, "links", f"segment={segment}")
    ckpt = os.path.join(out_dir, "checkpoints", f"segment={segment}")
    from globallinks_spark.sources.wat import wat_pages_from_lines

    raw = (
        spark.readStream
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .text(os.path.join(wat_dir, "*.warc.wat.gz"))
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = os.path.join(links_out, f"batch={batch_id}")
        X.extract_links(wat_pages_from_lines(batch_df)) \
            .write.mode("overwrite").parquet(out)

    q = (
        raw.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_compact(spark: SparkSession, out_dir: str, segment: str) -> None:
    """Segment finalize: distinct (A4) + group-merge (A5) → 16-col
    compacted parquet (compactSegmentData, main.go:507-564)."""
    compact_out = os.path.join(out_dir, "compact", f"segment={segment}")
    if _done(compact_out):
        return
    links = spark.read.parquet(
        os.path.join(out_dir, "links", f"segment={segment}")
    )
    if "batch" in links.columns:  # incremental-import layout
        links = links.drop("batch")
    C.compact_segment(links).write.mode("overwrite").parquet(compact_out)


def run_store(
    spark: SparkSession, out_dir: str, serving_path: str,
    buckets: int | None = None,
) -> None:
    """All compacted segments → one domain-bucketed serving table
    (storelinks, cmd/storelinks/main.go:74-178; the F16 domain
    re-validation rides along). Each load also records provenance — the
    reference's ``imported`` collection insert (main.go:171-175) — as a
    ``_manifest`` parquet inside the serving path: (segment, n_rows,
    loaded_at), overwritten WITH the table so it always describes
    exactly what is being served.

    ``buckets=None`` (the default) sizes the layout from the input
    (``SV.auto_buckets``, ~256 MiB per bucket directory); the
    sidecar-recorded count keeps readers correct for any choice. Pass an
    explicit count to pin a cross-load layout."""
    from globallinks_spark.functions.predicates import domain_is_valid
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(out_dir, "compact"))
    df = df.filter(domain_is_valid(F.col("link_domain")))
    if buckets is None:
        buckets = SV.auto_buckets(df)
    SV.write_serving_table(df.drop("segment"), serving_path, buckets)
    # written after the table commit: a crash between the two leaves the
    # previous manifest alongside the new table for one rerun window,
    # never a manifest describing data that failed to land
    SV.write_manifest(
        df.groupBy("segment").agg(F.count("*").alias("n_rows"))
        .withColumn("loaded_at", F.current_timestamp()),
        serving_path,
    )


def run_fetch(
    spark: SparkSession,
    archive_name: str,
    data_dir: str,
    segment: str | None = None,
    base_url: str | None = None,
    throttle_sec: float | None = None,
) -> list[str]:
    """S2: download the archive manifest, pick the next segment (lowest
    id not yet imported — O5), download its WAT files with retry/
    throttle, and return the local paths ready for ``run_import``.
    Mirrors InitImport + the importer's download loop
    (wat.go:147-218, main.go:227-263)."""
    from globallinks_spark.sources import fetch as FE
    from globallinks_spark.sources.wat import select_segment, wat_manifest

    kw = {}
    if base_url is not None:
        kw["base_url"] = base_url
    manifest_path = FE.fetch_manifest(archive_name, data_dir, **kw)
    manifest = wat_manifest(spark, manifest_path)
    done = {
        s for s in os.listdir(os.path.join(data_dir, "links"))
        if _done(os.path.join(data_dir, "links", s))
    } if os.path.isdir(os.path.join(data_dir, "links")) else set()
    done = {s.removeprefix("segment=") for s in done}
    seg = select_segment(manifest, done, segment)
    if seg is None:
        return []
    rels = [
        r.wat_path
        for r in manifest.filter(f"segment = '{seg}'")
        .orderBy("file_number").collect()
    ]
    tkw = dict(kw)
    if throttle_sec is not None:
        tkw["throttle_sec"] = throttle_sec
    return FE.fetch_wat_files(
        rels, os.path.join(data_dir, "wat", seg), **tkw
    )


def run_archive(
    spark: SparkSession,
    archive_name: str,
    data_dir: str,
    max_files: int | None = None,
    segments: list[str] | None = None,
    max_segments: int = 1,
    base_url: str | None = None,
    throttle_sec: float | None = None,
) -> list[str]:
    """§3.1 — the reference's single ``importer`` binary end-to-end:
    manifest → next segment (or the explicit list) → throttled download
    → import → compact, looping until no segment remains or
    ``max_segments`` are done (cmd/importer/main.go:129-263).
    ``max_files`` mirrors the reference's ``<maxfiles>`` smoke-run arg
    (truncate the segment's work list); its ``<threads>`` arg is Spark's
    parallelism and needs no plumbing. Returns the segments processed —
    already-done segments are skipped by the _SUCCESS markers, so the
    whole loop is rerun-safe."""
    if max_files is not None and max_files <= 0:
        # the reference's <maxfiles> arg is a positive smoke-run budget;
        # 0 would slice the work list to [] and crash on local[0] below
        raise ValueError(f"max_files must be positive, got {max_files}")
    want = list(segments) if segments else []
    processed: list[str] = []
    for _ in range(max_segments):
        seg_arg = want.pop(0) if want else None
        local = run_fetch(
            spark, archive_name, data_dir, seg_arg,
            base_url=base_url, throttle_sec=throttle_sec,
        )
        if not local:
            if seg_arg is not None:
                # an explicitly requested segment that isn't in the
                # manifest (or is already done) must not abandon the
                # REST of the requested list
                if want:
                    continue
                break
            break  # auto-select mode: archive exhausted
        if max_files is not None:
            local = local[:max_files]
        seg = os.path.basename(os.path.dirname(local[0]))
        run_import(spark, local, data_dir, seg)
        run_compact(spark, data_dir, seg)
        processed.append(seg)
        if want == [] and segments:
            break
    return processed


def query_links(
    spark: SparkSession, serving_path: str, request: LinkQuery,
) -> pa.Table:
    """POST /api/links (§3.3) as an Arrow table; ``spark`` is unused."""
    return query_serving(serving_path, request)
