"""End-to-end pipeline: WAT fixture → import → compact → serving table →
query (the reference's importer|storelinks|linksapi chain, §7.2)."""

from __future__ import annotations

import os

import pytest

from globallinks_spark.operators.linkdb import LinkQuery
from globallinks_spark.runner import (
    query_links,
    run_compact,
    run_import,
    run_store,
)
from tests.fixtures import collect, write_wat_file


@pytest.fixture(scope="module")
def pipeline_dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("pipeline")
    wat = str(base / "seg-00000.warc.wat.gz")
    write_wat_file(wat)
    out = str(base / "out")
    serving = str(base / "serving")
    run_import(spark, [wat], out, segment="s1", save_pages=True)
    run_compact(spark, out, segment="s1")
    run_store(spark, out, serving, buckets=8)
    return out, serving


class TestPipeline:
    def test_links_written(self, spark, pipeline_dirs):
        out, _ = pipeline_dirs
        links = spark.read.parquet(os.path.join(out, "links"))
        assert links.count() == 7

    def test_compact_grain(self, spark, pipeline_dirs):
        out, _ = pipeline_dirs
        compact = spark.read.parquet(os.path.join(out, "compact"))
        rows = compact.collect()
        # target-one.org/article is linked from two pages → two groups
        # (page_host in the key); each compacted row qty ≥ 1
        assert all(r.qty >= 1 for r in rows)
        assert all(r.date_from <= r.date_to for r in rows)

    def test_idempotent_restart(self, spark, pipeline_dirs, monkeypatch):
        out, _ = pipeline_dirs
        # second run must skip (would fail loudly if it re-read the
        # deleted WAT path)
        run_import(spark, ["/nonexistent.wat.gz"], out, segment="s1")

    def test_query_end_to_end(self, spark, pipeline_dirs):
        _, serving = pipeline_dirs
        out = collect(query_links(
            spark, serving, LinkQuery(domain="target-one.org")
        ))
        assert len(out) >= 2
        assert all("target-one.org" in r.link_url for r in out)
        ips = {ip for r in out for ip in r.ip}
        assert "10.0.0.1" in ips

    def test_query_subdomain(self, spark, pipeline_dirs):
        _, serving = pipeline_dirs
        out = collect(query_links(
            spark, serving, LinkQuery(domain="www.target-one.org")
        ))
        assert len(out) == 1
        assert out[0].link_url.startswith("https://www.target-one.org")

    def test_multi_segment_store(self, spark, tmp_path_factory):
        """Two segments → one serving table; cross-segment rows merge at
        query time (the reference's per-segment Mongo loads, unified)."""
        base = tmp_path_factory.mktemp("multi")
        out, serving = str(base / "out"), str(base / "srv")
        for seg in ("s1", "s2"):
            wat = str(base / f"{seg}.warc.wat.gz")
            write_wat_file(wat)
            run_import(spark, [wat], out, segment=seg)
            run_compact(spark, out, segment=seg)
        run_store(spark, out, serving, buckets=8)
        rows = collect(query_links(
            spark, serving, LinkQuery(domain="target-one.org")
        ))
        # same link from both segments → one merged row, qty summed
        merged = [r for r in rows if r.link_url == "https://target-one.org/article"
                  and "alpha" in r.page_url]
        assert len(merged) == 1
        assert merged[0].qty == 2

    def test_store_manifest_provenance(self, spark, tmp_path_factory):
        """run_store records (segment, n_rows, loaded_at) like the
        reference's ``imported`` collection insert (storelinks
        main.go:171-175); rerunning the store overwrites the manifest to
        the same contents — and the _manifest dir must stay invisible to
        the serving-table read."""
        from globallinks_spark.sources.serving import read_manifest

        base = tmp_path_factory.mktemp("manifest")
        out, serving = str(base / "out"), str(base / "srv")
        for seg in ("s1", "s2"):
            wat = str(base / f"{seg}.warc.wat.gz")
            write_wat_file(wat)
            run_import(spark, [wat], out, segment=seg)
            run_compact(spark, out, segment=seg)
        run_store(spark, out, serving, buckets=8)

        def snap():
            return sorted(
                (r.segment, r.n_rows)
                for r in read_manifest(spark, serving).collect()
            )

        first = snap()
        assert [s for s, _ in first] == ["s1", "s2"]
        assert all(n > 0 for _, n in first)
        # manifest row counts reconcile with the served table
        served_total = spark.read.parquet(serving).count()
        assert sum(n for _, n in first) == served_total
        # rerun-safe: same contents after a second store
        run_store(spark, out, serving, buckets=8)
        assert snap() == first
        assert spark.read.parquet(serving).count() == served_total

    def test_partition_pruning(self, spark, pipeline_dirs):
        _, serving = pipeline_dirs
        from globallinks_spark.sources.serving import read_serving_table

        plan = read_serving_table(
            spark, serving, domain="target-one.org"
        )._jdf.queryExecution().executedPlan().toString()
        # the bucket predicate must reach the scan as partition pruning
        assert "domain_bucket" in plan

    def test_incremental_import_per_file_restart(self, spark, tmp_path):
        """File-granular restart (main.go:227-234): after a rerun with
        one NEW wat file, already-imported batches are not rewritten and
        rows appear exactly once; compact consumes the layout."""
        import glob

        from globallinks_spark.runner import run_import_incremental

        wat_dir = str(tmp_path / "wat")
        os.makedirs(wat_dir)
        write_wat_file(os.path.join(wat_dir, "f-00000.warc.wat.gz"))
        out = str(tmp_path / "out")
        run_import_incremental(
            spark, wat_dir, out, segment="s1", max_files_per_trigger=1
        )
        seg_dir = os.path.join(out, "links", "segment=s1")
        first_links = spark.read.parquet(seg_dir)
        n_first = first_links.count()
        assert n_first > 0
        batch_dirs = sorted(glob.glob(os.path.join(seg_dir, "batch=*")))
        assert len(batch_dirs) == 1
        stamps = {
            d: sorted(os.path.getmtime(p)
                      for p in glob.glob(os.path.join(d, "part-*")))
            for d in batch_dirs
        }

        # a new file lands (or: the previous run died before reaching it)
        write_wat_file(os.path.join(wat_dir, "f-00001.warc.wat.gz"))
        run_import_incremental(
            spark, wat_dir, out, segment="s1", max_files_per_trigger=1
        )
        after = sorted(glob.glob(os.path.join(seg_dir, "batch=*")))
        assert len(after) == 2                      # one new batch only
        for d in batch_dirs:                        # old batches untouched
            assert stamps[d] == sorted(
                os.path.getmtime(p)
                for p in glob.glob(os.path.join(d, "part-*"))
            )
        assert spark.read.parquet(seg_dir).count() == 2 * n_first

        # third run with nothing new: no work, no new dirs
        run_import_incremental(
            spark, wat_dir, out, segment="s1", max_files_per_trigger=1
        )
        assert sorted(glob.glob(os.path.join(seg_dir, "batch=*"))) == after

        # compact drops the batch partition column and dedups across files
        run_compact(spark, out, segment="s1")
        compact = spark.read.parquet(
            os.path.join(out, "compact", "segment=s1")
        )
        assert "batch" not in compact.columns
        # both files carry identical fixture links → A4 distinct collapses
        assert compact.count() > 0
        assert compact.count() < 2 * n_first

    def test_salted_write_fans_out_hot_buckets(self, spark, tmp_path):
        """A bucket directory must be written by multiple tasks (round-1
        wrote each bucket with exactly one task → a 100 GB straggler at
        the 1024-bucket design point), without breaking pruning."""
        import glob

        from globallinks_spark.sources.serving import (
            read_serving_table, write_serving_table,
        )

        rows = [
            ("hot.example.com", f"s{i % 37}", f"/p/{i}", "", "2",
             f"page{i}.org", "/", "", "2", f"t{i}", 0, 0,
             "2023-01-01", "1.2.3.4")
            for i in range(4000)
        ]
        df = spark.createDataFrame(rows, [
            "link_domain", "link_sub_domain", "link_path", "link_raw_query",
            "link_scheme", "page_host", "page_path", "page_raw_query",
            "page_scheme", "link_text", "no_follow", "no_index",
            "date_imported", "ip",
        ])
        path = str(tmp_path / "srv")
        write_serving_table(df, path, buckets=2)
        # every row lands in ONE bucket dir (single domain); that dir
        # must contain several part files — one per salted writer task
        dirs = glob.glob(os.path.join(path, "domain_bucket=*"))
        files = glob.glob(os.path.join(path, "domain_bucket=*", "part-*"))
        assert len(dirs) == 1
        assert len(files) > 1
        got = read_serving_table(spark, path, domain="hot.example.com")
        assert got.count() == 4000

    def test_auto_buckets_sizes_layout_from_input(self, spark, tmp_path):
        """Round-6 fix for the e2e store-stage gap: the bucket count is
        derived from the plan's size estimate (~256 MiB per bucket,
        clamped to [8, 4096]) instead of a fixed 256 — a 1.28M-row load
        must not fan into 1024 write tasks. The sidecar meta keeps
        readers correct for any write-time choice, so only the clamps
        and monotonicity are contractual."""
        from globallinks_spark.sources import serving as SV

        small = spark.range(10).selectExpr("cast(id as string) link_domain")
        p = str(tmp_path / "tiny.parquet")
        small.write.parquet(p)
        scan = spark.read.parquet(p)
        assert SV.auto_buckets(scan) == SV._MIN_BUCKETS
        # a frame with no file-source stats falls back to the default
        assert SV.auto_buckets(small) in (
            SV.DEFAULT_BUCKETS, SV._MIN_BUCKETS,
        )
        # clamp arithmetic (pure function of the byte estimate):
        # floor, power-of-two rounding, 100 TB ceiling
        assert SV._buckets_for_bytes(1) == SV._MIN_BUCKETS
        assert SV._buckets_for_bytes(SV._TARGET_BUCKET_BYTES * 100) == 128
        assert SV._buckets_for_bytes(100 << 40) == SV._MAX_BUCKETS


class TestSqlCli:
    def test_sql_subcommand_registers_views_and_prints_json(self, capsys):
        import json

        from globallinks_spark.__main__ import main

        rc = main([
            "globallinks_spark", "sql", "/root/testdata/sf0.001",
            "SELECT r_name, count(*) AS n FROM region "
            "GROUP BY r_name ORDER BY r_name",
        ])
        assert rc == 0
        lines = [
            json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()
        ]
        assert len(lines) == 5
        assert all(l["n"] == 1 for l in lines)

    def test_sql_limit_arg(self, capsys):
        from globallinks_spark.__main__ import main

        rc = main([
            "globallinks_spark", "sql", "/root/testdata/sf0.001",
            "SELECT doc_id FROM documents ORDER BY doc_id", "7",
        ])
        assert rc == 0
        assert len(capsys.readouterr().out.strip().splitlines()) == 7

    def test_register_views_skips_sidecars(self, spark, tmp_path):
        from globallinks_spark.queries import register_views

        spark.range(3).write.parquet(str(tmp_path / "good.parquet"))
        spark.range(2).write.parquet(str(tmp_path / "_manifest.parquet"))
        names = register_views(spark, str(tmp_path))
        assert names == ["good"]
        assert spark.sql("SELECT count(*) AS n FROM good").first().n == 3


class TestCurateCli:
    def test_curate_writes_shards_and_prints_manifest(
        self, spark, tmp_path, capsys
    ):
        import json

        from globallinks_spark.__main__ import main
        from globallinks_spark.sources.corpus_sink import read_training_shards

        out = str(tmp_path / "curated")
        rc = main([
            "globallinks_spark", "curate", "/root/testdata/sf0.001",
            out, "2",
        ])
        assert rc == 0
        lines = [
            json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()
        ]
        assert lines and all(
            {"split", "shard", "n_docs", "n_tokens"} <= set(l) for l in lines
        )
        data = read_training_shards(spark, out)
        assert data.count() == sum(l["n_docs"] for l in lines)
        assert set(data.columns) >= {"doc_id", "text", "split", "shard"}


class TestSqlCliErrors:
    def test_bad_query_raises_analysis_error(self, spark):
        from pyspark.errors import AnalysisException

        from globallinks_spark.__main__ import main

        with pytest.raises(AnalysisException):
            main([
                "globallinks_spark", "sql", "/root/testdata/sf0.001",
                "SELECT nope FROM region",
            ])


class TestExplainCli:
    def test_explain_prints_physical_plan(self, capsys):
        from globallinks_spark.__main__ import main

        rc = main([
            "globallinks_spark", "explain", "/root/testdata/sf0.001",
            "shipping_priority",
        ])
        assert rc == 0
        out = capsys.readouterr().out
        assert "Physical Plan" in out
        assert "TakeOrderedAndProject" in out

    def test_explain_unknown_query_lists_catalog(self, capsys):
        from globallinks_spark.__main__ import main

        rc = main([
            "globallinks_spark", "explain", "/root/testdata/sf0.001",
            "not_a_query",
        ])
        assert rc == 2
        out = capsys.readouterr().out
        assert "unknown query" in out and "pricing_summary" in out
