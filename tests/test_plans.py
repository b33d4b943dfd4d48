"""Plan-shape regression tests: the physical properties that keep the
engine viable at 100 TB, asserted like value tests (SURVEY §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from globallinks_spark.plans.explain import (
    assert_read_schema_only,
    codegen_subtrees,
    count_broadcast_joins,
    count_shuffles,
    plan_string,
)
from globallinks_spark.queries import FULL_REGISTRY

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark_noaqe(spark):
    """The shared session with AQE toggled off (dynamic SQL conf):
    codegen/stage counts are deterministic pre-execution only without
    AQE, which defers stage planning to runtime. A separate session
    would not work — getOrCreate ignores configs once a session exists."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", prev)


class TestScanEfficiency:
    def test_q1_prunes_columns(self, spark_noaqe):
        df = FULL_REGISTRY["pricing_summary"].fn(spark_noaqe, SF)
        assert_read_schema_only(
            df, "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus",
        )

    def test_filter_pushdown_reaches_scan(self, spark_noaqe):
        df = FULL_REGISTRY["api_query"].fn(spark_noaqe, SF)
        plan = plan_string(df)
        assert "PushedFilters" in plan
        assert "EqualTo(o_orderstatus,O)" in plan

    def test_projection_pruning_events(self, spark_noaqe):
        from globallinks_spark.queries import load

        df = load(spark_noaqe, SF, "events").select("user_id")
        assert_read_schema_only(df, "user_id")


class TestJoinStrategy:
    def test_star_join_broadcasts_dims(self, spark_noaqe):
        df = FULL_REGISTRY["join_enrich"].fn(spark_noaqe, SF)
        assert count_broadcast_joins(df) >= 3  # customer/nation/region

    def test_verification_has_no_row_explosion(self, spark_noaqe):
        """exact_jaccard must stay in its array-join form: joins on
        doc_id pull the two hash ARRAYS onto each pair and intersect
        per row. The explode-and-rejoin alternative materializes
        |pairs| x set-size rows (measured 6x slower); its signature in
        a plan is a Generate (explode) node, which must be absent."""
        from globallinks_spark.operators.dedup import (
            exact_jaccard,
            with_shingle_hashes,
        )
        from globallinks_spark.queries import load

        docs = load(spark_noaqe, SF, "documents")
        sh = with_shingle_hashes(docs)
        pairs = spark_noaqe.createDataFrame(
            [(1, 2)], "doc_a long, doc_b long"
        )
        plan = plan_string(exact_jaccard(sh, pairs))
        assert "array_intersect" in plan
        assert "Generate" not in plan  # no explode in the verify path


class TestAggregationShape:
    def test_q1_single_shuffle(self, spark_noaqe):
        df = FULL_REGISTRY["pricing_summary"].fn(spark_noaqe, SF)
        assert count_shuffles(df) == 1

    def test_q1_partial_aggregate(self, spark_noaqe):
        df = FULL_REGISTRY["pricing_summary"].fn(spark_noaqe, SF)
        assert "partial_sum" in plan_string(df)  # map-side combine

    def test_compaction_reuses_partitioning(self, spark_noaqe):
        # window + groupBy on the same keys: one real exchange for the
        # data path (plus at most a tiny one Spark adds for the window
        # sort); never two full repartitions of the fact table
        df = FULL_REGISTRY["compaction_merge"].fn(spark_noaqe, SF)
        assert count_shuffles(df) <= 2

    def test_codegen_active(self, spark_noaqe):
        df = FULL_REGISTRY["pricing_summary"].fn(spark_noaqe, SF)
        n = codegen_subtrees(df)
        assert n is not None and n >= 2


class TestUrlKernelStaysJvmSide:
    def test_bind_once_barrier_holds_from_json_count(
        self, spark_noaqe, tmp_path
    ):
        """The bind_once optimization barrier is an optimizer-behavior
        contract, not an API guarantee: if a Spark upgrade teaches
        ConstantFolding about the barrier's shape, predicate pushdown
        re-inlines from_json(value) into every gate that crosses the
        envelope Project — the round-1 regression measured 627 copies in
        one executed plan (6× wall-clock). This probe fails loudly the
        day the barrier stops working."""
        from globallinks_spark.operators import extract
        from globallinks_spark.sources.wat import read_wat_pages
        from tests.fixtures import write_wat_file

        wat = str(tmp_path / "probe-00000.warc.wat.gz")
        write_wat_file(wat)
        links = extract.extract_links(read_wat_pages(spark_noaqe, wat))
        plan = plan_string(links)
        assert plan.count("from_json") == 1, (
            f"bind_once barrier broke: {plan.count('from_json')} "
            "from_json copies in the extraction plan (expected exactly 1)"
        )
        # the eTLD+1 barrier too: one ArrowEvalPython per domain column
        # (page and link). Without the barrier the UDF is pushed into
        # the filter that reads each domain as well, giving 4.
        n_udf = plan_string(links, "simple").count("ArrowEvalPython")
        assert n_udf == 2, (
            f"{n_udf} ArrowEvalPython nodes in the executed extraction "
            "plan (expected exactly 2)"
        )

    def test_no_python_eval_in_extract_filters(self, spark_noaqe):
        """The eTLD+1 kernel is the extraction's only Python code, and
        it must run Arrow-batched: a row-at-a-time BatchEvalPython
        (pickled rows) anywhere in the plan fails."""
        from globallinks_spark.operators import extract
        from globallinks_spark.schemas import WAT_PAGE_SCHEMA

        pages = spark_noaqe.createDataFrame([], WAT_PAGE_SCHEMA)
        plan = plan_string(extract.extract_links(pages))
        assert "BatchEvalPython" not in plan


class TestWordsStagedOnce:
    """Round-3 regression: corpus gram operators must stage words(text)
    through a named column. Inlining it into each gram's element_at
    calls duplicates the split(lower(text)) tree per element — measured
    ~20× on the sf0.1 bench (contamination/dup-span/bigram at 19-28 s
    each). The pin: each plan contains exactly as many split(lower
    copies as it has document-scan branches, never per-gram copies."""

    # branch counts = how many times the plan legitimately re-reads the
    # corpus (Spark shares no lineage between DataFrame references
    # without persist — each is ONE linear tokenization pass). The
    # inlined-regression signature is ~8 copies PER branch (one per
    # gram element_at), e.g. dup_span_profile at 8 rather than 1.
    @pytest.mark.parametrize(
        "name,branches",
        [
            ("dup_span_profile", 1),
            # r12: one-pass (doc_id, w1, w2) count table — the corpus
            # tokenizes ONCE into the persisted pdc (its cached-plan
            # text holds the only split copy; +1 slack for the
            # InMemoryRelation's duplicated output header)
            ("bigram_lm_score", 2),
            ("contamination_check", 3),  # train overlap + train sizes + bench
            ("span_dedup_rewrite", 2),   # gram stream + token-array join
            ("bm25_search", 1),          # r12: ONE persisted tokenize pass
        ],
    )
    def test_split_copies_bounded_by_scan_branches(
        self, spark_noaqe, name, branches
    ):
        # cold-cache pin: the CacheManager is JVM-wide, so a persisted
        # frame left by an earlier test (e.g. the corpus_qa_suite run
        # re-using contamination_check's persisted overlap) substitutes
        # an InMemoryRelation whose embedded cached-plan text inflates
        # the split() count — the pin is about the COLD plan shape
        spark_noaqe.catalog.clearCache()
        plan = plan_string(FULL_REGISTRY[name].fn(spark_noaqe, SF))
        assert plan.count("split(lower(") <= branches, (
            f"{name}: words(text) inlined into gram lambdas — "
            f"{plan.count('split(lower(')} copies for {branches} branches"
        )


class TestRound3PlanShapes:
    """Shuffle budgets for the round-3 operators — the numbers
    SCALING.md claims. A regression that adds an Exchange (a lost
    broadcast, an unstaged expression forcing a resort) fails here
    before it costs anything at scale."""

    @pytest.mark.parametrize(
        "name,max_shuffles",
        [
            ("domain_cap", 1),         # the per-domain window, nothing else
            ("pack_sequences", 1),     # the per-shard window
            ("inverted_index", 1),     # the term aggregation
            ("session_window_agg", 1), # the session-window aggregation
            ("gap_fill", 2),           # per-hour agg + carry/lead window
                                       # (r13: join-free lead-explode)
            ("event_anomaly", 1),      # the per-user window
        ],
    )
    def test_shuffle_budget(self, spark_noaqe, name, max_shuffles):
        df = FULL_REGISTRY[name].fn(spark_noaqe, SF)
        n = count_shuffles(df)
        assert n <= max_shuffles, (
            f"{name}: {n} Exchanges (budget {max_shuffles})"
        )

    def test_bm25_broadcasts_df_and_scalars(self, spark_noaqe):
        df = FULL_REGISTRY["bm25_search"].fn(spark_noaqe, SF)
        assert count_broadcast_joins(df) >= 2   # df table + corpus scalars

    def test_frame_sample_has_no_shuffle(self, spark_noaqe):
        df = FULL_REGISTRY["frame_sample"].fn(spark_noaqe, SF)
        assert count_shuffles(df) == 0


class TestRuntimeBloomJoinPruning:
    def test_selective_dim_join_injects_bloom_filter(self, spark, tmp_path):
        """Spark's runtime Bloom-filter join pruning (on by default in
        session.py's AQE config) must engage for the fact⋈filtered-dim
        shape: the filtered side's keys build a bloom_filter_agg and the
        fact scan gains a might_contain filter — the semi-join reduction
        that cuts fact-side shuffle volume at 100 TB. Pin it so a conf
        regression (or a Spark default change) is caught."""
        from globallinks_spark.queries import load

        prev_scan = spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold")
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        # local-fixture sizes sit under the production thresholds; zero
        # them so the rule fires the way it would on TB-scale inputs
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold", "0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            li = load(spark, SF, "lineitem")
            od = load(spark, SF, "orders").filter(
                F.col("o_orderstatus") == "F"
            )
            j = li.join(od, li.l_orderkey == od.o_orderkey)
            plan = j._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom" in plan.lower(), "runtime bloom filter not injected"
        finally:
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter"
                ".applicationSideScanSizeThreshold", prev_scan)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


class TestRound4PlanShapes:
    def test_approx_profile_bound_has_no_expand(self, spark_noaqe):
        """Two exact countDistinct in one Aggregate go through Expand
        (input tripled, hashed per grouping set — measured 4.4 s vs
        1.5 s at sf0.1). The rewrite runs one HLL pass plus a partial
        distinct per key column; a regression that reintroduces the
        single-Aggregate form shows up as an Expand node here."""
        from globallinks_spark.queries import FULL_REGISTRY

        df = FULL_REGISTRY["approx_profile_bound"].fn(spark_noaqe, SF)
        plan = plan_string(df)
        assert "Expand" not in plan, "countDistinct Expand reappeared"

    def test_quantiles_bound_no_exact_percentile_buffer(self, spark_noaqe):
        """The rank-error contract needs six exact percentiles. r11 ran
        them as ONE percentile(array(...)) aggregate — still a
        TypedImperativeAggregate buffering the whole value multiset
        (2.4 s of the entry's 2.6 s at sf0.1; single-reducer memory
        O(distinct values) at 100 TB). r12 computes them by rank
        arithmetic over a floor(value) histogram instead (identical
        values — same interpolation arithmetic, oracle-hash-checked).
        Pin: the ONLY percentile-family aggregate left in the plan is
        the approx_percentile sketch under test, and the histogram
        aggregation is present."""
        from globallinks_spark.queries import FULL_REGISTRY

        df = FULL_REGISTRY["approx_quantiles_bound"].fn(spark_noaqe, SF)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("percentile(") == 1, (  # the approx sketch only
            f"expected ONLY the approx_percentile sketch aggregate:\n{plan}"
        )
        assert "FLOOR(l_extendedprice" in plan or \
               "floor(l_extendedprice" in plan, (
            f"value-bucket histogram missing from the plan:\n{plan}"
        )

    def test_lang_id_scores_bound_once(self, spark_noaqe):
        """Each per-language score must appear ONCE as a bound attribute
        — the argmax CASE chain otherwise inlines the score tree
        ~2·(n_langs-1) times per language (measured ~160 evaluations per
        row at 10 languages). r12: the word-language scores are
        compiled-regex token counts (one regexp_count per language over
        one bound token string), so the plan must carry NO interpreted
        higher-order filter() lambdas at all — the property the
        ×1.10–1.21 interleaved A/B paid for."""
        from globallinks_spark.functions import text as TX
        from globallinks_spark.queries import FULL_REGISTRY

        df = FULL_REGISTRY["lang_id"].fn(spark_noaqe, SF)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        n_word_langs = len(TX.LANG_MARKERS) - len(TX.CHAR_LANGS)
        # one bound regex token count per space-written language (zh
        # scores by regexp_replace char count on raw text), each
        # appearing exactly once: bound attributes, not inlined copies.
        # Spark 4 canonicalizes regexp_count(x, p) to
        # size(regexp_extract_all(x, p, 0)) in the optimized plan.
        n_regex = plan.count("regexp_count(") + plan.count(
            "regexp_extract_all(")
        assert n_regex == n_word_langs, (
            f"{n_regex} regex token-count copies for "
            f"{n_word_langs} word-scored languages:\n{plan}"
        )
        assert plan.count("filter(") == 0, (
            f"interpreted HOF filter() back in the lang_id plan:\n{plan}"
        )


class TestR12OptimizationShapes:
    """Plan pins for the r12 optimization round's operator rewrites —
    each asserts the structural property the A/B measurement paid for,
    so a regression is caught by shape before it costs anything."""

    def test_simhash_single_explode_single_agg(self, spark_noaqe):
        """r12 simhash: tf-weighting commutes with per-instance voting,
        so the (doc, token) tf pre-aggregation and the bits-way
        bit-position unpivot are gone — the plan must contain exactly
        ONE Generate (the token explode; a second would be the bit
        unpivot returning) and at most 2 Exchanges (_spread round-robin
        + the single doc_id aggregation; the pre-r12 form had 4)."""
        import re

        spark_noaqe.catalog.clearCache()
        df = FULL_REGISTRY["simhash_fingerprint"].fn(spark_noaqe, SF)
        plan = plan_string(df)
        # formatted plans list each node in the tree AND the details
        # section — count the "(n) Generate" detail headers only
        n_gen = len(re.findall(r"\(\d+\) Generate", plan))
        assert n_gen == 1, f"{n_gen} Generates — bit unpivot is back?"
        assert count_shuffles(df) <= 2, (
            f"{count_shuffles(df)} Exchanges (budget 2: spread + agg)"
        )

    def test_range_join_two_scans_left_join(self, spark_noaqe):
        """r12 prior_event_stats: the LEFT bucketized interval join
        keeps empty-window events alive through the pair join, so the
        third events scan (the zero-row re-attach) must stay gone —
        exactly 2 parquet scans — and the join itself must be the LEFT
        outer form."""
        import re

        spark_noaqe.catalog.clearCache()
        df = FULL_REGISTRY["range_join"].fn(spark_noaqe, SF)
        plan = plan_string(df)
        # detail headers only — the tree section repeats each node
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        assert n_scans == 2, f"{n_scans} events scans (budget 2)"
        assert "LeftOuter" in plan, "LEFT interval join lost"
        assert count_shuffles(df) <= 3, (
            f"{count_shuffles(df)} Exchanges (budget 3: 2 join legs + agg)"
        )

    def test_simhash_near_dup_reads_fingerprints_from_cache(self, spark):
        """r12: the banded self-join's legs must read the persisted
        fingerprint frame, not recompute the simhash lineage per leg.
        (AQE session: the persist is registered at fn() time, so both
        legs plan as InMemoryTableScan and no leg re-derives words.)"""
        spark.catalog.clearCache()
        df = FULL_REGISTRY["simhash_near_dup"].fn(spark, SF)
        plan = plan_string(df)
        assert plan.count("InMemoryTableScan") >= 2, "legs not cached"
        # outside the cached-plan text there must be NO tokenization —
        # the only split(lower( copies live inside the single cached
        # simhash plan (printed once per InMemoryTableScan occurrence)
        assert plan.count("split(lower(") <= plan.count(
            "InMemoryTableScan"
        ), "a join leg re-derives the fingerprint lineage"
        spark.catalog.clearCache()


class TestR13OptimizationShapes:
    """Plan pins for the r13 optimization round's operator rewrites."""

    def test_gap_fill_single_scan_no_join(self, spark_noaqe):
        """r13 gap_fill: join-free lead-explode densification — ONE
        events scan (the r12 form re-scanned + re-aggregated events for
        the bounds branch; its committed plans were isomorphic because
        Catalyst never shared the aggregate between subtrees) and NO
        join of any kind: each real per-hour row explodes the grid
        hours it is responsible for."""
        import re

        df = FULL_REGISTRY["gap_fill"].fn(spark_noaqe, SF)
        plan = plan_string(df)
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        assert n_scans == 1, f"{n_scans} events scans (budget 1)"
        assert "Join" not in plan, "densification join returned"
        assert plan.count("Generate") >= 1, "grid explode missing"

    def test_range_join_right_side_explodes(self, spark_noaqe):
        """r13 prior_event_stats: bucket replication moved to the RIGHT
        side of the LEFT interval join, so the preserved left side (and
        the per-event aggregation fan-in) is un-exploded — the plan's
        Generate must sit under the join's right leg, i.e. the explode
        feeds the (r_ts, r_value) projection, not event_id."""
        df = FULL_REGISTRY["range_join"].fn(spark_noaqe, SF)
        plan = plan_string(df)
        assert "LeftOuter" in plan, "LEFT interval join lost"
        # exactly one Generate node (detail header), and its output
        # explodes next to r_value — the right leg's columns
        import re

        gens = re.findall(r"\(\d+\) Generate", plan)
        assert len(gens) == 1, f"{len(gens)} Generate nodes (want 1)"
        # the Generate detail block's Input list names the right leg's
        # columns (r_ts/r_value), not the left's event_id
        gen_detail = plan.split(gens[0], 1)[1][:400]
        assert "r_ts" in gen_detail, (
            "explode is not on the right (r_*) leg:\n" + gen_detail
        )
        assert "event_id" not in gen_detail, (
            "explode rides the preserved left leg:\n" + gen_detail
        )

    def test_quantiles_scale_path_has_no_percentile_buffer(self, spark_noaqe):
        """r12 verdict #7: q_quantiles' 100 TB path must not carry
        percentile()'s whole-multiset TypedImperativeAggregate. The
        size guard flips to the distributed window form above
        QUANTILES_EXACT_BUFFER_MAX_BYTES; that form's plan must contain
        no percentile aggregate, and its results must be cell-identical
        to the percentile form (the guard changes the plan, never the
        answer)."""
        from globallinks_spark import queries_ext as QX
        from globallinks_spark.queries_base import load as _load

        li = _load(spark_noaqe, SF, "lineitem")
        window_form = QX._quantiles_window_form(li)
        plan = plan_string(window_form)
        assert "percentile" not in plan.lower(), (
            "percentile buffer on the scale path"
        )
        exact = QX.q_quantiles(spark_noaqe, SF)
        assert "percentile(" in plan_string(exact), (
            "small-input path lost the single-exchange percentile form"
        )
        a = sorted(map(tuple, window_form.collect()))
        b = sorted(map(tuple, exact.collect()))
        assert a == b, "guard paths disagree"
        # NULL values, a single-row group and an all-NULL group, which
        # percentile() keeps with NULL quantiles
        edge = spark_noaqe.createDataFrame(
            [("A", 1.0), ("A", 2.0), ("A", None), ("A", 5.0),
             ("B", 3.0), ("N", None), ("N", None)],
            "l_returnflag string, l_extendedprice double",
        )
        a = sorted(map(tuple, QX._quantiles_window_form(edge).collect()))
        b = sorted(map(tuple, QX._quantiles_percentile_form(edge).collect()))
        assert a == b, "guard paths disagree on NULL edge rows"
        assert ("N", None, None, None, None) in a


class TestAudit:
    """plans.explain.audit: anti-pattern findings over the plan string.
    Each pattern is provoked deliberately, then the registry's own
    flagship entries are asserted free of error-severity hits — the
    'plan QA gates CI' contract from the module docstring."""

    @staticmethod
    def _hits(findings, pattern):
        return [f for f in findings if f["pattern"] == pattern]

    def test_flags_cartesian_product(self, spark_noaqe):
        from globallinks_spark.plans.explain import audit

        # a tiny crossJoin plans as BroadcastNestedLoopJoin; the
        # CartesianProduct node appears when neither side broadcasts
        prev = spark_noaqe.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark_noaqe.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a = spark_noaqe.range(10)
            b = spark_noaqe.range(10).withColumnRenamed("id", "id2")
            got = audit(a.crossJoin(b))
        finally:
            spark_noaqe.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", prev
            )
        assert self._hits(got, "CartesianProduct"), got

    def test_flags_python_udf(self, spark_noaqe):
        from pyspark.sql.functions import udf

        from globallinks_spark.plans.explain import audit

        slow = udf(lambda x: x + 1, "bigint")
        got = audit(spark_noaqe.range(10).select(slow("id").alias("y")))
        assert self._hits(got, "BatchEvalPython"), got

    def test_flags_single_partition_exchange(self, spark_noaqe):
        from pyspark.sql import Window

        from globallinks_spark.plans.explain import audit

        w = Window.orderBy("id")  # global window → SinglePartition
        got = audit(
            spark_noaqe.range(10).withColumn("rn", F.row_number().over(w))
        )
        assert self._hits(got, "Exchange SinglePartition"), got

    def test_shuffle_count_reported(self, spark_noaqe):
        from globallinks_spark.plans.explain import audit

        got = audit(
            spark_noaqe.range(10).groupBy((F.col("id") % 3).alias("k"))
            .count()
        )
        info = self._hits(got, "shuffle-count")
        assert info and "1 exchange" in info[0]["detail"], got

    @pytest.mark.parametrize("name", sorted(FULL_REGISTRY))
    def test_every_registry_entry_has_no_error_findings(
        self, spark_noaqe, name
    ):
        """Blanket plan-QA gate (r6 verdict #4): EVERY query the engine
        ships — all FULL_REGISTRY entries, not just flagships — must
        plan free of error-severity anti-patterns (CartesianProduct,
        BatchEvalPython). A future query smuggling a row-at-a-time
        Python UDF or an unconditioned cross join fails CI by name.
        warn/info findings stay allowed: the legitimate ones
        (packing's single pinned SinglePartition tail, interval-join
        BNLJ fallbacks on tiny sides) are asserted individually
        elsewhere in this file."""
        from globallinks_spark.plans.explain import audit

        errors = [
            f for f in audit(FULL_REGISTRY[name].fn(spark_noaqe, SF))
            if f["severity"] == "error"
        ]
        assert errors == [], errors

    def test_sortmergejoin_reported_as_info(self, spark_noaqe):
        from globallinks_spark.plans.explain import audit

        prev = spark_noaqe.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark_noaqe.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a = spark_noaqe.range(1000)
            b = spark_noaqe.range(1000).withColumn("v", F.col("id") * 2)
            got = audit(a.join(b, "id"))
        finally:
            spark_noaqe.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", prev
            )
        smj = self._hits(got, "SortMergeJoin")
        assert smj and smj[0]["severity"] == "info", got
