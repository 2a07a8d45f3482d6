"""Physical-plan assertions: the plan we want, not just the first one that
passed. These pin the properties that matter at 100 TB:

- filters reach the parquet scan (PushedFilters)
- scans read only needed columns (ReadSchema)
- small dims broadcast (BroadcastHashJoin, never a shuffle of the fact side)
- grouped aggs have map-side partial aggregation
- expression-only operators stay inside WholeStageCodegen
- the extraction pipeline has exactly one shuffle
"""

import re

from pyspark.sql import functions as F

import plan_helpers
from horizon_ocr_python_spark.operators import relational, textops

SF = "/root/testdata/sf0.001"


class TestScans:
    def test_quality_filter_pushdown_and_pruning(self, spark):
        df = textops.quality_filter(spark, SF)
        plan = plan_helpers.physical_plan(df)
        assert "PushedFilters" in plan
        # n_chars >= 150 must reach the scan
        assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(n_chars,150\)",
                         plan), plan_helpers.pushed_filters_of(df)
        # text column needed for the trim-length filter, but doc-irrelevant
        # columns (source) must be pruned
        assert "source" not in plan_helpers.read_schema_of(df)

    def test_token_count_reads_two_columns(self, spark):
        df = textops.token_count(spark, SF)
        rs = plan_helpers.read_schema_of(df)
        assert "doc_id" in rs and "text" in rs
        assert "lang" not in rs and "source" not in rs and "n_chars" not in rs


class TestJoins:
    def test_q3_broadcasts_customer(self, spark):
        df = relational.top_revenue_orders(spark, SF)
        assert plan_helpers.has_broadcast_join(df)

    def test_q1_has_partial_aggregation(self, spark):
        df = relational.pricing_summary(spark, SF)
        plan = plan_helpers.physical_plan(df)
        assert re.search(r"partial_(sum|count|avg)", plan), \
            "no map-side partial aggregation in Q1 plan"


class TestCodegen:
    def test_expression_operators_codegen(self, spark):
        for fn in [textops.lang_id, textops.fingerprint, textops.quality_score]:
            assert plan_helpers.has_wholestage_codegen(fn(spark, SF)), \
                fn.__name__


class TestShuffles:
    def test_extract_pipeline_single_shuffle(self, spark, tmp_path):
        """read -> salted repartition -> Arrow row map: exactly one
        Exchange, and the row map is MapInArrow (no pandas hop)."""
        from horizon_ocr_python_spark.engine.extract import extract_stage
        from horizon_ocr_python_spark.engine.partitioning import salted_repartition
        from horizon_ocr_python_spark.engine.pipeline import pages_dataframe

        path = str(tmp_path / "pages")
        pages_dataframe(spark, 20, seed=42).write.parquet(path)
        docs = extract_stage(salted_repartition(spark.read.parquet(path), 8))
        plan = plan_helpers.physical_plan(docs)
        assert plan_helpers.n_exchanges(docs) == 1, plan
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan

    def test_worst_k_single_shuffle(self, spark):
        from horizon_ocr_python_spark.operators import sessionize

        df = sessionize.worst_k(spark, SF)
        # partitionBy(user_id) window + final orderBy -> hash + range = 2;
        # the window itself must not add more
        assert plan_helpers.n_exchanges(df) <= 2, \
            plan_helpers.physical_plan(df)


class TestFunctions:
    def test_currency_and_shape_exprs(self, spark):
        from horizon_ocr_python_spark.operators.validators_sql import (
            currency_valid_expr)

        df = spark.createDataFrame(
            [("USD",), ("$",), ("XXX",), ("usd",)], ["c"])
        got = [r.ok for r in df.select(currency_valid_expr(F.col("c")).alias("ok"))
               .collect()]
        assert got == [True, True, False, True]


class TestRound2Plans:
    """Plan shapes for the round-2 operators: every similarity/dedup join is
    an equi-join (no nested-loop/cartesian anywhere), fan-outs prune their
    scans, and Q3 filters the orders side before the fact join."""

    def test_s1_page_fanout_prunes_scan(self, spark):
        from horizon_ocr_python_spark.operators import pagemodel

        rs = plan_helpers.read_schema_of(pagemodel.s1_page_fanout(spark, SF))
        assert "doc_id" in rs and "text" in rs
        assert "lang" not in rs and "source" not in rs

    def test_k9_substring_span_prunes_scan(self, spark):
        from horizon_ocr_python_spark.operators import pagemodel

        rs = plan_helpers.read_schema_of(
            pagemodel.k9_substring_span(spark, SF))
        assert "lang" not in rs and "n_chars" not in rs

    def test_r6_style_merge_equi_join_only(self, spark):
        from horizon_ocr_python_spark.operators import pagemodel

        plan = plan_helpers.physical_plan(pagemodel.r6_style_merge(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_jaccard_band_join_is_equi(self, spark):
        from horizon_ocr_python_spark.operators import dedup

        plan = plan_helpers.physical_plan(dedup.ngram_jaccard_pairs(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_q3_filters_orders_before_fact_join(self, spark):
        """The lineitem join input must already contain the customer
        broadcast join (orders pre-filtered by segment), i.e. the broadcast
        hash join appears below the sort-merge/shuffled join of lineitem."""
        from horizon_ocr_python_spark.operators import relational

        df = relational.top_revenue_orders(spark, SF)
        plan = plan_helpers.physical_plan(df)
        assert plan_helpers.has_broadcast_join(df)
        # the customer join (on o_custkey/c_custkey) must be NESTED UNDER
        # the fact join (on l_orderkey/o_orderkey): in explain text the
        # descendant operator prints later. (At sf0.001 Spark may broadcast
        # lineitem too — the nesting, not the join strategy, is the
        # property that survives scale-up.)
        fact_join = re.search(r"Join \[l_orderkey", plan)
        cust_join = re.search(r"Join \[o_custkey", plan)
        assert fact_join and cust_join, plan[:1500]
        assert cust_join.start() > fact_join.start(), \
            "customer join is not under the fact join"


class TestRound5Plans:
    """Plan shapes for the round-5 operators: map-side partial aggregation,
    pruned scans, no nested-loop joins."""

    def test_o9_line_confidence_partial_agg_and_pruning(self, spark):
        from horizon_ocr_python_spark.operators import curation

        df = curation.o9_line_confidence(spark, SF)
        plan = plan_helpers.physical_plan(df)
        assert re.search(r"partial_(sum|count|min|avg)", plan), \
            "no map-side partial aggregation"
        rs = plan_helpers.read_schema_of(df)
        assert "doc_id" in rs and "text" not in rs and "lang" not in rs

    def test_n1_normalized_split_no_cartesian(self, spark):
        from horizon_ocr_python_spark.operators import curation

        plan = plan_helpers.physical_plan(
            curation.n1_normalized_split(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert re.search(r"partial_(sum|max)", plan)

    def test_v9_normalized_value_codegen(self, spark):
        from horizon_ocr_python_spark.operators import validators_sql

        df = validators_sql.v9_normalized_value(spark, SF)
        assert plan_helpers.has_wholestage_codegen(df)
        rs = plan_helpers.read_schema_of(df)
        assert "text" not in rs and "html" not in rs


class TestArtifactsStagePlan:
    """S7 sampled artifacts: the url-hash gate must run JVM-side BELOW the
    Arrow exchange (payloads of unsampled rows never reach Python), and the
    stage ships only (url, warc_ts, html, lang)."""

    def test_sample_filter_below_python_eval(self, spark):
        from horizon_ocr_python_spark.engine.artifacts import artifacts_stage
        from horizon_ocr_python_spark.engine.pipeline import pages_dataframe

        df = artifacts_stage(pages_dataframe(spark, 50, seed=42), every_n=10)
        plan = plan_helpers.physical_plan(df)
        py = re.search(r"MapInArrow", plan)
        flt = re.search(r"Filter .*xxhash64", plan)
        assert py and flt, plan[:1500]
        # explain prints parents first: the Python eval must be ABOVE
        # (printed before) the filter feeding it
        assert py.start() < flt.start(), "hash gate runs after the Arrow eval"
        proj = re.search(r"Project \[[^\]]*\]", plan)
        assert proj and "warc_ts" in proj.group(0), proj
        assert "text" not in proj.group(0), \
            "unneeded columns shipped to the artifacts stage"
