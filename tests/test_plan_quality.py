"""Physical-plan quality gates: the scale properties SURVEY §4 promises.

These assert on .explain output so a regression that silently turns a
broadcast join into a shuffle, or stops a filter from reaching the parquet
scan, fails CI — not just a bench run.
"""

import pytest
from pyspark.sql import functions as F

from ndjson_spatial_spark.operators.relational import aggregate, ndjson_filter, ndjson_join

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


class TestPushdown:
    def test_filter_pushed_to_parquet_scan(self, spark, lineitem):
        df = ndjson_filter(lineitem, "d.l_quantity >= 30.0").select("l_orderkey")
        plan = plan_of(df)
        assert "PushedFilters: [" in plan and "GreaterThanOrEqual(l_quantity" in plan

    def test_column_pruning_reaches_scan(self, spark, lineitem):
        df = ndjson_filter(lineitem, "d.l_quantity >= 30.0").select("l_orderkey")
        plan = plan_of(df)
        # ReadSchema must not include unprojected columns like l_comment-ish
        read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
        assert "l_extendedprice" not in read and "l_orderkey" in read


class TestJoinStrategy:
    def test_small_ref_broadcasts(self, spark, lineitem):
        part = spark.read.parquet(f"{SF}/part.parquet")
        df = ndjson_join(lineitem, part, ["d.l_partkey"], ["d.p_partkey"])
        assert "BroadcastHashJoin" in plan_of(df)

    def test_agg_is_partial_then_final(self, spark, lineitem):
        df = aggregate(lineitem, ["d.l_returnflag"], "sum", "d.l_quantity")
        plan = plan_of(df)
        # hash aggregate appears twice (partial + final) around one exchange
        assert plan.count("HashAggregate") >= 2


class TestCodegen:
    def test_relational_path_has_no_python(self, spark, lineitem):
        df = aggregate(
            ndjson_filter(lineitem, "d.l_quantity >= 30.0"),
            ["d.l_returnflag"], "sum", "d.l_quantity",
        )
        plan = plan_of(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        # force execution so AQE finalizes, then codegen spans are visible
        df.collect()
        final = plan_of(df)
        assert "WholeStageCodegen" in final or "isFinalPlan=true" in final

    def test_spatial_join_uses_arrow_not_rowwise_python(self, spark):
        from ndjson_spatial_spark.operators.spatial import spatial_intersection_join
        from ndjson_spatial_spark.functions.geo import st_point
        pts = spark.range(10).select(
            "id", st_point(F.col("id").cast("double"), F.col("id").cast("double")).alias("geom")
        )
        df = spatial_intersection_join(pts, pts.select("geom"), res=5)
        plan = plan_of(df)
        assert "ArrowEvalPython" in plan      # vectorized pandas UDFs
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def _udf_nodes(plan: str, name: str) -> int:
    return plan.count(f"ArrowEvalPython [{name}(")


class TestUdfOncePerApplication:
    """A refinement UDF whose result is then filtered on must run once per
    row: each application is one ArrowEvalPython node, not a second copy
    pushed down into the filter."""

    def test_pair_intersection_once_per_slow_branch(self, spark):
        from ndjson_spatial_spark.functions.geo import GEOM_TYPE, st_point
        from ndjson_spatial_spark.operators.spatial import spatial_intersection_join

        pts = spark.range(10).select(
            "id", st_point(F.col("id") * 100.0, F.col("id") * 100.0).alias("geom"))
        ell = ("Polygon", [0.0, 800.0, 800.0, 300.0, 300.0, 0.0, 0.0],
               [0.0, 0.0, 300.0, 300.0, 800.0, 800.0, 0.0], [0, 7], [0, 1])
        ref = spark.createDataFrame([(ell,)], f"geom {GEOM_TYPE.simpleString()}")
        df = spatial_intersection_join(pts, ref, res=12)
        # three slow sub-joins (general stream x fast ref, general x
        # general, fast stream x general ref), one application each
        assert _udf_nodes(plan_of(df), "_pair_intersection") == 3
        got = {r["id"] for r in df.collect()}
        assert {1, 2} <= got and not got & {4, 5, 6, 7, 8, 9}

    def test_clip_to_cell_once(self, spark):
        from ndjson_spatial_spark.functions.geo import GEOM_TYPE
        from ndjson_spatial_spark.operators.spatial import subdivide_polygons

        sq = ("Polygon", [0.0, 10.0, 10.0, 0.0, 0.0],
              [0.0, 0.0, 10.0, 10.0, 0.0], [0, 5], [0, 1])
        df = subdivide_polygons(
            spark.createDataFrame([(sq,)], f"geom {GEOM_TYPE.simpleString()}"),
            cell=4.0)
        assert _udf_nodes(plan_of(df), "_clip_to_cell") == 1
        assert df.count() == 9


class TestGcExplodePlan:
    def test_gc_explode_is_pure_catalyst(self, spark):
        # round-4: the auto-explode of GeometryCollections inside the
        # spatial join must add NO Python stage — gc_members_expr is a
        # transform/slice expression, so the explode stays JVM-side
        from ndjson_spatial_spark.functions.geo import (
            explode_collections,
            st_point,
        )

        pts = spark.range(10).select(
            "id", st_point(F.col("id").cast("double"),
                           F.col("id").cast("double")).alias("geom")
        )
        df = explode_collections(pts)
        plan = plan_of(df)
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
        assert "Generate explode" in plan or "Generate" in plan

    def test_geohash_is_pure_catalyst(self, spark):
        from ndjson_spatial_spark.functions.cells_fn import st_geohash

        df = spark.range(10).select(
            st_geohash(F.col("id").cast("double"),
                       F.col("id").cast("double"), 9).alias("gh")
        )
        plan = plan_of(df)
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


class TestRound5Plans:
    def test_bm25_is_pure_catalyst_with_single_stats_row(self, spark):
        # the whole scoring path must stay JVM-side (no Python workers),
        # and the stats side of the join must be a broadcast (1 row)
        from ndjson_spatial_spark.operators.search import bm25_score_topk

        docs = spark.range(50).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("alpha beta gamma doc "),
                     F.col("id").cast("string")).alias("text"),
        )
        df = bm25_score_topk(docs, ["alpha", "gamma"], k=5)
        plan = plan_of(df)
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "Broadcast" in plan
        assert "CartesianProduct" not in plan

    def test_dup_spans_single_wide_exchange_no_python(self, spark):
        # ONE shuffle keyed on the window gram (plus the per-doc window);
        # zero Python stages
        from ndjson_spatial_spark.operators.dedup import duplicate_spans

        docs = spark.range(50).select(
            F.col("id").alias("doc_id"),
            F.lit("a b c d e f g h i j").alias("text"),
        )
        plan = plan_of(duplicate_spans(docs, min_tokens=4))
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_dbscan_candidates_are_equi_join_not_cartesian(self, spark):
        from ndjson_spatial_spark.operators.cluster import dbscan

        pts = spark.range(100).select(
            F.col("id"),
            (F.col("id") % 10).cast("double").alias("x"),
            (F.col("id") / 10).cast("double").alias("y"),
        )
        plan = plan_of(dbscan(pts, 1.0, 3))
        assert "CartesianProduct" not in plan
        # the 3x3 cell replication joins on the packed cell key; round-6:
        # the candidate join runs eagerly behind a localCheckpoint, so its
        # plan is inspected via the operator's debug hook
        cand_plan = plan_of(dbscan.last_candidates)
        assert "CartesianProduct" not in cand_plan
        assert "__cell" in cand_plan

    def test_boolean_overlay_is_arrow_batched(self, spark):
        from ndjson_spatial_spark.functions.geo import st_boolean, st_point

        # point inputs return null but exercise the plan shape
        g = st_point(F.lit(1.0), F.lit(2.0))
        df = spark.range(10).select(
            st_boolean("union")(g, g).alias("g"))
        plan = plan_of(df)
        assert "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan


class TestDedupPlans:
    def test_semantic_dedup_is_equi_join_no_python(self, spark):
        from ndjson_spatial_spark.operators.similarity import semantic_dedup

        df = spark.range(40).select(
            F.col("id").alias("vec_id"),
            F.array(*[(F.col("id") % 5 + j).cast("double")
                      for j in range(4)]).alias("embedding"))
        out = semantic_dedup(df, eps=0.9, dim=4,
                             centroids=[[0.0, 1.0, 2.0, 3.0],
                                        [4.0, 5.0, 6.0, 7.0]])
        plan = plan_of(out)
        # pairwise stage is confined to the cluster key: an equi-join,
        # never a cartesian; assignment is pure Catalyst
        assert "CartesianProduct" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_paragraph_dedup_all_codegen(self, spark):
        from ndjson_spatial_spark.operators.dedup import dedup_paragraphs

        df = spark.range(20).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("a b c\nd e f "), F.col("id").cast("string"))
            .alias("text"))
        plan = plan_of(dedup_paragraphs(df))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
