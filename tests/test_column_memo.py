"""The operators' Column memo (functions/memo.py).

A repeated build with the same parameters must construct no Column (zero
`pyspark.sql.functions` invocations) and must plan exactly what a build
from an empty memo plans.  Interleaved parameter sets catch a memo key that
misses an argument the Columns depend on: the memo would then hand one
parameter set another's Columns and the plans would differ.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import builtin

from ndjson_spatial_spark.flagship import docs_tile_pipeline
from ndjson_spatial_spark.functions import memo
from ndjson_spatial_spark.functions.geo import GEOM_TYPE, st_point
from ndjson_spatial_spark.operators.spatial import spatial_intersection_join
from ndjson_spatial_spark.sources.documents import synth_documents


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    pq = str(tmp_path_factory.mktemp("memo") / "docs.parquet")
    synth_documents(spark, n_docs=300, seed=9, partitions=2).write.parquet(pq)
    return spark.read.parquet(pq)


@pytest.fixture(scope="module")
def join_inputs(spark):
    # 30 coincident points make one hot cell for the salted build; the
    # L-shaped ref sends pairs down the Arrow refinement path
    pts = [(i, 1000.0 + 37.0 * i, 2000.0 - 11.0 * i) for i in range(40)]
    pts += [(100 + i, 5000.0, 5000.0) for i in range(30)]
    stream = spark.createDataFrame(pts, "sid long, x double, y double") \
        .select("sid", st_point(F.col("x"), F.col("y")).alias("geom"))
    rect = ("Polygon", [0.0, 6000.0, 6000.0, 0.0, 0.0],
            [0.0, 0.0, 6000.0, 6000.0, 0.0], [0, 5], [0, 1])
    ell = ("Polygon", [0.0, 3000.0, 3000.0, 1000.0, 1000.0, 0.0, 0.0],
           [0.0, 0.0, 1000.0, 1000.0, 3000.0, 3000.0, 0.0], [0, 7], [0, 1])
    ref = spark.createDataFrame(
        [(1, rect), (2, ell)],
        f"rid long, geom {GEOM_TYPE.simpleString()}")
    return stream, ref


@pytest.fixture
def count_invocations(monkeypatch):
    """Counts pyspark.sql.functions invocations (every F.<fn> call)."""
    calls = [0]
    orig = builtin._invoke_function

    def counted(*args, **kwargs):
        calls[0] += 1
        return orig(*args, **kwargs)

    monkeypatch.setattr(builtin, "_invoke_function", counted)
    return calls


@pytest.fixture
def comparable_checkpoints(spark, monkeypatch):
    # each localCheckpoint is a new RDD, so two spatial-join builds never
    # share a plan; without it the plans compare on what the memo shares
    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint",
                        lambda self, eager=True: self)


def _assert_repeat_is_free(build, calls):
    build()
    calls[0] = 0
    again = build()
    assert calls[0] == 0
    memo.clear()
    assert again.sameSemantics(build())


def test_repeated_flagship_build_constructs_no_column(docs,
                                                      count_invocations):
    _assert_repeat_is_free(
        lambda: docs_tile_pipeline(docs, res=9, zooms=(6, 9), ref_mod=29),
        count_invocations)


@pytest.mark.parametrize("strategy", ["broadcast", "salted"])
def test_repeated_spatial_join_build_constructs_no_column(
        spark, join_inputs, strategy, count_invocations,
        comparable_checkpoints):
    stream, ref = join_inputs
    kw = {} if strategy == "broadcast" else dict(
        broadcast_ref=False, salt_hot_cells=True, hot_threshold=10,
        target_per_salt=5, sketch_sample_frac=None)

    def build():
        return spatial_intersection_join(stream, ref, res=12,
                                         keep_ref_cols=("rid",), **kw)

    try:
        _assert_repeat_is_free(build, count_invocations)
        if strategy == "salted":
            plan = build()._jdf.queryExecution().optimizedPlan().toString()
            assert "__salt" in plan   # the salt plan found the hot cell
    finally:
        spark.catalog.clearCache()


def test_interleaved_flagship_parameters_plan_like_fresh_builds(docs):
    own = F.col("doc_id").endswith("7")
    params = [
        dict(res=9, zooms=(6, 9)),
        dict(res=7, zooms=(5,)),
        dict(res=9, zooms=(6, 9), ref_mod=31),
        dict(res=9, zooms=(6, 9), ref_pred=own),
    ]
    fresh = []
    for p in params:
        memo.clear()
        fresh.append(docs_tile_pipeline(docs, **p))
    for i, a in enumerate(fresh):
        for b in fresh[i + 1:]:
            assert not a.sameSemantics(b)
    memo.clear()
    for i in (0, 1, 0, 2, 1, 3, 2, 3, 0):
        assert docs_tile_pipeline(docs, **params[i]).sameSemantics(fresh[i])


def test_interleaved_join_parameters_plan_like_fresh_builds(
        join_inputs, comparable_checkpoints):
    stream, ref = join_inputs
    renamed = (stream.withColumnRenamed("geom", "g"),
               ref.withColumnRenamed("geom", "g"))
    builds = [
        lambda: spatial_intersection_join(stream, ref, res=12),
        # cap=4 coarsens the 6 km rect below res 14: mixed-resolution terms
        lambda: spatial_intersection_join(stream, ref, res=14, cap=4),
        lambda: spatial_intersection_join(*renamed, geom_col="g", res=12),
    ]
    fresh = []
    for b in builds:
        memo.clear()
        fresh.append(b())
    memo.clear()
    for i in (0, 1, 2, 0, 2, 1):
        assert builds[i]().sameSemantics(fresh[i])


def test_memo_is_bounded_and_clears_when_full():
    memo.clear()
    for k in range(300):
        memo.memo(("bounded", k), lambda: k)
    assert memo.memo(("bounded", 299), lambda: -1) == 299
    assert memo.memo(("bounded", 0), lambda: -1) == -1
    memo.clear()
