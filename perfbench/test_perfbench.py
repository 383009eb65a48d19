"""Self-tests of the benchmark:  python3 -m pytest perfbench -q

The first group checks the benchmark's own machinery (shape generator,
fingerprint, plan reader, generator determinism) in one small local session.
The second group runs the benchmark command itself and checks that each
workload exercises the layers it was chosen for; it takes a few minutes.
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
import zlib

import numpy as np
import pandas as pd
import pytest

from perfbench import oracle, run, shapes, workloads


# ----------------------------------------------------------- no Spark

def _inside(members, x, y):
    return any(b[0] <= x <= b[2] and b[1] <= y <= b[3]
               for m in members for b in m)


@pytest.mark.parametrize("kind", shapes.KINDS)
def test_general_shapes_are_the_declared_union_of_rects(kind):
    """The GeoJSON a shape is written as covers exactly the rects it was
    built from: the oracle's decomposition of the GeoJSON alone has the same
    members, the same area per member and the same point membership."""
    rng = random.Random(7)
    for _ in range(50):
        x0, y0 = rng.uniform(-1e6, 1e6), rng.uniform(-1e6, 1e6)
        w, h = rng.uniform(2e3, 5e4), rng.uniform(2e3, 5e4)
        geom, declared = shapes.general_shape(kind, x0, y0, w, h, rng)
        derived = oracle.members(json.loads(json.dumps(geom)))
        assert len(derived) == len(declared)
        for d, e in zip(derived, declared):
            area = lambda bs: sum((b[2] - b[0]) * (b[3] - b[1]) for b in bs)  # noqa: E731
            assert area(d) == pytest.approx(area(e), rel=1e-12)
        for _ in range(200):
            px, py = x0 + rng.uniform(-0.1, 1.1) * w, y0 + rng.uniform(-0.1, 1.1) * h
            assert _inside(derived, px, py) == _inside(declared, px, py)


def test_rewrite_is_seeded():
    text = json.dumps({"type": "Point", "coordinates": [1.5, 2.5]})
    a = [shapes.rewrite_span_text(text, 3, i) for i in range(400)]
    assert a == [shapes.rewrite_span_text(text, 3, i) for i in range(400)]
    assert a != [shapes.rewrite_span_text(text, 4, i) for i in range(400)]
    share = sum(t != text for t in a) / len(a)
    assert 0.04 < share < 0.2


def test_join_generator_is_seeded():
    def gen(seed):
        return workloads.JoinPartitioned(seed, "/nonexistent").generate()

    (p1, r1), (p2, r2), (p3, _) = gen(5), gen(5), gen(6)
    pd.testing.assert_frame_equal(p1, p2)
    pd.testing.assert_frame_equal(r1, r2)
    assert not p1.equals(p3)
    hot = int(workloads.JOIN_POINTS * workloads.JOIN_HOT_FRAC)
    # every seed puts the whole hot share into one box narrower than a
    # 5 km histogram bin, so it lies within at most four adjacent bins
    for p in (p1, p3):
        counts = np.histogram2d(p["x"], p["y"], bins=300)[0].ravel()
        assert hot <= np.sort(counts)[-4:].sum() < 1.1 * hot


def test_tiles_oracle_on_hand_examples():
    # a rect ref and a point inside it: one tile per zoom, on the point
    ref = {"type": "Polygon", "coordinates": [[[10.5, 10.5], [2e4, 10.5],
           [2e4, 2e4], [10.5, 2e4], [10.5, 10.5]]]}
    pt = {"type": "Point", "coordinates": [100.25, 200.75]}
    ids = ["a", "b"]
    ref_doc = next(f"r{i}" for i in range(1000)
                   if zlib.crc32(f"r{i}".encode()) % 29 == 0)
    ids[0] = ref_doc
    out = oracle.docs_tiles_expected(ids, [json.dumps(ref), json.dumps(pt)],
                                     (6, 9), 29)
    got = out[out["doc_id"] == "b"].sort_values("zoom")
    assert list(got["zoom"]) == [6, 9]
    for z, tx, ty, tid in got[["zoom", "tile_x", "tile_y", "tile_id"]] \
            .itertuples(index=False):
        n = 1 << z
        assert tx == int((100.25 + oracle.MERC_MAX) / (2 * oracle.MERC_MAX) * n)
        assert ty == int((oracle.MERC_MAX - 200.75) / (2 * oracle.MERC_MAX) * n)
        assert tid >> 58 == z


# -------------------------------------------------------- small session

@pytest.fixture(scope="module")
def spark():
    host = run.host_facts()
    host["cpus"] = min(host["cpus"], 2)
    run.configure_env(host)
    s = run.start_session(host, {})
    yield s
    run.stop_session(s)


def test_fingerprint_is_order_independent_and_overflow_safe(spark):
    from pyspark.sql import functions as F

    from perfbench.measure import fingerprint_of

    big = spark.range(200_000).select(
        F.col("id"), (F.col("id") * 7919 % 1000).alias("k"),
        F.lit(2**62).alias("huge"))
    a = fingerprint_of(big)
    b = fingerprint_of(big.orderBy(F.desc("k")).repartition(7))
    assert a == b and a[0] == 200_000
    # one changed value changes the checksum
    c = fingerprint_of(big.withColumn(
        "k", F.when(F.col("id") == 5, F.lit(-1)).otherwise(F.col("k"))))
    assert c != a
    # the plain sum of row hashes overflows a long under ANSI mode
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="(?i)overflow"):
        big.agg(F.sum(F.xxhash64("id", "k", "huge"))).collect()


def test_plan_reader_sees_exchange_and_python(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    from perfbench.measure import read_plan_metrics

    @pandas_udf("long")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1

    df = (spark.range(10_000, numPartitions=4)
          .groupBy((F.col("id") % 10).alias("k")).count()
          .select("k", plus_one("count").alias("c")))
    assert len(df.collect()) == 10
    m = read_plan_metrics(df)
    assert m["shuffle_write_mb"] > 0 and m["shuffle_read_mb"] > 0
    udf = m["python"]["plus_one"]
    assert udf["sent_mb"] > 0 and udf["received_mb"] > 0
    assert udf["rows"] == 10


def test_docs_generator_is_seeded(spark, monkeypatch):
    from perfbench.measure import fingerprint_of

    monkeypatch.setattr(workloads, "N_DOCS", 3_000)

    def fp(seed):
        w = workloads.DocsTilesGeneral(seed, str(run.WORK))
        return fingerprint_of(w.generate(spark))

    assert fp(1) == fp(1)
    assert fp(1) != fp(2)


def test_holed_ref_tiles_match_oracle(spark):
    """A rect stream doc against a rect-with-hole ref whose hole reaches
    outside their intersection (shapes from docs_tiles_general, seed 1,
    50k docs).  Fails while the engine keeps the hole ring unclipped: the
    intersection then carries a stray ring and assign_tiles emits the z9
    tile (330, 189) that lies inside the hole."""
    from ndjson_spatial_spark import flagship
    from ndjson_spatial_spark.sources.documents import DOCS_SCHEMA

    def ring(x0, y0, x1, y1):
        return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]

    ref = {"type": "Polygon", "coordinates": [
        ring(5762098.33987063, 5158582.993669093,
             5806222.575328107, 5188269.720376782),
        ring(5771847.683128863, 5163237.879159795,
             5798092.898957624, 5179685.281909391)[::-1]]}
    rect = {"type": "Polygon", "coordinates": [
        ring(5761534.446491576, 5153623.343071942,
             5793757.40945242, 5166520.407137054)]}
    ids = ["doc0000033544", "doc0000000320"]
    assert zlib.crc32(ids[0].encode()) % 29 == 0   # the ref
    assert zlib.crc32(ids[1].encode()) % 29 != 0
    texts = [json.dumps(ref), json.dumps(rect)]
    docs = spark.createDataFrame(
        [(d, [("geometry", t, None, 0)]) for d, t in zip(ids, texts)],
        DOCS_SCHEMA)
    got = flagship.docs_tile_pipeline(docs, res=9, zooms=(6, 9)).toPandas()
    want = oracle.docs_tiles_expected(ids, texts, (6, 9), 29)
    key = ["doc_id", "zoom", "tile_x", "tile_y", "tile_id"]
    assert sorted(map(tuple, got[key].values.tolist())) == \
        sorted(map(tuple, want[key].values.tolist()))


# -------------------------------------------------- the benchmark command

def _bench(workload: str, trace: int) -> dict:
    # a docs_tiles_general query alone takes 20-40 s
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=run.ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _values(result: dict) -> dict:
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", ["docs_tiles", "join_partitioned"])
def test_end_to_end_metrics_and_correctness(workload):
    r = _bench(workload, 0)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 4
    assert set(r["metrics"]) == set(run.END_TO_END)
    assert all(v > 0 for v in _values(r).values())


def test_docs_tiles_never_reaches_python():
    r = _bench("docs_tiles", 1)
    m = _values(r)
    assert r["correct"]
    assert m["udf.sent_mb"] == 0 and m["geo.parse_rows"] == 0
    assert m["bbox_fast.pairs"] > 0 and m["spatial.candidates"] == 0
    assert 0.75 < m["trace.coverage"] < 1.25


def test_join_partitioned_salts_and_shuffles():
    r = _bench("join_partitioned", 1)
    m = _values(r)
    assert r["correct"]
    assert m["spatial.salted_joins"] > 0
    assert m["exchange.shuffle_write_mb"] > 0
    assert m["spatial.refine_rows"] > 0
    assert 0.75 < m["trace.coverage"] < 1.25


def test_docs_tiles_general_takes_the_general_branch():
    r = _bench("docs_tiles_general", 1)
    m = _values(r)
    assert m["geo.parse_rows"] > 0
    assert m["spatial.refine_rows"] > 0 and m["spatial.candidates"] > 0
    assert m["udf.tile_cover.python_s"] > 0


def test_docs_tiles_general_matches_oracle():
    """The whole general workload against its oracle.  The holed-ref defect
    of test_holed_ref_tiles_match_oracle shows here only on seeds where a
    hole crosses an intersection's edge inside a tile (seed 1 at 50k docs
    did; seed 3 at 30k docs does not)."""
    r = _bench("docs_tiles_general", 0)
    assert r["correct"] and r["failed"] == 0
