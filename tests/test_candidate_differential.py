"""Differential test of the spatial candidate stage across join strategies.

Seeded inputs mix points, axis rects, L-shaped (concave) polygons, rects
with holes, GeometryCollections and over-`cap` shapes whose covers coarsen
(so ancestor terms take part), with coincident duplicates and coordinates
on cell edges.  Every join strategy (broadcast, partitioned, salted) must
return exactly the pairs an exhaustive oracle finds: the engine's own
refinement applied to the full cross product, with no cell index at all.
Missed candidates and duplicated pairs both show up as a multiset diff.
"""

import json
from collections import Counter
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ndjson_spatial_spark.functions.geo import parse_geojson
from ndjson_spatial_spark.kernels import cells as KC
from ndjson_spatial_spark.operators.bbox_fast import (
    bbox_intersection_join,
    flat_bbox,
)
from ndjson_spatial_spark.operators.spatial import (
    _pair_intersection,
    _with_terms,
    spatial_intersection_join,
)
from ndjson_spatial_spark.plans.salting import (
    hot_key_plan,
    key_frequency_sketch,
)

RES, CAP = 10, 16
CELL = 2.0 * KC.MERC_MAX / (1 << RES)
# a 16 x 16-cell window whose origin sits on a cell corner
X0 = -KC.MERC_MAX + 600 * CELL
Y0 = KC.MERC_MAX - 620 * CELL
SPAN = 16
HOT_THRESHOLD, TARGET_PER_SALT = 10, 5

STRATEGIES = {
    "broadcast": dict(broadcast_ref=True),
    "partitioned": dict(broadcast_ref=False),
    "salted": dict(broadcast_ref=False, salt_hot_cells=True,
                   hot_threshold=HOT_THRESHOLD,
                   target_per_salt=TARGET_PER_SALT,
                   sketch_sample_frac=None),
}


# ------------------------------------------------------------ generation

def _coord(rng, origin):
    """A window coordinate: on a cell edge, on a half cell, or anywhere."""
    u = rng.random()
    if u < 0.3:
        return origin + int(rng.integers(0, SPAN + 1)) * CELL
    if u < 0.5:
        return origin + int(rng.integers(0, 2 * SPAN + 1)) * (CELL / 2)
    return origin + float(rng.uniform(0, SPAN)) * CELL


def _extent(rng, big):
    if big:  # > 4 x 4 cells: over cap, the cover coarsens
        return float(rng.uniform(5.0, 9.0)) * CELL
    if rng.random() < 0.4:
        return int(rng.integers(1, 7)) * (CELL / 2)
    return float(rng.uniform(0.1, 3.0)) * CELL


def _ring(x0, y0, x1, y1):
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


def _point(rng):
    return {"type": "Point", "coordinates": [_coord(rng, X0), _coord(rng, Y0)]}


def _rect(rng, big=False):
    x0, y0 = _coord(rng, X0), _coord(rng, Y0)
    return {"type": "Polygon", "coordinates": [
        _ring(x0, y0, x0 + _extent(rng, big), y0 + _extent(rng, big))]}


def _l_shape(rng, big=False):
    x0, y0 = _coord(rng, X0), _coord(rng, Y0)
    x1, y1 = x0 + _extent(rng, big), y0 + _extent(rng, big)
    xm, ym = (x0 + x1) / 2, (y0 + y1) / 2
    return {"type": "Polygon", "coordinates": [[
        [x0, y0], [x1, y0], [x1, ym], [xm, ym], [xm, y1], [x0, y1],
        [x0, y0]]]}


def _holed(rng, big=False):
    x0, y0 = _coord(rng, X0), _coord(rng, Y0)
    w, h = _extent(rng, big) + CELL, _extent(rng, big) + CELL
    hx0 = x0 + w * float(rng.uniform(0.1, 0.4))
    hy0 = y0 + h * float(rng.uniform(0.1, 0.4))
    hx1 = x0 + w * float(rng.uniform(0.6, 0.9))
    hy1 = y0 + h * float(rng.uniform(0.6, 0.9))
    return {"type": "Polygon", "coordinates": [
        _ring(x0, y0, x0 + w, y0 + h), _ring(hx0, hy0, hx1, hy1)[::-1]]}


def _collection(rng):
    return {"type": "GeometryCollection", "geometries": [
        _point(rng), [_rect, _l_shape, _holed][int(rng.integers(0, 3))](rng)]}


def _features(rng, n, hot_copies):
    """n random features plus coincident duplicates: `hot_copies` copies of
    one point (a hot cell) and two copies each of a rect and an L-shape."""
    makers = [_point, _point, _rect, _rect, _l_shape, _holed, _collection,
              lambda r: _rect(r, big=True), lambda r: _l_shape(r, big=True),
              lambda r: _holed(r, big=True)]
    feats = [makers[int(rng.integers(0, len(makers)))](rng) for _ in range(n)]
    hot = {"type": "Point", "coordinates": [X0 + 3 * CELL, Y0 + 5 * CELL]}
    feats += [hot] * hot_copies
    feats += [_rect(rng)] * 2 + [_l_shape(rng)] * 2
    return feats


def _members(feat):
    if feat["type"] == "GeometryCollection":
        return feat["geometries"]
    return [feat]


# ---------------------------------------------------------------- oracle

def _kind(g):
    """0 point, 1 axis rect, 2 other: the engine's per-side shape class."""
    if g["geom_type"] == "Point":
        return 0
    xs, ys = g["x"], g["y"]
    minx, maxx, miny, maxy = min(xs), max(xs), min(ys), max(ys)
    if (g["geom_type"] == "Polygon" and len(g["ring_offsets"]) == 2
            and len(xs) == 5 and all(v in (minx, maxx) for v in xs)
            and all(v in (miny, maxy) for v in ys)
            and maxx > minx and maxy > miny):
        return 1
    return 2


def _bbox(g):
    return min(g["x"]), max(g["x"]), min(g["y"]), max(g["y"])


def _canon(g):
    return (g["geom_type"], tuple(g["x"]), tuple(g["y"]),
            tuple(g["ring_offsets"]), tuple(g["part_offsets"]))


def _fast_pair(s, r):
    """The join's closed-form point/rect refinement (same predicates, same
    emitted geometry): the intersection geometry, or None."""
    sk, rk = _kind(s), _kind(r)
    sminx, smaxx, sminy, smaxy = _bbox(s)
    rminx, rmaxx, rminy, rmaxy = _bbox(r)
    ix0, ix1 = max(sminx, rminx), min(smaxx, rmaxx)
    iy0, iy1 = max(sminy, rminy), min(smaxy, rmaxy)
    if sk == 1 and rk == 1:
        if not (ix1 > ix0 and iy1 > iy0):
            return None
        return {"geom_type": "Polygon", "x": [ix0, ix1, ix1, ix0, ix0],
                "y": [iy0, iy0, iy1, iy1, iy0], "ring_offsets": [0, 5],
                "part_offsets": [0, 1]}
    if sk == 0 and rk == 1:
        keep = rminx <= sminx <= rmaxx and rminy <= sminy <= rmaxy
    elif sk == 1 and rk == 0:
        keep = sminx <= rminx <= smaxx and sminy <= rminy <= smaxy
    else:
        keep = sminx == rminx and sminy == rminy
    if not keep:
        return None
    return r if (sk == 1 and rk == 0) else s


def _oracle(stream_rows, ref_rows):
    """Counter of (sid, rid, canonical intersection) over the full cross
    product of exploded members."""
    want = Counter()
    slow = []
    for sid, s in stream_rows:
        for rid, r in ref_rows:
            if s is None or r is None:
                continue
            if _kind(s) < 2 and _kind(r) < 2:
                g = _fast_pair(s, r)
                if g is not None:
                    want[(sid, rid, _canon(g))] += 1
            else:
                slow.append((sid, rid, s, r))
    if slow:
        cols = ["geom_type", "x", "y", "ring_offsets", "part_offsets"]
        a = pd.DataFrame({c: [p[2][c] for p in slow] for c in cols})
        b = pd.DataFrame({c: [p[3][c] for p in slow] for c in cols})
        out = _pair_intersection.func(a, b)
        for k, (sid, rid, _, _) in enumerate(slow):
            g = {c: out[c][k] for c in cols}
            if g["geom_type"] is not None:
                want[(sid, rid, _canon(g))] += 1
    return want


# ----------------------------------------------------------------- setup

@contextmanager
def _no_auto_broadcast(spark):
    """Small test frames would otherwise be broadcast by the planner, and
    the partitioned and salted strategies would never shuffle."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _geoms(spark, rows, id_col):
    return (spark.createDataFrame(rows, [id_col, "gj"])
            .withColumn("geom", parse_geojson("gj")).drop("gj"))


@pytest.fixture(scope="module")
def inputs(spark):
    rng = np.random.default_rng(20261017)
    stream = _features(rng, 110, hot_copies=25)
    ref = _features(rng, 45, hot_copies=2)
    s_rows = [(f"s{i:03d}", json.dumps(f)) for i, f in enumerate(stream)]
    s_rows.append(("snull", None))
    r_rows = [(f"r{i:03d}", json.dumps(f)) for i, f in enumerate(ref)]

    # oracle inputs: every member parsed on its own (no collection explode)
    members = [(f"{sid}|{k}", json.dumps(m))
               for sid, f in zip([r[0] for r in s_rows], stream)
               for k, m in enumerate(_members(f))]
    members += [(f"{rid}|{k}", json.dumps(m))
                for rid, f in zip([r[0] for r in r_rows], ref)
                for k, m in enumerate(_members(f))]
    parsed = {row["key"]: row["geom"].asDict()
              for row in _geoms(spark, members, "key").collect()}
    s_members = [(k.split("|")[0], g) for k, g in parsed.items()
                 if k.startswith("s")]
    r_members = [(k.split("|")[0], g) for k, g in parsed.items()
                 if k.startswith("r")]
    return {
        "stream": _geoms(spark, s_rows, "sid").cache(),
        "ref": _geoms(spark, r_rows, "rid").cache(),
        "s_members": s_members, "r_members": r_members,
        "want": _oracle(s_members, r_members),
    }


def _diff(got, want):
    missing = want - got
    extra = got - want
    return (f"{sum(missing.values())} missing, {sum(extra.values())} extra; "
            f"missing {list(missing)[:3]} extra {list(extra)[:3]}")


# ----------------------------------------------------------------- tests

def test_inputs_exercise_the_hard_cases(spark, inputs):
    """The generated mix reaches coarsened covers (ancestor terms), holes,
    concave rings, collections, both fast and slow refinement."""
    ref_terms = _with_terms(inputs["ref"], "geom", RES, CAP, RES - 6, ())
    assert ref_terms.where(F.col("__res_used") < RES).count() > 0
    kinds = Counter(_kind(g) for _, g in inputs["s_members"] if g)
    assert kinds[0] and kinds[1] and kinds[2]
    assert any(len(g["ring_offsets"]) > 2
               for _, g in inputs["r_members"] if g)
    want = inputs["want"]
    assert len(want) > 200
    assert any(canon[0] != "Point" and len(canon[1]) != 5
               for _, _, canon in want)


@pytest.mark.parametrize("strategy", sorted(STRATEGIES))
def test_spatial_join_matches_cross_product(spark, inputs, strategy):
    with _no_auto_broadcast(spark):
        out = spatial_intersection_join(
            inputs["stream"], inputs["ref"], res=RES, cap=CAP,
            keep_ref_cols=("rid",), **STRATEGIES[strategy])
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = out.collect()
    got = Counter((r["sid"], r["rid"], _canon(r["geom"].asDict()))
                  for r in rows)
    assert got == inputs["want"], _diff(got, inputs["want"])
    if strategy == "broadcast":
        assert "BroadcastHashJoin" in plan
    else:
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert ("__salt" in plan) == (strategy == "salted")


def test_salted_run_has_hot_keys(spark, inputs):
    """The salted strategy really salts: the stream's cover-term sketch
    finds a key above the threshold the salted runs use."""
    terms = _with_terms(inputs["stream"], "geom", RES, CAP, RES - 6, ())
    freq = key_frequency_sketch(
        terms.select(F.explode("__cov").alias("__term")), "__term")
    plan = hot_key_plan(freq, "__term", HOT_THRESHOLD, TARGET_PER_SALT)
    assert plan is not None
    assert plan.count() >= 1
    plan.unpersist()


def _bbox_oracle(inputs):
    """Expected (sid, intersection bbox, is_point) rows of the flat bbox
    join over the point/rect members of non-collection features."""
    fast_s, fast_r = _fast_ids(inputs["s_members"]), _fast_ids(
        inputs["r_members"])
    want = Counter()
    for (sid, rid, canon), n in inputs["want"].items():
        gt, xs, ys = canon[0], canon[1], canon[2]
        if sid in fast_s and rid in fast_r:
            want[(sid, min(xs), min(ys), max(xs), max(ys),
                  gt == "Point")] += n
    return want


def _fast_ids(members):
    """Ids of single-member point/rect features."""
    per_id = Counter(i for i, _ in members)
    return {i for i, g in members
            if per_id[i] == 1 and g is not None and _kind(g) < 2}


@pytest.mark.parametrize("strategy", sorted(STRATEGIES))
def test_bbox_join_matches_cross_product(spark, inputs, strategy):
    """The flat bbox join over the point/rect subset (collections excluded:
    the flat path never explodes them)."""
    opts = {k: v for k, v in STRATEGIES[strategy].items()
            if k != "sketch_sample_frac"}
    is_fast = ((F.col("geom.geom_type") == "Point")
               | ((F.col("geom.geom_type") == "Polygon")
                  & (F.size("geom.ring_offsets") == 2)
                  & (F.size("geom.x") == 5)))
    s = flat_bbox(inputs["stream"].where(is_fast)).drop("geom")
    r = flat_bbox(inputs["ref"].where(is_fast), prefix="__r").drop(
        "geom", "rid")
    with _no_auto_broadcast(spark):
        rows = bbox_intersection_join(s, r, res=RES, **opts).collect()
    got = Counter((x["sid"], x["__iminx"], x["__iminy"], x["__imaxx"],
                   x["__imaxy"], x["__ipt"]) for x in rows)
    want = _bbox_oracle(inputs)
    assert len(want) > 50
    assert got == want, _diff(got, want)
