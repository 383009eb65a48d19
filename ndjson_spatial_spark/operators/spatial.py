"""Spatial joins + tiling: the engine's core (BASELINE.json north star).

Every spatial operator here follows the same two-stage shape the reference
realizes with an in-memory R-tree (ndjson-spatial/src/intersection.rs:43-178):

  1. CANDIDATES — a plain equi-join on exploded cell-index ids (quadkey
     cells, kernels/cells.py).  Catalyst plans it with stock broadcast /
     shuffle-hash strategies; AQE splits skewed cells; plans/salting.py adds
     explicit hot-cell salting on top (north rule).
  2. REFINEMENT — exact geometry predicates via Arrow-batched numpy kernels
     (PIP, polygon clipping).  False positives from the bbox cell cover are
     dropped here, so stage 1 only has to be a SUPERSET.

At 10^12 docs stage 1 is the only shuffle; its key is the cell id, which is
Z-order clustered, range-partitionable, and salting-friendly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..kernels import cells as KC
from ..kernels import geometry as KG
from ..functions.geo import GEOM_TYPE, geom_to_batch
from ..functions.cells_fn import (
    cell_id_expr,
    make_st_cells_bounds_multi,
)
from ..plans.salting import candidate_join, hot_key_plan


def _is_axis_rect(g, minx=None, maxx=None, miny=None, maxy=None) -> "F.Column":
    """Pure-Catalyst axis-aligned-rectangle test: single-ring Polygon whose
    5 (closed) vertices all sit on the bbox corners with positive extent.
    (A self-intersecting 4-corner bowtie would false-positive — pathological
    input, documented.)  Callers with staged bbox columns pass them in so
    the interpreted `forall` lambdas compare against attributes instead of
    re-running the array scans per element."""
    if minx is None:
        minx, maxx = F.array_min(g["x"]), F.array_max(g["x"])
        miny, maxy = F.array_min(g["y"]), F.array_max(g["y"])
    return (
        (g["geom_type"] == "Polygon")
        & (F.size(g["ring_offsets"]) == 2)
        & (F.size(g["x"]) == 5)
        & F.forall(g["x"], lambda v: (v == minx) | (v == maxx))
        & F.forall(g["y"], lambda v: (v == miny) | (v == maxy))
        & (maxx > minx)
        & (maxy > miny)
    )

__all__ = [
    "auto_resolution",
    "spatial_intersection_join",
    "join_contains",
    "assign_tiles",
]


# --------------------------------------------------------------- helpers

def _pip_single(px, py, row) -> bool:
    """Is point (px,py) inside the (Multi)Polygon struct row (all rings,
    even-odd: holes punch out)?"""
    xs = np.asarray(row["x"], np.float64)
    ys = np.asarray(row["y"], np.float64)
    ro = np.asarray(row["ring_offsets"], np.int64)
    po = np.asarray(row["part_offsets"], np.int64)
    got = KG.points_in_polygon(
        np.array([px]), np.array([py]), xs, ys, ro, po
    )
    return bool(got[0])


_TRI_CACHE: dict = {}


def _triangles_cached(cx, cy):
    """Worker-process memo of ear-clipping results keyed on ring bytes:
    the candidates stream repeats the SAME few ref rings thousands of
    times per batch, so the O(n^2) triangulation runs once per distinct
    ring, not once per candidate pair."""
    key = (cx.tobytes(), cy.tobytes())
    got = _TRI_CACHE.get(key)
    if got is None:
        if len(_TRI_CACHE) >= 4096:
            _TRI_CACHE.clear()
        got = _TRI_CACHE[key] = KG.triangulate_ring(cx, cy)
    return got


def _clip_ring_by_ring(sx, sy, cx, cy):
    """Clip subject ring by clip ring; returns a LIST of CLOSED rings
    (empty when disjoint/degenerate).

    Clip-ring dispatch: axis-rect -> vectorized half-plane passes; convex
    -> one Sutherland-Hodgman pass; CONCAVE (any simple ring, e.g. a real
    administrative boundary) -> ear-clip the clip ring into CCW triangles,
    S-H the subject against each, then DISSOLVE the abutting triangle
    pieces along their shared diagonals into GEOS-style component rings
    (round-5; KG.dissolve_rings — the reference's GEOS intersection()
    returns the dissolved geometry, intersection.rs:133).  Dissolve is
    exact because both sides of a shared diagonal compute bit-identical
    intersection vertices; when its edge-cancellation contract is
    violated (degenerate sharing) the decomposition parts are kept —
    point set, area and even-odd PIP semantics are identical either
    way."""
    if (sx.max() <= cx.min() or sx.min() >= cx.max()
            or sy.max() <= cy.min() or sy.min() >= cy.max()):
        return []
    # intersection is symmetric, and Sutherland-Hodgman only needs the
    # CLIP ring convex — so whenever either ring is rect/convex, put it on
    # the clip side and skip triangulation entirely.  Ear-clipping runs
    # only for concave x concave pairs.
    if KG.ring_is_axis_rect(cx, cy):
        pieces = [KG.clip_ring_rect(sx, sy, cx.min(), cy.min(),
                                    cx.max(), cy.max())]
    elif KG.ring_is_axis_rect(sx, sy):
        pieces = [KG.clip_ring_rect(cx, cy, sx.min(), sy.min(),
                                    sx.max(), sy.max())]
    elif KG.ring_is_convex(cx, cy):
        pieces = [KG.clip_polygon_convex(sx, sy, cx, cy)]
    elif KG.ring_is_convex(sx, sy):
        pieces = [KG.clip_polygon_convex(cx, cy, sx, sy)]
    else:
        pieces = [
            KG.clip_polygon_convex(sx, sy, tx, ty)
            for tx, ty in _triangles_cached(cx, cy)
        ]
    out = []
    for ix, iy in pieces:
        if len(ix) >= 3 and abs(KG._signed_area(ix, iy)) > 0:
            out.append((np.append(ix, ix[0]), np.append(iy, iy[0])))
    if len(out) > 1:
        # round-5 (VERDICT r4 item 5): merge the triangle clips that abut
        # along triangulation diagonals into GEOS-style dissolved
        # component rings — shared diagonal vertices are bit-identical
        # on both sides (negation-exact S-H intersection arithmetic), so
        # directed-edge cancellation is exact; on contract violation
        # (degenerate sharing) keep the decomposition parts
        merged = KG.dissolve_rings(out)
        if merged is not None:
            return [(np.append(mx, mx[0]), np.append(my, my[0]))
                    for mx, my in merged]
    return out


@pandas_udf(GEOM_TYPE)
def _pair_intersection(a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
    """Exact intersection geometry of stream geometry `a` with ref geometry
    `b` (intersection.rs:133: GEOS intersection()); null when disjoint.

    Scope (SURVEY §7 hard parts): all Point/LineString/Polygon cross-type
    pairs, holes included; BOTH sides may be arbitrary simple polygons —
    concave REF rings (any real administrative boundary) are handled by
    convex decomposition (ear-clipping triangulation of the clip ring, see
    _clip_ring_by_ring), matching the reference's GEOS intersection()
    coverage (intersection.rs:133).  Polygon x polygon with holes emits the
    even-odd ring algebra: the region algebra A∩B = XOR over all ring-pair
    clips, so ext x ext is the part exterior, hole x ext / ext x hole
    subtract, and the rare hole x hole overlap is re-added as its own
    single-ring part.  Concave x concave single-ring pairs emit GEOS-style
    DISSOLVED component rings (round-5, triangle pieces merged along
    shared diagonals — _clip_ring_by_ring); the even-odd multi-part
    algebra above still represents hole results as XOR parts (documented
    representation choice for polygons WITH holes).
    GeometryCollection inputs -> null (explode members first).
    Line results exclude boundary-touch grazes (zero-length pieces).
    """
    n = len(a)
    out = {"geom_type": [None] * n, "x": [None] * n, "y": [None] * n,
           "ring_offsets": [None] * n, "part_offsets": [None] * n}

    cols_a = {c: a[c].to_numpy() for c in a.columns}
    cols_b = {c: b[c].to_numpy() for c in b.columns}

    def emit(i, gtype, rings_per_part):
        xs, ys, ro, po = [], [], [0], [0]
        for part in rings_per_part:
            for rx, ry in part:
                xs.extend(float(v) for v in rx)
                ys.extend(float(v) for v in ry)
                ro.append(len(xs))
            po.append(len(ro) - 1)
        out["geom_type"][i] = gtype
        out["x"][i] = xs
        out["y"][i] = ys
        out["ring_offsets"][i] = ro
        out["part_offsets"][i] = po

    def parts_rings(cols, i):
        """All rings per part: [(ext, [holes...]), ...] as (x, y) arrays."""
        xs = np.asarray(cols["x"][i], np.float64)
        ys = np.asarray(cols["y"][i], np.float64)
        ro = np.asarray(cols["ring_offsets"][i], np.int64)
        po = np.asarray(cols["part_offsets"][i], np.int64)
        res = []
        for p in range(len(po) - 1):
            rings = [
                (xs[ro[r]:ro[r + 1]], ys[ro[r]:ro[r + 1]])
                for r in range(po[p], po[p + 1])
            ]
            res.append((rings[0], rings[1:]))
        return res

    def row_dict(cols, i):
        return {k: cols[k][i] for k in cols}

    # Round-4 (VERDICT item 5): single-ring polygon x polygon pairs with a
    # rect on either side — the dominant candidates shape — are DEFERRED
    # and clipped in batched kernel calls after the dispatch loop:
    #   case A: subject rect  -> group by REF-ring bytes; each distinct ref
    #           ring is tiled once and clipped by ALL its subject rects in
    #           one padded 4-pass kernel sequence (clip_rings_rects_batch)
    #   case B: ref rect      -> all subject rings padded into one batch,
    #           clipped by per-row ref bounds in one kernel sequence
    # Both are bit-identical to the scalar clip_ring_rect (pinned by
    # tests), so emitted geometry is unchanged.  Pairs with holes,
    # multiparts or two concave rings keep the scalar path.
    case_a: dict = {}   # ref bytes -> (ref_x, ref_y, [(row, bounds...)])
    case_b: list = []   # (row, subj_x, subj_y, bounds...)
    case_c: list = []   # (row, subj_x, subj_y, clip_x, clip_y) convex clip
    case_d: list = []   # (row, subj_x, subj_y, triangles) concave x concave
    pending_cd: list = []  # concave clip, subject class TBD (batched)
    rect_cls: dict = {}
    conv_cls: dict = {}

    def _is_rect(key, rx, ry):
        got = rect_cls.get(key)
        if got is None:
            got = rect_cls[key] = KG.ring_is_axis_rect(rx, ry)
        return got

    def _is_convex(key, rx, ry):
        got = conv_cls.get(key)
        if got is None:
            got = conv_cls[key] = KG.ring_is_convex(rx, ry)
        return got

    for i in range(n):
        ta, tb = cols_a["geom_type"][i], cols_b["geom_type"][i]
        if ta is None or tb is None:
            continue
        poly = ("Polygon", "MultiPolygon")
        line = ("LineString", "MultiLineString")
        if ta == "Point" and tb in poly:
            px, py = cols_a["x"][i][0], cols_a["y"][i][0]
            if _pip_single(px, py, row_dict(cols_b, i)):
                emit(i, "Point", [[(np.array([px]), np.array([py]))]])
        elif ta in poly and tb == "Point":
            px, py = cols_b["x"][i][0], cols_b["y"][i][0]
            if _pip_single(px, py, row_dict(cols_a, i)):
                emit(i, "Point", [[(np.array([px]), np.array([py]))]])
        elif ta == "Point" and tb == "Point":
            if (cols_a["x"][i][0] == cols_b["x"][i][0]
                    and cols_a["y"][i][0] == cols_b["y"][i][0]):
                emit(i, "Point",
                     [[(np.array([cols_a["x"][i][0]]), np.array([cols_a["y"][i][0]]))]])
        elif (ta == "Point" and tb in line) or (ta in line and tb == "Point"):
            pt_cols, ln_cols = (cols_a, cols_b) if ta == "Point" else (cols_b, cols_a)
            pi = i
            px, py = pt_cols["x"][pi][0], pt_cols["y"][pi][0]
            on = any(
                KG.point_on_polyline(px, py, ext[0], ext[1])
                for ext, _ in parts_rings(ln_cols, i)
            )
            if on:
                emit(i, "Point", [[(np.array([px]), np.array([py]))]])
        elif ta in line and tb in line:
            # vectorized over the whole segment-pair matrix per part pair
            # (kernels.polyline_pair_hits) — the round-2 version was four
            # nested Python loops, O(|segA|*|segB|) interpreted
            pts, segs = [], []
            seen = set()
            for (aex, _) in parts_rings(cols_a, i):
                for (bex, _) in parts_rings(cols_b, i):
                    ppts, psegs = KG.polyline_pair_hits(
                        aex[0], aex[1], bex[0], bex[1])
                    segs.extend(psegs)
                    for p in ppts:
                        if p not in seen:
                            seen.add(p)
                            pts.append(p)
            parts, types = [], []
            for sx0, sy0, sx1, sy1 in segs:
                parts.append([(np.array([sx0, sx1]), np.array([sy0, sy1]))])
                types.append("LineString")
            for px, py in pts:
                # drop points already covered by an overlap segment
                if any(KG.point_on_polyline(px, py, p[0][0], p[0][1])
                       for p in parts[:len(segs)]):
                    continue
                parts.append([(np.array([px]), np.array([py]))])
                types.append("Point")
            if not parts:
                pass
            elif all(t == "Point" for t in types):
                emit(i, "Point" if len(parts) == 1 else "MultiPoint",
                     [[(np.array([p[0][0][0] for p in parts]),
                        np.array([p[0][1][0] for p in parts]))]]
                     if len(parts) > 1 else parts)
            elif all(t == "LineString" for t in types):
                emit(i, "LineString" if len(parts) == 1 else "MultiLineString",
                     parts)
            else:
                emit(i, "GeometryCollection:" + ",".join(types), parts)
        elif (ta in line and tb in poly) or (ta in poly and tb in line):
            ln_cols, pg_cols = (cols_a, cols_b) if ta in line else (cols_b, cols_a)
            pieces = []
            for (lext, _) in parts_rings(ln_cols, i):
                for (pext, pholes) in parts_rings(pg_cols, i):
                    pieces.extend(KG.clip_polyline_convex(
                        lext[0], lext[1], pext[0], pext[1], hole_rings=pholes
                    ))
            if len(pieces) == 1:
                emit(i, "LineString", [pieces])
            elif pieces:
                emit(i, "MultiLineString", [[p] for p in pieces])
        elif ta in poly and tb in poly:
            a_parts = parts_rings(cols_a, i)
            b_parts = parts_rings(cols_b, i)
            if (len(a_parts) == 1 and not a_parts[0][1]
                    and len(b_parts) == 1 and not b_parts[0][1]):
                sxr, syr = a_parts[0][0]
                cxr, cyr = b_parts[0][0]
                # bbox reject — identical to _clip_ring_by_ring's guard
                if (sxr.max() <= cxr.min() or sxr.min() >= cxr.max()
                        or syr.max() <= cyr.min() or syr.min() >= cyr.max()):
                    continue
                # dispatch mirrors _clip_ring_by_ring: ref-rect side wins
                bkey = (cxr.tobytes(), cyr.tobytes())
                if _is_rect(bkey, cxr, cyr):
                    case_b.append((i, sxr, syr, cxr.min(), cyr.min(),
                                   cxr.max(), cyr.max()))
                    continue
                skey = (sxr.tobytes(), syr.tobytes())
                if _is_rect(skey, sxr, syr):
                    grp = case_a.get(bkey)
                    if grp is None:
                        grp = case_a[bkey] = (cxr, cyr, [])
                    grp[2].append((i, sxr.min(), syr.min(),
                                   sxr.max(), syr.max()))
                    continue
                # round-5: the LAST scalar shapes go batched too —
                # convex clip (either side) in one padded general-edge
                # S-H batch; concave x concave as (row, triangle) units
                # with K=3 edges, then the same per-row dissolve.  Both
                # bit-identical to the scalar path (pinned in
                # test_kernels); dispatch order mirrors _clip_ring_by_ring
                # (clip convex first, then subject-convex swap).
                if _is_convex(bkey, cxr, cyr):
                    case_c.append((i, sxr, syr, cxr, cyr))
                    continue
                # clip is concave; whether the (distinct, memo-hostile)
                # SUBJECT is convex decides swap-vs-triangulate — deferred
                # and classified in ONE vectorized pass at flush
                pending_cd.append((i, sxr, syr, cxr, cyr))
                continue
            # Every _clip_ring_by_ring call may return SEVERAL pieces when
            # the clip ring is concave (triangulated decomposition).  The
            # emitted ring algebra stays even-odd over ALL rings: exterior
            # pieces add, hole-overlap pieces subtract, hole x hole
            # overlaps re-add — piece/part association is irrelevant to
            # the engine's global even-odd PIP and role-signed area
            # semantics, so subtracting rings ride in the first part.
            main_parts = []   # (ext ring, [subtracting rings])
            extra_parts = []  # hole x hole re-additions (own exterior parts)
            for (aext, aholes) in a_parts:
                for (bext, bholes) in b_parts:
                    ext_pieces = _clip_ring_by_ring(
                        aext[0], aext[1], bext[0], bext[1])
                    if not ext_pieces:
                        continue
                    subs = []
                    for hx, hy in aholes:
                        subs.extend(
                            _clip_ring_by_ring(hx, hy, bext[0], bext[1]))
                    for hx, hy in bholes:
                        subs.extend(
                            _clip_ring_by_ring(aext[0], aext[1], hx, hy))
                    main_parts.append([ext_pieces[0]] + subs)
                    main_parts.extend([p] for p in ext_pieces[1:])
                    for ax_, ay_ in aholes:
                        for hx, hy in bholes:
                            extra_parts.extend(
                                [c]
                                for c in _clip_ring_by_ring(ax_, ay_, hx, hy))
            pieces = main_parts + extra_parts
            if len(pieces) == 1:
                emit(i, "Polygon", pieces)
            elif pieces:
                emit(i, "MultiPolygon", pieces)

    # flush the deferred batched clips (round-4)
    def _emit_batch(rows_idx, OX, OY, oc):
        for r, i in enumerate(rows_idx):
            m = int(oc[r])
            if m < 3:
                continue
            ix, iy = OX[r, :m], OY[r, :m]
            if abs(KG._signed_area(ix, iy)) > 0:
                emit(i, "Polygon",
                     [[(np.append(ix, ix[0]), np.append(iy, iy[0]))]])

    for cb_x, cb_y, entries in case_a.values():
        X, Y, c = KG.tile_ring_batch(cb_x, cb_y, len(entries))
        e = np.array([en[1:] for en in entries], np.float64)
        OX, OY, oc = KG.clip_rings_rects_batch(
            X, Y, c, e[:, 0], e[:, 1], e[:, 2], e[:, 3])
        _emit_batch([en[0] for en in entries], OX, OY, oc)
    if case_b:
        X, Y, c = KG.pad_rings_batch([(en[1], en[2]) for en in case_b])
        e = np.array([en[3:] for en in case_b], np.float64)
        OX, OY, oc = KG.clip_rings_rects_batch(
            X, Y, c, e[:, 0], e[:, 1], e[:, 2], e[:, 3])
        _emit_batch([en[0] for en in case_b], OX, OY, oc)

    def _close_keep(ix, iy):
        if len(ix) >= 3 and abs(KG._signed_area(ix, iy)) > 0:
            return (np.append(ix, ix[0]), np.append(iy, iy[0]))
        return None

    def _emit_rings(i, rings):
        # identical tail to _clip_ring_by_ring + the poly x poly emit:
        # dissolve multi-piece results into GEOS-style component rings
        if len(rings) > 1:
            merged = KG.dissolve_rings(rings)
            if merged is not None:
                rings = [(np.append(mx, mx[0]), np.append(my, my[0]))
                         for mx, my in merged]
        if len(rings) == 1:
            emit(i, "Polygon", [[rings[0]]])
        elif rings:
            emit(i, "MultiPolygon", [[r] for r in rings])

    if pending_cd:
        Xp, Yp, cp = KG.pad_rings_batch([(p[1], p[2]) for p in pending_cd])
        conv = KG.rings_convex_flags_batch(Xp, Yp, cp)
        for flag, (i, sxr, syr, cxr, cyr) in zip(conv, pending_cd):
            if flag:
                # subject convex -> swap sides (scalar dispatch order)
                case_c.append((i, cxr, cyr, sxr, syr))
            else:
                tris = _triangles_cached(cxr, cyr)
                if tris:
                    case_d.append((i, sxr, syr, tris))

    if case_c:
        kept = []
        clips = []
        for (i, sxr, syr, cxr, cyr) in case_c:
            # replicate clip_polygon_convex's clip normalization exactly
            ocx, ocy = cxr, cyr
            if len(ocx) > 1 and ocx[0] == ocx[-1] and ocy[0] == ocy[-1]:
                ocx, ocy = ocx[:-1], ocy[:-1]
            if len(ocx) < 3 or KG._signed_area(ocx, ocy) == 0.0:
                continue  # scalar returns empty -> nothing emitted
            if KG._signed_area(ocx, ocy) < 0:
                ocx, ocy = ocx[::-1], ocy[::-1]
            kept.append((i, sxr, syr))
            clips.append((ocx, ocy))
        if kept:
            X, Y, c = KG.pad_rings_batch([(k[1], k[2]) for k in kept])
            CX, CY, cc = KG.pad_rings_batch(clips)
            OX, OY, oc = KG.clip_rings_convex_batch(X, Y, c, CX, CY, cc)
            for r, (i, _, _) in enumerate(kept):
                m = int(oc[r])
                ring = _close_keep(OX[r, :m], OY[r, :m])
                if ring is not None:
                    _emit_rings(i, [ring])

    if case_d:
        subj = [(en[1], en[2]) for en in case_d]
        X0, Y0, c0 = KG.pad_rings_batch(subj)
        reps = np.array([len(en[3]) for en in case_d], np.int64)
        X = np.repeat(X0, reps, 0)
        Y = np.repeat(Y0, reps, 0)
        c = np.repeat(c0, reps)
        TX = np.array([tx for en in case_d for tx, _ in en[3]], np.float64)
        TY = np.array([ty for en in case_d for _, ty in en[3]], np.float64)
        cc = np.full(len(TX), 3, np.int64)
        OX, OY, oc = KG.clip_rings_convex_batch(X, Y, c, TX, TY, cc)
        pos = 0
        for en in case_d:
            i, k = en[0], len(en[3])
            rings = []
            for u in range(pos, pos + k):
                m = int(oc[u])
                ring = _close_keep(OX[u, :m], OY[u, :m])
                if ring is not None:
                    rings.append(ring)
            pos += k
            if rings:
                _emit_rings(i, rings)
    return pd.DataFrame(out)


def auto_resolution(
    df: DataFrame, geom_col: str = "geom", target_cells: float = 2.0,
    sample_rows: int = 2000, default: int = 12,
) -> int:
    """Pick a join resolution from the data: cell size ~ median bbox extent
    (so a typical geometry covers ~`target_cells` cells per axis).  One
    sample-scan; the result is a plan-time constant.

    Memoized on the ref plan's semantic hash — repeated joins against the
    same ref frame (the common build-many-queries-off-one-dim pattern) pay
    the sample scan once, not once per join build."""
    try:
        key = (df.semanticHash(), geom_col, target_cells, sample_rows)
        if key in _RES_CACHE:
            return _RES_CACHE[key]
    except Exception:
        key = None
    res = _auto_resolution_uncached(df, geom_col, target_cells,
                                    sample_rows, default)
    if key is not None:
        _cache_put(_RES_CACHE, key, res)
    return res


_RES_CACHE: dict = {}


def _auto_resolution_uncached(
    df: DataFrame, geom_col: str, target_cells: float,
    sample_rows: int, default: int,
) -> int:
    sample = (
        df.select(F.col(geom_col).alias("g")).where(F.col("g.x").isNotNull())
        .limit(sample_rows).toPandas()
    )
    if len(sample) == 0:
        return default
    bg, valid = geom_to_batch(pd.DataFrame({
        "x": sample["g"].map(lambda r: r["x"]),
        "y": sample["g"].map(lambda r: r["y"]),
        "ring_offsets": sample["g"].map(lambda r: r["ring_offsets"]),
        "part_offsets": sample["g"].map(lambda r: r["part_offsets"]),
    }))
    if bg.n_rows == 0:
        return default
    bb = KG.batch_bbox(bg, np.zeros(bg.n_rows, bool))
    extent = np.maximum(bb[:, 1] - bb[:, 0], bb[:, 3] - bb[:, 2])
    med = float(np.median(extent))
    if med <= 0:
        return min(default + 3, KC.MAX_RES)  # points: fine grid
    res = int(np.log2(2.0 * KC.MERC_MAX / (med / target_cells)))
    return max(0, min(res, KC.MAX_RES))


# ---- covering + ancestor terms (mixed-resolution join correctness) ----
#
# bbox covers are cap-coarsened per row, so two overlapping geometries can
# carry covers at DIFFERENT resolutions — their cells would never meet on a
# plain cell equi-join.  The fix is the covering+ancestor-terms scheme the
# public S2 library documents as S2RegionTermIndexer: each row also emits
# its cover's ancestor cells, an "ancestor" role is encoded in the spare
# sign bit of the cell id so the join stays ONE long-keyed equi-join, and
# ancestor×ancestor matches are impossible by construction (the probe side
# never emits cover terms with the ancestor tag) — that exclusion is what
# prevents coarse-level cells from becoming quadratic hot keys.

def _term_anc(c):
    """Tag a cell id as an ancestor-role term (sign bit — unused by ids)."""
    return c.bitwiseOR(F.shiftleft(F.lit(1).cast("long"), 63))


def _with_terms(df: DataFrame, geom_col: str, res: int, cap: int,
                min_res: int, anc_levels, keep_bbox: bool = False) -> DataFrame:
    # Appends the join terms of `geom_col`: __cov (the bbox cover at
    # `res`, coarsened by the `cap` guard but never below `min_res`), __anc
    # (the cover's ancestor cells at each level of `anc_levels` below the
    # row's resolution) and __res_used.  A null or empty geometry gives
    # null __cov/__anc and __res_used == res.  Values equal kernels.cells
    # bbox_cells + cover_ancestors: __cov and __res_used bit-exact, __anc
    # as a set (pinned by test_mixed_resolution).
    #
    # Pure Catalyst and STAGED: higher-order functions evaluate
    # interpreted, with no common-subexpression elimination, so one big
    # expression would re-derive its scalar subtrees (coordinate array
    # scans, unit coords, the res_used coarsen scan, tile ranges) on every
    # reference.  Here every scalar lands as a real column in a narrow
    # projection chain (bbox -> unit coords -> res_used -> tile range) and
    # the per-cell lambdas read row ATTRIBUTES; Catalyst's CollapseProject
    # keeps multi-referenced non-trivial aliases staged, so each scalar is
    # evaluated once per row.
    #
    # ``keep_bbox``: also emit __bb_minx/__bb_maxx/__bb_miny/__bb_maxy so
    # the caller's per-side shape metadata reuses the staged array scans.
    c = _terms_cols(geom_col, res, cap, min_res,
                    tuple(sorted({int(l) for l in anc_levels})))
    base = list(df.columns)
    st = df.select("*", *c["bbox"])
    st = st.select("*", *c["uv"])
    st = st.select("*", c["ru"])
    st = st.select("*", *c["tiles"])
    keep = base + (["__bb_minx", "__bb_maxx", "__bb_miny", "__bb_maxy"]
                   if keep_bbox else [])
    return st.select(*keep, *c["out"])


def _cache_put(cache: dict, key, value):
    if len(cache) >= 256:
        cache.clear()
    cache[key] = value
    return value


def _terms_cols(geom_col: str, res: int, cap: int, min_res: int,
                anc_levels: tuple) -> dict:
    """The staged-terms Column bundle, memoized per (geom_col, res, cap,
    min_res, anc_levels) — Columns are immutable name-resolved trees, and
    building the per-cell Morton lambdas costs ~1 s of py4j round trips
    per spatial-join construction otherwise."""
    key = (geom_col, res, cap, min_res, anc_levels)
    got = _TERMS_COLS_CACHE.get(key)
    if got is not None:
        return got
    # everything below the bbox stage references only the staged column
    # NAMES, so the (large) cov/anc/ru trees are shared across geometry
    # columns — a second geom_col only rebuilds the two cheap stages
    core_key = (res, cap, min_res, anc_levels)
    core = _TERMS_CORE_CACHE.get(core_key)
    if core is None:
        core = _cache_put(_TERMS_CORE_CACHE, core_key,
                          _terms_core(res, cap, min_res, anc_levels))
    g = F.col(geom_col)
    valid = g["x"].isNotNull() & (F.size(g["x"]) > 0)
    na = F.lit(None).cast("array<long>")
    return _cache_put(_TERMS_COLS_CACHE, key, {
        "bbox": [
            F.array_min(g["x"]).alias("__bb_minx"),
            F.array_max(g["x"]).alias("__bb_maxx"),
            F.array_min(g["y"]).alias("__bb_miny"),
            F.array_max(g["y"]).alias("__bb_maxy"),
        ],
        "uv": core["uv"], "ru": core["ru"], "tiles": core["tiles"],
        "out": [
            F.when(valid, core["cov"]).otherwise(na).alias("__cov"),
            F.when(valid, core["anc"]).otherwise(na).alias("__anc"),
            F.when(valid, F.col("__ru")).otherwise(F.lit(res)).cast("int")
            .alias("__res_used"),
        ],
    })


def _terms_core(res: int, cap: int, min_res: int, anc_levels: tuple) -> dict:
    # the geometry-independent stages: unit coords, res_used, tile ranges,
    # and the cov/anc arrays over those columns
    from ..functions.cells_fn import _unit_u_expr, _unit_v_expr

    uv = [
        _unit_u_expr(F.col("__bb_minx")).alias("__u0"),
        _unit_v_expr(F.col("__bb_maxy")).alias("__v0"),
        _unit_u_expr(F.col("__bb_maxx")).alias("__u1"),
        _unit_v_expr(F.col("__bb_miny")).alias("__v1"),
    ]

    def scale_of(rcol):
        # 2^r exactly: long shiftleft then an exact int->double cast
        return F.call_function(
            "shiftleft", F.lit(1).cast("long"), rcol).cast("double")

    def rng(rcol):
        sc = scale_of(rcol)
        return ((F.col("__u0") * sc).cast("long"),
                (F.col("__u1") * sc).cast("long"),
                (F.col("__v0") * sc).cast("long"),
                (F.col("__v1") * sc).cast("long"))

    def cnt(rcol):
        tx0, tx1, ty0, ty1 = rng(rcol)
        return (tx1 - tx0 + 1) * (ty1 - ty0 + 1)

    # the kernel's descending first-fit coarsen scan == the LARGEST
    # fitting level (tile counts are monotone non-increasing coarser)
    ru = F.array_max(F.filter(
        F.sequence(F.lit(min_res), F.lit(res)),
        lambda r: (cnt(r) <= F.lit(cap)) | (r == F.lit(min_res))))
    tx0, tx1, ty0, ty1 = rng(F.col("__ru"))
    tiles = [tx0.alias("__tx0"), tx1.alias("__tx1"),
             ty0.alias("__ty0"), ty1.alias("__ty1")]

    # cover enumeration y-outer / x-inner over staged tile-range columns:
    # the lambdas are pure Morton encoding per cell
    cov = F.flatten(F.transform(
        F.sequence(F.col("__ty0"), F.col("__ty1")),
        lambda dy: F.transform(
            F.sequence(F.col("__tx0"), F.col("__tx1")),
            lambda dx: cell_id_expr(dx, dy, F.col("__ru")))))

    # ancestors at a constant level l < res_used = the bbox tile range at
    # l: as a SET this equals the parents of the cover cells (parents of a
    # contiguous tile range form the contiguous parent range)
    if anc_levels:
        def cells_at_level(lv):
            lc = F.lit(int(lv))
            atx0, atx1, aty0, aty1 = rng(lc)
            return F.transform(
                F.sequence(aty0, aty1),
                lambda dy: F.transform(
                    F.sequence(atx0, atx1),
                    lambda dx: cell_id_expr(dx, dy, lc)))

        anc = F.flatten(F.concat(*[
            F.when(F.lit(int(lv)) < F.col("__ru"), cells_at_level(lv))
            .otherwise(F.array().cast("array<array<long>>"))
            for lv in anc_levels
        ]))
    else:
        anc = F.array().cast("array<long>")
    return {"uv": uv, "ru": ru.alias("__ru"), "tiles": tiles,
            "cov": cov, "anc": anc}


_TERMS_COLS_CACHE: dict = {}
_TERMS_CORE_CACHE: dict = {}


def _coarse_levels(df_terms: DataFrame, res: int) -> list:
    """Distinct below-`res` cover resolutions present in a terms frame — a
    tiny map-side-combinable aggregate (≤ res values) that drives the other
    side's ancestor emission; empty in the common nothing-coarsened case,
    which keeps the hot path at zero ancestor overhead."""
    rows = (
        df_terms.select("__res_used")
        .where(F.col("__res_used") < res)
        .distinct()
        .collect()
    )
    return sorted(r[0] for r in rows)


# --------------------------------------------------------- intersection

def spatial_intersection_join(
    stream: DataFrame,
    ref: DataFrame,
    geom_col: str = "geom",
    res: int | None = None,
    cap: int = 256,
    min_res: int | None = None,
    broadcast_ref: bool = True,
    salt_hot_cells: bool = False,
    hot_threshold: int = 100_000,
    target_per_salt: int = 50_000,
    sketch_sample_frac: float | None = 0.05,
    explode_gc: bool = True,
    keep_ref_cols: tuple[str, ...] = (),
) -> DataFrame:
    """`ndjson-spatial intersection --ref f -g <type>`
    (ndjson-spatial/src/intersection.rs:43-178).

    Output contract (intersection.rs:137-166): one row per (stream feature,
    candidate ref feature) whose exact intersection is non-empty; the stream
    feature's geometry is REPLACED by the intersection geometry; stream
    properties preserved; ref columns not merged.

    ``keep_ref_cols`` (engine extension, default off to preserve the
    reference contract): names of REF columns to carry through to the
    output — the tagging-join shape (zonal statistics, enrichment joins)
    where the consumer needs to know WHICH ref feature matched.  The
    columns ride the same broadcast/salted candidate rows and the same
    refinement batches — zero extra shuffles; names must not collide with
    stream columns.

    Plan shape: explode cell-cover TERMS both sides -> equi-join on the
    term id (broadcast when ref is small, like the reference's in-memory
    R-tree build side; hash-partitioned otherwise) -> pair dedup via the
    MIN-COMMON-TERM rule -> Arrow-batched exact refinement.  Terms =
    cover cells + ancestor cells (covering+ancestor-terms scheme, see the
    module-level comment above `_term_anc`), so rows whose covers were
    cap-coarsened to a different resolution still meet — stage 1 stays a
    strict SUPERSET at any mix of per-row resolutions down to `min_res`
    (default res-6; coarsening is clamped there, trading a possibly
    over-`cap` cover for never losing candidates).

    Pair dedup without a shuffle: a (stream, ref) pair meets once per
    SHARED term; instead of dropDuplicates (an extra shuffle whose
    AQE-coalesced output would also throttle the refinement UDF's
    parallelism), each side carries its full cover+ancestor arrays and the
    pair is kept only where the join term equals the smallest enumerated
    shared term — pure JVM array ops, exactly-once per pair, and in the
    broadcast case the whole candidates+refinement path is shuffle-free
    (narrow over the stream's partitioning).

    Join strategy (plans.salting.candidate_join): broadcast, else
    hash-partitioned on the term, salted on hot terms with
    ``salt_hot_cells`` (ignored when ``broadcast_ref=True``).  Salting is
    decided while this function runs: `hot_key_plan` runs one eager job
    over a ``sketch_sample_frac`` sample of the stream (all of it when
    None), and its choice is frozen into the returned DataFrame.
    """
    # GeometryCollections auto-explode to member rows on BOTH sides: the
    # overlay kernel operates on simple geometries (GC -> null, which
    # would silently drop data).  `gc_members_expr` is pure
    # Catalyst, so non-GC corpora pay one string-prefix test per row and
    # a 1-element-array Generate — no Python, no second scan.  A GC stream
    # row yields one output row per (member, ref) hit, geometry replaced
    # by that member's intersection — the exploded equivalent, matching
    # GEOS intersection() over each member.
    if explode_gc:
        from ..functions.geo import explode_collections

        stream = explode_collections(stream, geom_col)
        ref = explode_collections(ref, geom_col)

    if res is None:
        res = auto_resolution(ref, geom_col)
    if min_res is None:
        min_res = max(0, res - 6)

    # In the broadcast case the whole candidates+refinement path is narrow
    # over the STREAM's partitioning — a small local table read as one
    # parquet split would serialize millions of candidate pairs onto one
    # core.  A production table has plenty of splits, so this guard only
    # fires for under-split inputs.  (Streaming plans expose no .rdd —
    # micro-batch partitioning is the source's concern there.)
    if not stream.isStreaming:
        par = stream.sparkSession.sparkContext.defaultParallelism
        if stream.rdd.getNumPartitions() < min(par, 8):
            stream = stream.repartition(par)

    # ref side emits: its cover terms both plain and ancestor-tagged (the
    # tagged copy is what a fine stream row's ancestor terms meet when the
    # REF row coarsened) + its cover's ancestors, plain, at every level
    # coarsening can reach (what a coarsened STREAM row's cover meets).
    r_t = _with_terms(
        ref.select(F.col(geom_col).alias("__ref_geom"), *keep_ref_cols),
        "__ref_geom",
        res, cap, min_res, range(min_res, res), keep_bbox=True,
    ).withColumnsRenamed({
        "__cov": "__ref_cov", "__anc": "__ref_anc",
        "__res_used": "__ref_res_used",
    })

    # ---- per-SIDE shape metadata, projected before the exchange.  The
    # refinement below needs, per candidate pair, the shape class (point /
    # axis-rect / other) and the bbox of each side.  Computed on the
    # JOINED rows, `_is_axis_rect` (two interpreted `forall` HOFs) plus
    # four array_min/max per side would run PER CANDIDATE (~200 per input
    # row); one narrow projection per side (5 scalar columns, 40 bytes)
    # rides the explode + join instead.  For Points the bbox degenerates
    # to the point, so the fast-path predicates below need no element_at.
    # kind codes: 0 = point, 1 = axis rect, 2 = other (null geometry
    # classifies 2 -> slow path).
    def _side_meta(df, gcol, p):
        # the bbox columns are the ones _with_terms staged (keep_bbox=True)
        # — renamed, not recomputed; the rect test compares against them
        # as attributes
        g = F.col(gcol)
        bb = [F.col(c) for c in
              ("__bb_minx", "__bb_maxx", "__bb_miny", "__bb_maxy")]
        return df.withColumns({
            f"__{p}_kind": F.when(g["geom_type"] == "Point", 0)
            .when(_is_axis_rect(g, bb[0], bb[1], bb[2], bb[3]), 1)
            .otherwise(2),
        }).withColumnsRenamed({
            "__bb_minx": f"__{p}_minx", "__bb_maxx": f"__{p}_maxx",
            "__bb_miny": f"__{p}_miny", "__bb_maxy": f"__{p}_maxy",
        })

    r_t = _side_meta(r_t, "__ref_geom", "r")
    # Materialize the ref terms frame ONCE.  The ref side (the reference's
    # in-memory R-tree build side) would otherwise re-evaluate its
    # geometry parse + cover computation per CONSUMER: the coarse-levels
    # probe plus one evaluation per per-kind sub-join exchange/broadcast
    # — 3-4x per query.  The checkpoint is private to this invocation
    # (freed on GC, nothing survives across runs) and holds one row per
    # ref feature: geometry, covers, 5 metadata scalars.  Streaming refs
    # skip it (no checkpoint on streaming plans).
    if not ref.isStreaming:
        r_t = r_t.localCheckpoint()

    # stream ancestors are only needed at levels where some REF row actually
    # coarsened — usually none (plan-time constant from a tiny distinct agg
    # over the checkpointed ref terms).
    r_levels = _coarse_levels(
        r_t.select(F.col("__ref_res_used").alias("__res_used")), res
    )
    s_t = _with_terms(stream, geom_col, res, cap, min_res, r_levels,
                      keep_bbox=True)
    s_t = _side_meta(s_t, geom_col, "s")

    # term emission (see module comment): matches enumerate each candidate
    # pair once per SHARED term —
    #   s.cov(plain)  == r.cov(plain)   same-res candidates (the hot path)
    #   s.cov(plain)  == r.anc(plain)   stream coarsened, ref fine
    #   s.anc(tagged) == r.cov(tagged)  ref coarsened, stream fine
    # and never anc == anc (stream cov is never tagged, ref anc never plain).
    # The tagged cover copy is only emitted for COARSENED ref rows — a fine
    # row's tagged cells sit at `res` where no stream ancestor ever is, so
    # skipping them halves the ref-side term fan-out in the common case.
    s_terms = F.concat(F.col("__cov"), F.transform("__anc", _term_anc))
    # The coarsened-ref decision is made at PLAN time, not per row: a
    # per-row `when(res_used < res, ...)` branch inside the generator input
    # trips a Catalyst nested-column-aliasing bug under Generate
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on the ref geometry's extracted
    # struct fields).  `r_levels` is already a plan-time constant: when it
    # is empty (the common case) the stream emits no ancestor terms at all,
    # so tagged ref copies could never match — skip them.  When some ref
    # row did coarsen, emit the tagged copy for EVERY ref row: a fine row's
    # tagged cells sit at `res` where no stream ancestor term ever is
    # (ancestors are strictly coarser), so the extra terms cannot match —
    # they only cost fan-out in the already-uncommon mixed-res case.
    if r_levels:
        r_terms = F.concat(
            F.col("__ref_cov"),
            F.transform("__ref_cov", _term_anc),
            F.col("__ref_anc"),
        )
    else:
        r_terms = F.concat(F.col("__ref_cov"), F.col("__ref_anc"))
    # Explode an ATTRIBUTE, not the term expression itself: Catalyst's
    # InferFiltersFromGenerate adds a `size(gen) > 0` filter below every
    # explode, and with the expression inline that filter would
    # re-evaluate the ENTIRE terms computation (geometry parse UDF
    # included) once more per row; staged as a column, the inferred
    # filter tests a cheap attribute and the terms run once.
    s_c = s_t.withColumn("__term", F.explode(s_terms))
    r_c = r_t.withColumn("__term", F.explode(r_terms))

    # Split each SIDE by shape kind BEFORE the join: filtering the JOINED
    # candidates per refinement branch would execute the candidate join
    # (the widest stage of the query) once per branch, reusing only its
    # shuffle write.  Pairs partition disjointly by (stream kind, ref kind):
    # the all-fast join runs exactly once, and the three sub-joins that
    # involve a general-shape side are EMPTY whenever the corpus is all
    # points/rects (their inputs are subset filters whose exchanges are
    # shared across sub-joins, and AQE collapses the empty ones).
    s_f = s_c.where(F.col("__s_kind") < 2)
    s_s = s_c.where(F.col("__s_kind") == 2)
    r_f = r_c.where(F.col("__r_kind") < 2)
    r_s = r_c.where(F.col("__r_kind") == 2)

    # exactly-once pair dedup: keep the match whose join term is the
    # smallest ENUMERATED shared term (the three disjoint sets above).  A
    # stream row with exactly ONE term (a point's single level-res cell, no
    # ancestors — the dominant point-stream shape) meets a given ref row at
    # most once, because the ref side's enumerated terms (cov +
    # distinct-level ancestors) are pairwise distinct — so such a pair is
    # unique and skips the per-candidate array_intersect/array_min work
    # (Or short-circuits in codegen).
    min_common = F.array_min(F.concat(
        F.array_intersect("__cov", "__ref_cov"),
        F.array_intersect("__cov", "__ref_anc"),
        F.transform(F.array_intersect("__anc", "__ref_cov"), _term_anc),
    ))
    single_term = (F.size("__cov") == 1) & (F.size("__anc") == 0)
    drop_cols = ["__term", "__cov", "__anc", "__res_used",
                 "__ref_cov", "__ref_anc", "__ref_res_used"]

    salt = None
    if salt_hot_cells and not broadcast_ref:
        # The sketch samples the STREAM BEFORE the cover computation, so it
        # is not a second full pass over the exploded candidate stream (the
        # widest intermediate in the job): the terms run over
        # sketch_sample_frac of the rows only (all rows when None), counts
        # are scaled back up, and hot-key detection only needs
        # order-of-magnitude accuracy (a >hot_threshold key still has
        # ~frac*threshold >> 1 sampled occurrences).
        frac = min(sketch_sample_frac or 1.0, 1.0)
        sk = stream.select(geom_col)
        if frac < 1.0:
            sk = sk.sample(frac, seed=42)
        freq = (
            _with_terms(sk, geom_col, res, cap, min_res, r_levels)
            .select(F.explode(s_terms).alias("__term"))
            .groupBy("__term")
            .agg((F.count(F.lit(1)) / F.lit(frac))
                 .cast("long").alias("key_count"))
        )
        salt = hot_key_plan(freq, "__term", hot_threshold, target_per_salt)

    def cand_of(ssub, rsub):
        j = candidate_join(ssub, rsub, "__term", broadcast_ref, salt)
        return j.where(
            single_term | (F.col("__term") == min_common)
        ).drop(*drop_cols)

    # ---- refinement: pure-Catalyst fast paths for the dominant shapes ----
    # (all predicates read the per-side scalar metadata computed before
    # the join — zero array ops per candidate on the fast paths)
    sg = F.col(geom_col)
    rg = F.col("__ref_geom")
    SK, RK = F.col("__s_kind"), F.col("__r_kind")
    sminx, smaxx = F.col("__s_minx"), F.col("__s_maxx")
    sminy, smaxy = F.col("__s_miny"), F.col("__s_maxy")
    rminx, rmaxx = F.col("__r_minx"), F.col("__r_maxx")
    rminy, rmaxy = F.col("__r_miny"), F.col("__r_maxy")
    ix0, ix1 = F.greatest(sminx, rminx), F.least(smaxx, rmaxx)
    iy0, iy1 = F.greatest(sminy, rminy), F.least(smaxy, rmaxy)

    def rect_geom(x0, y0, x1, y1):
        return F.struct(
            F.lit("Polygon").alias("geom_type"),
            F.array(x0, x1, x1, x0, x0).alias("x"),
            F.array(y0, y0, y1, y1, y0).alias("y"),
            F.array(F.lit(0), F.lit(5)).alias("ring_offsets"),
            F.array(F.lit(0), F.lit(1)).alias("part_offsets"),
        )

    fast = cand_of(s_f, r_f)
    # point bboxes degenerate to the point itself, so px == __s_minx etc.
    fast_keep = (
        F.when((SK == 1) & (RK == 1), (ix1 > ix0) & (iy1 > iy0))
        .when((SK == 0) & (RK == 1),
              (sminx >= rminx) & (sminx <= rmaxx)
              & (sminy >= rminy) & (sminy <= rmaxy))
        .when((SK == 1) & (RK == 0),
              (rminx >= sminx) & (rminx <= smaxx)
              & (rminy >= sminy) & (rminy <= smaxy))
        .otherwise((sminx == rminx) & (sminy == rminy))
    )
    fast_geom = (
        F.when((SK == 1) & (RK == 1), rect_geom(ix0, iy0, ix1, iy1))
        .when((SK == 1) & (RK == 0), rg)
        .otherwise(sg)  # pr / pp: the stream point survives
    )
    fast_out = fast.where(fast_keep).withColumn("__igeom", fast_geom)

    # general geometries: Arrow-batched exact kernels (the slow path only
    # ever sees pairs with a non-(point|axis-rect) side — three sub-joins
    # covering exactly the pairs where either side is general)
    slow = (
        cand_of(s_s, r_f)
        .unionByName(cand_of(s_s, r_s))
        .unionByName(cand_of(s_f, r_s))
    )
    slow_out = slow.withColumn(
        "__igeom", _pair_intersection(sg, rg)
    ).where(F.col("__igeom.geom_type").isNotNull())

    refined = fast_out.unionByName(slow_out)
    out_cols = [
        F.col("__igeom").alias(geom_col) if c == geom_col else F.col(c)
        for c in stream.columns
    ] + [F.col(c) for c in keep_ref_cols]
    return refined.select(*out_cols)


# -------------------------------------------------------------- contains

def join_contains(
    containers: DataFrame,
    contained: DataFrame,
    field_name: str,
    geom_col: str = "geom",
    res: int | None = None,
    cap: int = 256,
    min_res: int | None = None,
    explode_gc: bool = True,
) -> DataFrame:
    """`ndjson-spatial join-contains --ref f --field-name n` — proposed but
    stubbed in the reference (join_contains.rs:21-23, README.md:71-77); the
    engine implements it for real (SURVEY §2.3 J5).

    Semantics: for every container (polygon) row, collect the contained
    features into an array column `field_name`.  Containers with no
    contained features keep an empty array.  Contained geometries:
    points (PIP fast path) AND general lines/polygons (all-vertices-in +
    no proper boundary crossing + no container hole inside the candidate
    — correct for concave containers and donut containers; boundary
    contact counts as contained).  GeometryCollection rows on the
    CONTAINED side auto-explode to member rows (round-4, same
    pure-Catalyst expression as the intersection join) — each member is
    tested independently, so a GC contributes one collected entry per
    contained member.
    """
    if explode_gc:
        from ..functions.geo import explode_collections

        contained = explode_collections(contained, geom_col)
    if res is None:
        res = auto_resolution(containers, geom_col)
    if min_res is None:
        min_res = max(0, res - 6)
    cid = "__cid"
    # the id column feeds THREE separate branches (point terms, general
    # terms, final join-back) — monotonically_increasing_id is only
    # deterministic while the scan partitioning is, so an AQE-coalesced or
    # recomputed branch could renumber and silently mis-bucket containment.
    # Persisting pins one numbering for every consumer (same discipline as
    # operators/knn.py).
    c = containers.withColumn(cid, F.monotonically_increasing_id()).persist()
    c_t = _with_terms(
        c.select(cid, F.col(geom_col).alias("__container_geom")),
        "__container_geom", res, cap, min_res, (),
    )
    # containers only emit their (possibly cap-coarsened) cover; points
    # bridge the resolution gap by emitting ancestors at exactly the
    # coarse levels present among containers (usually none).
    c_levels = _coarse_levels(c_t, res)
    c_cells = (
        c_t.withColumn("__cell", F.explode("__cov"))
        .drop("__cov", "__anc", "__res_used")
    )

    pt_struct = F.struct(*[F.col(x) for x in contained.columns])
    d = contained.select(
        pt_struct.alias("__feature"),
        F.element_at(F.col(f"{geom_col}.x"), 1).alias("__px"),
        F.element_at(F.col(f"{geom_col}.y"), 1).alias("__py"),
        F.col(geom_col).alias("__pt_geom"),
    ).where(F.col(f"{geom_col}.geom_type") == "Point")
    d_t = _with_terms(d, "__pt_geom", res, cap, min_res, c_levels)
    d_cells = (
        d_t.withColumn("__cell", F.explode(F.concat("__cov", "__anc")))
        .drop("__cov", "__anc", "__res_used")
    )

    # no pair dedup needed: a point's terms sit at DISTINCT levels (its one
    # level-res cell + one ancestor per coarse level) while a container's
    # cover is at a single level, so each (container, point) pair joins at
    # most once.  If contained ever grows beyond points, apply the
    # min-common-term rule used by spatial_intersection_join.
    cand = c_cells.join(d_cells, "__cell").drop("__cell")

    @pandas_udf(T.BooleanType())
    def _pip_batch(key: pd.Series, px: pd.Series, py: pd.Series,
                   poly: pd.DataFrame) -> pd.Series:
        """PIP refinement, vectorized per CONTAINER: candidates are grouped
        by the container id within the Arrow batch and each container tests
        all its candidate points in ONE points_in_polygon kernel call — no
        per-row .iloc loop (the round-1 hot-spot)."""
        n = len(px)
        out = np.zeros(n, bool)
        if n == 0:
            return pd.Series(out)
        pxv = px.to_numpy(np.float64)
        pyv = py.to_numpy(np.float64)
        gts = poly["geom_type"].to_numpy()
        Xs = poly["x"].to_numpy()
        Ys = poly["y"].to_numpy()
        ROs = poly["ring_offsets"].to_numpy()
        POs = poly["part_offsets"].to_numpy()
        groups: dict = {}
        for i, k in enumerate(key.to_numpy()):
            if gts[i] in ("Polygon", "MultiPolygon"):
                groups.setdefault(k, []).append(i)
        for idx in groups.values():
            i0 = idx[0]
            rows = np.asarray(idx)
            got = KG.points_in_polygon(
                pxv[rows], pyv[rows],
                np.asarray(Xs[i0], np.float64), np.asarray(Ys[i0], np.float64),
                np.asarray(ROs[i0], np.int64), np.asarray(POs[i0], np.int64),
            )
            out[rows] = got
        return pd.Series(out)

    hits = cand.where(
        _pip_batch(F.col(cid), "__px", "__py", F.col("__container_geom"))
    ).select(cid, "__feature")

    # ---- general contained geometries (rects / polygons / lines) ----
    # G ⊆ P iff (1) every vertex of G is inside P, (2) no edge of G
    # properly crosses an edge of P (covers concave containers), and
    # (3) no hole of P lies strictly inside G (a hole that does not cross
    # G's boundary is wholly inside or outside, so one representative
    # vertex decides).  Boundary contact counts as contained (PIP ray
    # convention).  Candidate covers may span several cells, so the pair
    # is deduped on (container, contained-row) ids — this branch prunes
    # to nothing on point-only corpora before any Python runs.
    g_src = contained.withColumn("__did", F.monotonically_increasing_id())
    g = g_src.where(
        F.col(f"{geom_col}.geom_type").isNotNull()
        & (F.col(f"{geom_col}.geom_type") != "Point")
    ).select(
        "__did",
        F.struct(*[F.col(x) for x in contained.columns]).alias("__feature"),
        F.col(geom_col).alias("__g"),
    )
    g_t = _with_terms(g, "__g", res, cap, min_res, c_levels)
    g_cells = (
        g_t.withColumn("__cell", F.explode(F.concat("__cov", "__anc")))
        .drop("__cov", "__anc", "__res_used")
    )
    # unlike points, a large contained geometry can itself cap-coarsen
    # below `res`; the general branch's container terms therefore include
    # ancestors at every reachable coarse level so mixed-res covers still
    # meet (the dedup above absorbs the extra multiplicity)
    c_tg = _with_terms(
        c.select(cid, F.col(geom_col).alias("__container_geom")),
        "__container_geom", res, cap, min_res, range(min_res, res),
    )
    c_cells_g = (
        c_tg.withColumn("__cell", F.explode(F.concat("__cov", "__anc")))
        .drop("__cov", "__anc", "__res_used")
    )
    cand_g = (
        c_cells_g.join(g_cells, "__cell").drop("__cell")
        .dropDuplicates([cid, "__did"])
    )
    hits_g = cand_g.where(
        _geom_contained_batch(F.col(cid), F.col("__g"),
                              F.col("__container_geom"))
    ).select(cid, "__feature")

    agg = (
        hits.unionByName(hits_g)
        .groupBy(cid).agg(F.collect_list("__feature").alias(field_name))
    )
    out = c.join(agg, cid, "left").withColumn(
        field_name, F.coalesce(F.col(field_name), F.array())
    )
    return out.drop(cid)


def _ring_edges(xs, ys, ro):
    """Edge endpoint arrays for consecutive vertex pairs WITHIN each ring
    (rings carry their closing duplicate, so no wrap edge is needed)."""
    ax, ay, bx, by = [], [], [], []
    for r in range(len(ro) - 1):
        s, e = ro[r], ro[r + 1]
        if e - s < 2:
            continue
        ax.append(xs[s:e - 1]); ay.append(ys[s:e - 1])
        bx.append(xs[s + 1:e]); by.append(ys[s + 1:e])
    if not ax:
        z = np.empty(0)
        return z, z, z, z
    return (np.concatenate(ax), np.concatenate(ay),
            np.concatenate(bx), np.concatenate(by))


@pandas_udf(T.BooleanType())
def _geom_contained_batch(key: pd.Series, g: pd.DataFrame,
                          poly: pd.DataFrame) -> pd.Series:
    """Containment refinement for non-point geometries, grouped per
    container within the Arrow batch (same shape as _pip_batch): one PIP
    call covers ALL candidate vertices of a container, crossing tests are
    vectorized over candidate edges per container edge."""
    n = len(key)
    out = np.zeros(n, bool)
    if n == 0:
        return pd.Series(out)
    gts = poly["geom_type"].to_numpy()
    CX, CY = poly["x"].to_numpy(), poly["y"].to_numpy()
    CRO, CPO = poly["ring_offsets"].to_numpy(), poly["part_offsets"].to_numpy()
    GX, GY = g["x"].to_numpy(), g["y"].to_numpy()
    GRO = g["ring_offsets"].to_numpy()
    groups: dict = {}
    for i, k in enumerate(key.to_numpy()):
        if gts[i] in ("Polygon", "MultiPolygon"):
            groups.setdefault(k, []).append(i)
    for idx in groups.values():
        i0 = idx[0]
        cx = np.asarray(CX[i0], np.float64)
        cy = np.asarray(CY[i0], np.float64)
        cro = np.asarray(CRO[i0], np.int64)
        cpo = np.asarray(CPO[i0], np.int64)
        # (1) all candidate vertices inside, one kernel call
        vx = [np.asarray(GX[i], np.float64) for i in idx]
        vy = [np.asarray(GY[i], np.float64) for i in idx]
        counts = np.array([len(v) for v in vx])
        flat_in = KG.points_in_polygon(
            np.concatenate(vx), np.concatenate(vy), cx, cy, cro, cpo)
        offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
        all_in = np.minimum.reduceat(flat_in, offs).astype(bool)
        all_in &= counts > 0
        # container edges once per group
        pax, pay, pbx, pby = _ring_edges(cx, cy, cro)
        for j, i in enumerate(idx):
            if not all_in[j]:
                continue
            gx = np.asarray(GX[i], np.float64)
            gy = np.asarray(GY[i], np.float64)
            gro = np.asarray(GRO[i], np.int64)
            ax, ay, bx, by = _ring_edges(gx, gy, gro)
            ok = True
            # (2) proper crossings: orientations strictly oppose twice
            for e in range(len(pax)):
                d1 = ((pbx[e] - pax[e]) * (ay - pay[e])
                      - (pby[e] - pay[e]) * (ax - pax[e]))
                d2 = ((pbx[e] - pax[e]) * (by - pay[e])
                      - (pby[e] - pay[e]) * (bx - pax[e]))
                d3 = ((bx - ax) * (pay[e] - ay) - (by - ay) * (pax[e] - ax))
                d4 = ((bx - ax) * (pby[e] - ay) - (by - ay) * (pbx[e] - ax))
                if ((d1 * d2 < 0) & (d3 * d4 < 0)).any():
                    ok = False
                    break
            # (3) container holes strictly inside a polygon candidate
            if ok and g["geom_type"].iat[i] in ("Polygon", "MultiPolygon"):
                for p in range(len(cpo) - 1):
                    for r in range(cpo[p] + 1, cpo[p + 1]):
                        hx, hy = cx[cro[r]], cy[cro[r]]
                        hole_in = KG.points_in_polygon(
                            np.array([hx]), np.array([hy]), gx, gy, gro,
                            np.asarray(g["part_offsets"].iat[i], np.int64))
                        if hole_in[0]:
                            ok = False
                            break
                    if not ok:
                        break
            out[i] = ok
    return pd.Series(out)


# ----------------------------------------------------------------- tiles

def _ring_area_in_rect(xs, ys, bb, is_rect, x0, y0, x1, y1) -> float:
    """Area of one ring's interior inside the rect [x0, x1] x [y0, y1];
    `bb` is the ring's (minx, maxx, miny, maxy)."""
    w = min(bb[1], x1) - max(bb[0], x0)
    h = min(bb[3], y1) - max(bb[2], y0)
    if w <= 0 or h <= 0:
        return 0.0
    if is_rect:
        return w * h
    cx, cy = KG.clip_ring_rect(xs, ys, x0, y0, x1, y1)
    return abs(KG._signed_area(cx, cy)) if len(cx) >= 3 else 0.0


def _polygon_hits_rects(xs, ys, ro, po, rx0, ry0, rx1, ry1) -> np.ndarray:
    """Per rect: is the polygon's role-signed area inside it positive?"""
    # (x, y, bbox, is axis rect, +1 first ring of a part / -1 later rings)
    rings = []
    for p in range(len(po) - 1):
        for r in range(po[p], po[p + 1]):
            rx, ry = xs[ro[r]:ro[r + 1]], ys[ro[r]:ro[r + 1]]
            rings.append((rx, ry, (rx.min(), rx.max(), ry.min(), ry.max()),
                          KG.ring_is_axis_rect(rx, ry),
                          1.0 if r == po[p] else -1.0))
    hit = np.zeros(len(rx0), bool)
    if len(rings) == len(po) - 1:
        # no hole rings: an axis-rect part hits every tile its bbox
        # strictly overlaps (touch-only excluded)
        for _, _, bb, is_rect, _ in rings:
            if is_rect:
                hit |= ((bb[1] > rx0) & (bb[0] < rx1)
                        & (bb[3] > ry0) & (bb[2] < ry1))
    lv = np.nonzero(~hit & (xs.max() > rx0) & (xs.min() < rx1)
                    & (ys.max() > ry0) & (ys.min() < ry1))[0]
    if not len(lv):
        return hit
    # tile centre inside the polygon (even-odd over all rings, one kernel
    # call for all live rects): the tile hits; the rest sum clipped areas
    centers_in = KG.points_in_polygon(
        (rx0[lv] + rx1[lv]) / 2.0, (ry0[lv] + ry1[lv]) / 2.0,
        xs, ys, ro, po,
    )
    hit[lv[centers_in]] = True
    for j in lv[~centers_in]:
        area = 0.0
        for rx, ry, bb, is_rect, sign in rings:
            area += sign * _ring_area_in_rect(
                rx, ry, bb, is_rect, rx0[j], ry0[j], rx1[j], ry1[j])
        hit[j] = area > 0
    return hit


@pandas_udf(T.BooleanType())
def _geom_intersects_rect(
    geom: pd.DataFrame, minx: pd.Series, miny: pd.Series,
    maxx: pd.Series, maxy: pd.Series,
) -> pd.Series:
    """Exact geometry-vs-tile-rect test: a polygon hits a tile iff its
    role-signed area inside the tile is positive (each part's first ring
    adds its clipped area, every further ring subtracts it — the even-odd
    reading of holes and of _pair_intersection's parts, so a tile inside a
    hole scores exactly 0; axis-rect rings clip in closed form, so a hole
    clipping to the same rectangle as its exterior cancels exactly).
    Points are half-open point-in-rect; lines use an exact segment-vs-rect
    test.  Boundary-touch-only pairs are excluded (documented).

    Hot path at scale (one call per candidate (geometry, tile) pair), so:
    raw numpy column arrays (no pandas .iloc), a vectorized bbox pre-test,
    exact shortcuts (axis-rect parts of hole-free polygons; tile centre
    inside the polygon over all rings) and a vectorized half-plane clipper
    (kernels.clip_ring_rect) for the remaining tiles.
    """
    n = len(geom)
    out = np.zeros(n, bool)
    gts = geom["geom_type"].to_numpy()
    Xs = geom["x"].to_numpy()
    Ys = geom["y"].to_numpy()
    ROs = geom["ring_offsets"].to_numpy()
    POs = geom["part_offsets"].to_numpy()
    x0 = minx.to_numpy()
    y0 = miny.to_numpy()
    x1 = maxx.to_numpy()
    y1 = maxy.to_numpy()

    # points: fully vectorized across the batch, no loop
    pt_rows = np.nonzero(gts == "Point")[0]
    if len(pt_rows):
        px = np.array([Xs[i][0] for i in pt_rows], np.float64)
        py = np.array([Ys[i][0] for i in pt_rows], np.float64)
        out[pt_rows] = ((x0[pt_rows] <= px) & (px < x1[pt_rows])
                        & (y0[pt_rows] < py) & (py <= y1[pt_rows]))

    # non-points: tile candidates repeat the SAME geometry once per tile,
    # so group rows by geometry bytes and test each geometry against its
    # whole rect set in vectorized kernel calls
    groups: dict = {}
    for i in range(n):
        gt = gts[i]
        if gt is None or gt == "Point":
            continue
        key = (gt, np.asarray(Xs[i], np.float64).tobytes(),
               np.asarray(Ys[i], np.float64).tobytes(),
               np.asarray(ROs[i], np.int64).tobytes(),
               np.asarray(POs[i], np.int64).tobytes())
        groups.setdefault(key, []).append(i)

    for (gt, _, _, _, _), idx in groups.items():
        rows = np.asarray(idx)
        i0 = rows[0]
        xs = np.asarray(Xs[i0], np.float64)
        ys = np.asarray(Ys[i0], np.float64)
        ro = np.asarray(ROs[i0], np.int64)
        rx0, ry0, rx1, ry1 = x0[rows], y0[rows], x1[rows], y1[rows]
        if gt not in ("Polygon", "MultiPolygon"):
            # LineString-ish: exact segment-vs-rect test (a long segment
            # crossing the tile with no vertex inside still counts),
            # broadcast over all the geometry's candidate rects at once
            hit = np.zeros(len(rows), bool)
            for r in range(len(ro) - 1):
                hit |= KG.polyline_intersects_rects(
                    xs[ro[r]:ro[r + 1]], ys[ro[r]:ro[r + 1]],
                    rx0, ry0, rx1, ry1,
                )
                if hit.all():
                    break
            out[rows] = hit
            continue
        po = np.asarray(POs[i0], np.int64)
        out[rows] = _polygon_hits_rects(xs, ys, ro, po, rx0, ry0, rx1, ry1)
    return pd.Series(out)


def assign_tiles(
    df: DataFrame,
    zooms: list[int],
    geom_col: str = "geom",
    cap: int = 1024,
) -> DataFrame:
    """Raster<->vector tile assignment at fixed zoom levels (north rule —
    no reference counterpart, SURVEY §2.7).

    A geometry is assigned to every web-mercator XYZ tile it intersects.
    Level-z cells ARE the XYZ tiles (kernels/cells.py), so assignment =
    cell cover + exact rect refinement.  Output: input columns +
    (zoom:int, tile_x:long, tile_y:long, tile_id:long), one row per
    (row, tile).

    Plan shape (scale-tuned): the input splits FIRST on pure-Catalyst shape
    flags, so each row pays the cover UDF exactly once; the cover UDF emits
    all zooms in one pass as flat arrays (struct-of-arrays), exploded with
    JVM arrays_zip; per-candidate refinement is pure Catalyst for points
    and axis-rects (dominant shapes), Arrow-batched exact kernels only for
    general polygons.
    """
    g = F.col(geom_col)
    cover = make_st_cells_bounds_multi(list(zooms), cap=cap)
    is_fast = (g["geom_type"] == "Point") | _is_axis_rect(g)

    def with_candidates(part: DataFrame) -> DataFrame:
        withc = part.withColumn("__cb", cover(g))
        cand = withc.withColumn(
            "__t",
            F.explode(
                F.arrays_zip(
                    F.col("__cb.zoom").alias("zoom"),
                    F.col("__cb.dres").alias("dres"),
                    F.col("__cb.minx").alias("minx"),
                    F.col("__cb.miny").alias("miny"),
                    F.col("__cb.maxx").alias("maxx"),
                    F.col("__cb.maxy").alias("maxy"),
                )
            ),
        ).drop("__cb")
        # A cap-coarsened cover entry (dres > 0) is a level-(z-dres) cell;
        # expand it into its true zoom-z child tiles HERE, in pure Catalyst
        # (two bounded sequence explodes + closed-form child bounds), so
        # emitted rows always sit on the zoom-z grid — never a mislabeled
        # coarse tile.  Fan-out equals the geometry's real tile count; the
        # common dres == 0 case degenerates to two singleton explodes.
        t = F.col("__t")
        cand = cand.withColumn(
            "__side", F.pow(F.lit(2.0), t["dres"]).cast("long")
        )
        child = F.sequence(F.lit(0).cast("long"), F.col("__side") - 1)
        cand = cand.withColumn("__dx", F.explode(child))
        cand = cand.withColumn("__dy", F.explode(child))
        csize = (t["maxx"] - t["minx"]) / F.col("__side")
        cminx = t["minx"] + F.col("__dx") * csize
        cmaxy = t["maxy"] - F.col("__dy") * csize
        return cand.withColumn(
            "__t",
            F.struct(
                t["zoom"].alias("zoom"),
                cminx.alias("minx"),
                (cmaxy - csize).alias("miny"),
                (cminx + csize).alias("maxx"),
                cmaxy.alias("maxy"),
            ),
        ).drop("__side", "__dx", "__dy")

    t = F.col("__t")
    px, py = F.element_at(g["x"], 1), F.element_at(g["y"], 1)
    point_keep = (
        (t["minx"] <= px) & (px < t["maxx"])
        & (t["miny"] < py) & (py <= t["maxy"])
    )
    rect_keep = (
        (F.array_min(g["x"]) < t["maxx"]) & (F.array_max(g["x"]) > t["minx"])
        & (F.array_min(g["y"]) < t["maxy"]) & (F.array_max(g["y"]) > t["miny"])
    )
    fast = with_candidates(df.where(is_fast)).where(
        F.when(g["geom_type"] == "Point", point_keep).otherwise(rect_keep)
    )
    slow = with_candidates(df.where(~is_fast)).where(
        _geom_intersects_rect(g, t["minx"], t["miny"], t["maxx"], t["maxy"])
    )

    size = t["maxx"] - t["minx"]
    tx = F.round((t["minx"] + KC.MERC_MAX) / size).cast("long")
    ty = F.round((KC.MERC_MAX - t["maxy"]) / size).cast("long")
    outs = [
        branch.select(
            *df.columns,
            t["zoom"].alias("zoom"),
            tx.alias("tile_x"),
            ty.alias("tile_y"),
            # Morton id recomputed JVM-side from the (possibly expanded)
            # tile coordinates — stays inside whole-stage codegen
            cell_id_expr(tx, ty, t["zoom"]).alias("tile_id"),
        )
        for branch in (fast, slow)
    ]
    return outs[0].unionByName(outs[1])


@pandas_udf(GEOM_TYPE)
def _clip_to_cell(g: pd.DataFrame, bounds: pd.DataFrame) -> pd.DataFrame:
    """Clip each polygon row to its axis-rect cell bounds — the subdivide
    refinement kernel.  ALL rings (exteriors and holes, every part) of the
    whole Arrow batch go through ONE padded clip_rings_rects_batch call;
    per-row work is reassembly only.  Hole clips ride as subtracting rings
    (the engine's even-odd ring algebra); a part whose exterior clips away
    contributes nothing.  Non-polygon rows -> null."""
    n = len(g)
    out = {"geom_type": [None] * n, "x": [None] * n, "y": [None] * n,
           "ring_offsets": [None] * n, "part_offsets": [None] * n}
    gt = g["geom_type"].to_numpy()
    xs_col, ys_col = g["x"].to_numpy(), g["y"].to_numpy()
    ro_col, po_col = g["ring_offsets"].to_numpy(), g["part_offsets"].to_numpy()
    bx0 = bounds["x0"].to_numpy(np.float64)
    by0 = bounds["y0"].to_numpy(np.float64)
    bx1 = bounds["x1"].to_numpy(np.float64)
    by1 = bounds["y1"].to_numpy(np.float64)

    rings = []      # (x, y) per ring across the whole batch
    meta = []       # (row, part_idx, is_hole)
    for i in range(n):
        if gt[i] not in ("Polygon", "MultiPolygon"):
            continue
        xs = np.asarray(xs_col[i], np.float64)
        ys = np.asarray(ys_col[i], np.float64)
        ro = np.asarray(ro_col[i], np.int64)
        po = np.asarray(po_col[i], np.int64)
        for p in range(len(po) - 1):
            for r in range(po[p], po[p + 1]):
                rings.append((xs[ro[r]:ro[r + 1]], ys[ro[r]:ro[r + 1]]))
                meta.append((i, p, r != po[p]))
    if rings:
        X, Y, c = KG.pad_rings_batch(rings)
        rows_idx = np.array([m[0] for m in meta], np.int64)
        OX, OY, oc = KG.clip_rings_rects_batch(
            X, Y, c, bx0[rows_idx], by0[rows_idx],
            bx1[rows_idx], by1[rows_idx])
        # reassemble: per (row, part): [ext clip] + hole clips
        per_row: dict = {}
        for u, (i, p, is_hole) in enumerate(meta):
            m = int(oc[u])
            if m < 3:
                continue
            rx, ry = OX[u, :m], OY[u, :m]
            if abs(KG._signed_area(rx, ry)) == 0:
                continue
            ring = (np.append(rx, rx[0]), np.append(ry, ry[0]))
            parts = per_row.setdefault(i, {})
            ext, holes = parts.setdefault(p, (None, []))
            if not is_hole:
                parts[p] = (ring, holes)
            else:
                holes.append(ring)
        for i, parts in per_row.items():
            keep = [(ext, holes) for _, (ext, holes) in sorted(parts.items())
                    if ext is not None]
            if not keep:
                continue
            xs2, ys2, ro2, po2 = [], [], [0], [0]
            for ext, holes in keep:
                for rx, ry in [ext] + holes:
                    xs2.extend(float(v) for v in rx)
                    ys2.extend(float(v) for v in ry)
                    ro2.append(len(xs2))
                po2.append(len(ro2) - 1)
            out["geom_type"][i] = ("Polygon" if len(keep) == 1
                                   else "MultiPolygon")
            out["x"][i] = xs2
            out["y"][i] = ys2
            out["ring_offsets"][i] = ro2
            out["part_offsets"][i] = po2
    return pd.DataFrame(out)


def subdivide_polygons(
    df: DataFrame,
    geom_col: str = "geom",
    cell: float = 4096.0,
) -> DataFrame:
    """Grid subdivision of polygons — PostGIS ST_Subdivide's role in a
    distributed join (split the continent-sized polygon so no single ref
    key owns a hot cell): every Polygon/MultiPolygon is cut along the
    axis-aligned grid of size ``cell`` into parts that each lie inside
    ONE grid cell, tagged (cell_x, cell_y).  Downstream cell joins become
    part-local (a part never spans cells, so candidates need no
    multi-cell covers) and refinement parallelizes across the parts of
    what was one giant geometry.

    Plan shape: bbox + covered-cell range are pure Catalyst (array_min/
    max over the coordinate arrays, sequence-explode over the cell
    range, fan-out = covered cells only); the clip is one Arrow-batched
    kernel call per batch (clip_rings_rects_batch over every ring of
    every row at once).  Degenerate boundary grazes (zero-area clips)
    are dropped.  Non-polygon rows pass through unchanged with the cell
    of their bbox min corner.
    """
    gx = F.col(geom_col)
    minx = F.array_min(gx["x"])
    maxx = F.array_max(gx["x"])
    miny = F.array_min(gx["y"])
    maxy = F.array_max(gx["y"])
    is_poly = gx["geom_type"].isin("Polygon", "MultiPolygon")

    poly = df.where(is_poly).select(
        "*",
        F.explode(F.sequence(
            F.floor(minx / cell).cast("long"),
            F.floor(maxx / cell).cast("long"),
        )).alias("cell_x"),
    ).select(
        "*",
        F.explode(F.sequence(
            F.floor(F.array_min(gx["y"]) / cell).cast("long"),
            F.floor(F.array_max(gx["y"]) / cell).cast("long"),
        )).alias("cell_y"),
    )
    bounds = F.struct(
        (F.col("cell_x") * cell).alias("x0"),
        (F.col("cell_y") * cell).alias("y0"),
        ((F.col("cell_x") + 1) * cell).alias("x1"),
        ((F.col("cell_y") + 1) * cell).alias("y1"),
    )
    # a pandas_udf struct row with all-null fields is a NON-null struct:
    # filter on the discriminator field, not the struct
    clipped = poly.withColumn(geom_col, _clip_to_cell(gx, bounds)) \
        .where(F.col(geom_col)["geom_type"].isNotNull())
    # round-6 (advisor note): NULL-geometry rows made is_poly NULL, so
    # both branches dropped them, contradicting the documented
    # "non-polygon rows pass through unchanged" — coalesce routes them to
    # the passthrough branch (with null cell_x/cell_y from the null bbox)
    passthrough = df.where(~F.coalesce(is_poly, F.lit(False))).select(
        "*",
        F.floor(minx / cell).cast("long").alias("cell_x"),
        F.floor(miny / cell).cast("long").alias("cell_y"),
    )
    return clipped.unionByName(passthrough)


def make_trajectories(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Trajectory assembly (PostGIS ST_MakeLine(geom ORDER BY ts) — the
    GPS-pipeline staple): per entity, collect its points in
    (ts, tiebreak) order into ONE LineString geometry plus exact trip
    metrics.  Pure Catalyst end to end: one entity-keyed aggregate
    (collect_list of (ts, x, y) structs — struct order makes array_sort
    the ORDER BY), then transform/zip_with projections for the geometry
    arrays and the segment fold.  One shuffle total; no Python.

    Metrics stay integer-exact on integer coordinates: ``sum_d2`` is the
    fold of squared segment lengths (no sqrt — bit-stable in any
    engine), ``duration_us`` the microsecond span (long arithmetic; a
    seconds DOUBLE would round differently depending on whether the
    engine divides before or after subtracting).

    Output: (entity_col, geom LineString, n_points, sum_d2,
    duration_us).
    """
    pts = F.array_sort(F.collect_list(F.struct(
        F.col(ts_col).alias("ts"), F.col(x_col).alias("x"),
        F.col(y_col).alias("y"))))
    g = df.groupBy(entity_col).agg(
        pts.alias("__pts"),
        F.count(F.lit(1)).cast("int").alias("n_points"),
        (F.unix_micros(F.max(ts_col).cast("timestamp"))
         - F.unix_micros(F.min(ts_col).cast("timestamp")))
        .alias("duration_us"),
    )
    xs = F.transform("__pts", lambda s: s["x"].cast("double"))
    ys = F.transform("__pts", lambda s: s["y"].cast("double"))
    n = F.size("__pts")
    # per-axis consecutive-pair folds (zip of the array with its shift)
    d2 = F.aggregate(
        F.zip_with(F.slice(xs, 1, n - 1), F.slice(xs, 2, n - 1),
                   lambda a, b: (b - a) * (b - a)),
        F.lit(0.0), lambda acc, v: acc + v,
    ) + F.aggregate(
        F.zip_with(F.slice(ys, 1, n - 1), F.slice(ys, 2, n - 1),
                   lambda a, b: (b - a) * (b - a)),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    geom = F.struct(
        F.when(n >= 2, F.lit("LineString")).otherwise(F.lit("Point"))
        .alias("geom_type"),
        xs.alias("x"), ys.alias("y"),
        F.array(F.lit(0), n).alias("ring_offsets"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"),
    )
    return g.select(
        entity_col, geom.alias("geom"), "n_points",
        d2.alias("sum_d2"), "duration_us")
