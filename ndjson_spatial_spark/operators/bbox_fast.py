"""Pure-Catalyst fast path for bbox-shaped geometries (points + axis rects).

Web corpora are dominated by point and bbox-like geometries (the synthetic
documents table is 100% points/rects by construction, and the general
operators' `__kind` split shows the same shapes dominate real GeoJSON).
For exactly those shapes, every stage of spatial-join + tile-assignment is
CLOSED-FORM — cover cells are integer ranges, refinement is interval
arithmetic, Morton ids are shift/mask chains — so the whole pipeline can
run inside whole-stage codegen with ZERO Python workers and ZERO
intermediate materialization:

    flat_bbox        geometry struct -> 4 double cols + is_point flag
    bbox_intersection_join
                     sequence-explode cover -> cell equi-join (broadcast or
                     hash) -> max-corner pair dedup -> interval refinement;
                     emits the intersection bbox, no structs
    assign_tiles_bbox
                     per-zoom integer tile ranges -> sequence explode ->
                     exact keep predicates -> Morton tile ids

Semantics are IDENTICAL to spatial_intersection_join + assign_tiles on the
same shapes (pinned by tests/test_bbox_fast.py equivalence tests); general
geometries take the struct operators (`operators/spatial.py`) — callers
split on `is_bbox_shape` and union the outputs.

Scale notes: the only exchange is the broadcast (or cell-hash) candidate
join; fan-out per row equals the true cover size (callers route rows whose
cover exceeds `max_cells_axis` per axis to the general path, which has the
cap+ancestor-terms machinery); everything else is narrow and codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells_fn import cell_id_expr
from ..kernels.cells import MERC_MAX
from ..plans.salting import candidate_join, hot_key_plan, key_frequency_sketch

__all__ = ["flat_bbox", "is_bbox_shape", "bbox_intersection_join",
           "assign_tiles_bbox"]


def is_bbox_shape(geom_col) -> "F.Column":
    """Pure-Catalyst: geometry is a Point or an axis-aligned rectangle."""
    from .spatial import _is_axis_rect

    g = geom_col if not isinstance(geom_col, str) else F.col(geom_col)
    return (g["geom_type"] == "Point") | _is_axis_rect(g)


def flat_bbox(df: DataFrame, geom_col: str = "geom",
              prefix: str = "__b") -> DataFrame:
    """Project the geometry struct to flat bbox columns
    (<prefix>minx/miny/maxx/maxy + <prefix>pt) — the struct itself can then
    be dropped, so nothing nested crosses any exchange."""
    g = F.col(geom_col)
    return df.withColumns({
        f"{prefix}minx": F.array_min(g["x"]),
        f"{prefix}maxx": F.array_max(g["x"]),
        f"{prefix}miny": F.array_min(g["y"]),
        f"{prefix}maxy": F.array_max(g["y"]),
        f"{prefix}pt": g["geom_type"] == "Point",
    })


def _tile_index(coord, res: int, flip: bool):
    """Mercator coordinate -> clamped level-`res` tile index (Catalyst)."""
    n = 1 << res
    u = (MERC_MAX - coord) / (2.0 * MERC_MAX) if flip \
        else (coord + MERC_MAX) / (2.0 * MERC_MAX)
    t = F.floor(u * F.lit(float(n))).cast("long")
    return F.greatest(F.lit(0).cast("long"),
                      F.least(F.lit(n - 1).cast("long"), t))


def _with_cover(df: DataFrame, res: int, p: str, cp: str) -> DataFrame:
    """Explode the integer cover ranges of the bbox (prefix `p`) at `res`:
    adds {cp}tx0/{cp}ty0 (range starts, used by the pair-dedup rule), the
    exploded {cp}tx/{cp}ty, and the Morton {cp}cell."""
    out = df.withColumns({
        f"{cp}tx0": _tile_index(F.col(f"{p}minx"), res, False),
        f"{cp}tx1": _tile_index(F.col(f"{p}maxx"), res, False),
        f"{cp}ty0": _tile_index(F.col(f"{p}maxy"), res, True),
        f"{cp}ty1": _tile_index(F.col(f"{p}miny"), res, True),
    })
    out = out.withColumn(f"{cp}tx", F.explode(F.sequence(f"{cp}tx0", f"{cp}tx1")))
    out = out.withColumn(f"{cp}ty", F.explode(F.sequence(f"{cp}ty0", f"{cp}ty1")))
    return out.withColumn(
        f"{cp}cell",
        cell_id_expr(F.col(f"{cp}tx"), F.col(f"{cp}ty"), F.lit(res)),
    ).drop(f"{cp}tx1", f"{cp}ty1")


def bbox_intersection_join(
    stream: DataFrame,
    ref: DataFrame,
    res: int,
    broadcast_ref: bool = True,
    salt_hot_cells: bool = False,
    hot_threshold: int = 100_000,
    target_per_salt: int = 50_000,
) -> DataFrame:
    """Intersection join over flat bbox frames (see flat_bbox; stream uses
    prefix __b, ref must carry ONLY __rminx/__rminy/__rmaxx/__rmaxy/__rpt).

    Same contract as spatial_intersection_join restricted to point/rect
    shapes: one row per intersecting pair, stream columns preserved, the
    intersection emitted as flat bbox columns __iminx/__iminy/__imaxx/
    __imaxy + __ipt (a point iff either side is a point).  Boundary
    semantics match the struct operator's fast paths exactly: rect-rect
    requires strictly positive overlap, point-in-rect is closed.

    Join strategy as in spatial_intersection_join: ``salt_hot_cells``
    (ignored with ``broadcast_ref``) sketches every stream cell and runs
    one plan-time `hot_key_plan` job; with no hot cell it joins unsalted.
    """
    s = _with_cover(stream, res, "__b", "__s")
    r = _with_cover(ref, res, "__r", "__q").withColumnRenamed(
        "__qcell", "__scell")

    salt = None
    if salt_hot_cells and not broadcast_ref:
        freq = key_frequency_sketch(s.select("__scell"), "__scell")
        salt = hot_key_plan(freq, "__scell", hot_threshold, target_per_salt)
    j = candidate_join(s, r, "__scell", broadcast_ref, salt)

    # exactly-once pair dedup: a pair shares the rectangle of cells
    # [max(tx0s, tx0r) ..] x [max(ty0s, ty0r) ..]; keep only its corner
    j = j.where(
        (F.col("__stx") == F.greatest(F.col("__stx0"), F.col("__qtx0")))
        & (F.col("__sty") == F.greatest(F.col("__sty0"), F.col("__qty0")))
    )

    sp, rp = F.col("__bpt"), F.col("__rpt")
    px, py = F.col("__bminx"), F.col("__bminy")
    qx, qy = F.col("__rminx"), F.col("__rminy")
    ix0 = F.greatest(F.col("__bminx"), F.col("__rminx"))
    ix1 = F.least(F.col("__bmaxx"), F.col("__rmaxx"))
    iy0 = F.greatest(F.col("__bminy"), F.col("__rminy"))
    iy1 = F.least(F.col("__bmaxy"), F.col("__rmaxy"))
    keep = (
        F.when(sp & rp, (px == qx) & (py == qy))
        .when(sp, (px >= F.col("__rminx")) & (px <= F.col("__rmaxx"))
              & (py >= F.col("__rminy")) & (py <= F.col("__rmaxy")))
        .when(rp, (qx >= F.col("__bminx")) & (qx <= F.col("__bmaxx"))
              & (qy >= F.col("__bminy")) & (qy <= F.col("__bmaxy")))
        .otherwise((ix1 > ix0) & (iy1 > iy0))
    )
    out = j.where(keep).withColumns({
        "__iminx": F.when(sp, px).when(rp, qx).otherwise(ix0),
        "__iminy": F.when(sp, py).when(rp, qy).otherwise(iy0),
        "__imaxx": F.when(sp, px).when(rp, qx).otherwise(ix1),
        "__imaxy": F.when(sp, py).when(rp, qy).otherwise(iy1),
        "__ipt": sp | rp,
    })
    keep_cols = [c for c in stream.columns if not c.startswith("__b")]
    return out.select(
        *keep_cols, "__iminx", "__iminy", "__imaxx", "__imaxy", "__ipt"
    )


def assign_tiles_bbox(
    df: DataFrame,
    zooms: list[int],
    prefix: str = "__i",
) -> DataFrame:
    """Tile assignment over flat bbox columns — pure Catalyst end to end.

    One row per (input row, zoom, intersecting tile); outputs
    (zoom, tile_x, tile_y, tile_id) exactly like assign_tiles (same keep
    predicates: point half-open on x / half-open-flipped on y, rect strict
    overlap; Morton tile_id).  The zoom axis rides ONE explode so multiple
    zooms still scan the input once.
    """
    p = prefix
    z = F.col("__z")
    n = F.pow(F.lit(2.0), z)
    size = F.lit(2.0 * MERC_MAX) / n

    def tidx(coord, flip: bool):
        u = (F.lit(MERC_MAX) - coord) / F.lit(2.0 * MERC_MAX) if flip \
            else (coord + F.lit(MERC_MAX)) / F.lit(2.0 * MERC_MAX)
        t = F.floor(u * n).cast("long")
        return F.greatest(F.lit(0).cast("long"),
                          F.least((n - 1).cast("long"), t))

    out = df.withColumn(
        "__z", F.explode(F.array(*[F.lit(int(zz)) for zz in zooms]))
    )
    out = out.withColumns({
        "__ztx0": tidx(F.col(f"{p}minx"), False),
        "__ztx1": tidx(F.col(f"{p}maxx"), False),
        "__zty0": tidx(F.col(f"{p}maxy"), True),
        "__zty1": tidx(F.col(f"{p}miny"), True),
    })
    out = out.withColumn("__ztx", F.explode(F.sequence("__ztx0", "__ztx1")))
    out = out.withColumn("__zty", F.explode(F.sequence("__zty0", "__zty1")))

    tminx = F.lit(-MERC_MAX) + F.col("__ztx") * size
    tmaxx = tminx + size
    tmaxy = F.lit(MERC_MAX) - F.col("__zty") * size
    tminy = tmaxy - size
    px, py = F.col(f"{p}minx"), F.col(f"{p}miny")
    keep = F.when(
        F.col(f"{p}pt"),
        (tminx <= px) & (px < tmaxx) & (tminy < py) & (py <= tmaxy),
    ).otherwise(
        (F.col(f"{p}minx") < tmaxx) & (F.col(f"{p}maxx") > tminx)
        & (F.col(f"{p}miny") < tmaxy) & (F.col(f"{p}maxy") > tminy)
    )
    keep_cols = [c for c in df.columns if not c.startswith(p)]
    return out.where(keep).select(
        *keep_cols,
        z.cast("int").alias("zoom"),
        F.col("__ztx").alias("tile_x"),
        F.col("__zty").alias("tile_y"),
        cell_id_expr(F.col("__ztx"), F.col("__zty"), z).alias("tile_id"),
    )
