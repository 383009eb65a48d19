"""Closed-form oracles, sharing no code with the engine.

Inputs are read back from the staged parquet files (pyarrow / DuckDB) and
parsed with the standard `json` module.  Every geometry the workloads use
is a union of axis-aligned boxes, so intersections, hits and tile sets are
box arithmetic in numpy.  The generated coordinates are random doubles, so
no shape edge ever lies on another edge or on a tile boundary, and open vs
closed boundary rules cannot change an answer.

Expected rows are written to parquet; run.py fingerprints them with the
same aggregate it applies to the engine's output.
"""

from __future__ import annotations

import json
import math
import zlib

import numpy as np
import pandas as pd

MERC_MAX = math.pi * 6378137.0


# ------------------------------------------------------------ geometry

def _slab_rects(rings) -> list:
    """Rectilinear polygon (rings with holes, even-odd) -> disjoint boxes:
    cut into vertical slabs at every vertex x; inside each slab the
    horizontal edges spanning it pair up into inside intervals."""
    edges = []
    xs = set()
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring, ring[1:]):
            xs.update((ax, bx))
            if ay == by and ax != bx:
                edges.append((min(ax, bx), max(ax, bx), ay))
            elif ax != bx:
                raise ValueError("polygon edge is not axis-aligned")
    xs = sorted(xs)
    out = []
    for xa, xb in zip(xs, xs[1:]):
        ys = sorted(y for lo, hi, y in edges if lo <= xa and hi >= xb)
        if len(ys) % 2:
            raise ValueError("open rectilinear ring")
        out.extend((xa, ys[k], xb, ys[k + 1]) for k in range(0, len(ys), 2))
    return out


def _segments(line) -> list:
    out = []
    for (ax, ay), (bx, by) in zip(line, line[1:]):
        if ax != bx and ay != by:
            raise ValueError("line segment is not axis-aligned")
        out.append((min(ax, bx), min(ay, by), max(ax, bx), max(ay, by)))
    return out


def members(geom: dict) -> list:
    """GeoJSON geometry -> list of members, each a list of boxes
    (minx, miny, maxx, maxy).  A GeometryCollection has one member per
    geometry (the engine explodes collections); anything else is one."""
    t, c = geom["type"], geom.get("coordinates")
    if t == "GeometryCollection":
        return [m for g in geom["geometries"] for m in members(g)]
    if t == "Point":
        return [[(c[0], c[1], c[0], c[1])]]
    if t == "MultiPoint":
        return [[(p[0], p[1], p[0], p[1]) for p in c]]
    if t == "LineString":
        return [_segments(c)]
    if t == "MultiLineString":
        return [[b for line in c for b in _segments(line)]]
    if t == "Polygon":
        return [_slab_rects(c)]
    if t == "MultiPolygon":
        return [[b for poly in c for b in _slab_rects(poly)]]
    raise ValueError(f"unsupported geometry type {t!r}")


# ----------------------------------------------------------------- tiles

def tile_index(coord: np.ndarray, zoom: int, flip: bool) -> np.ndarray:
    n = float(1 << zoom)
    u = (MERC_MAX - coord) / (2.0 * MERC_MAX) if flip \
        else (coord + MERC_MAX) / (2.0 * MERC_MAX)
    return np.clip(np.floor(u * n), 0, n - 1).astype(np.int64)


def morton_id(tx: np.ndarray, ty: np.ndarray, zoom) -> np.ndarray:
    """XYZ tile id: zoom in the top 6 bits, x bits on even and y bits on
    odd positions below."""
    tx = tx.astype(np.uint64)
    ty = ty.astype(np.uint64)
    out = np.zeros(len(tx), dtype=np.uint64)
    for b in range(32):
        bit = np.uint64(b)
        out |= ((tx >> bit) & np.uint64(1)) << np.uint64(2 * b)
        out |= ((ty >> bit) & np.uint64(1)) << np.uint64(2 * b + 1)
    return (out | (np.asarray(zoom, dtype=np.uint64) << np.uint64(58))) \
        .astype(np.int64)


def _box_arrays(boxes):
    a = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    return a[:, 0], a[:, 1], a[:, 2], a[:, 3]


def intersect_tiles(stream_boxes, stream_member, ref_boxes, ref_id, zooms):
    """Every (stream member, ref, zoom, tile_x, tile_y) where the member and
    the ref overlap inside that tile.  Refs are polygons (boxes of positive
    area); a stream box may be degenerate (point or segment), in which case
    the overlap test is closed along its zero-extent axes."""
    sx0, sy0, sx1, sy1 = _box_arrays(stream_boxes)
    rx0, ry0, rx1, ry1 = _box_arrays(ref_boxes)
    s_member = np.asarray(stream_member, dtype=np.int64)
    wide_x, wide_y = sx1 > sx0, sy1 > sy0
    hits = []
    for j in range(len(rx0)):
        ix0, ix1 = np.maximum(sx0, rx0[j]), np.minimum(sx1, rx1[j])
        iy0, iy1 = np.maximum(sy0, ry0[j]), np.minimum(sy1, ry1[j])
        ok = (np.where(wide_x, ix0 < ix1, ix0 <= ix1)
              & np.where(wide_y, iy0 < iy1, iy0 <= iy1))
        k = np.nonzero(ok)[0]
        if len(k):
            hits.append((s_member[k], np.full(len(k), ref_id[j]),
                         ix0[k], iy0[k], ix1[k], iy1[k]))
    cols = ["member", "ref", "zoom", "tile_x", "tile_y"]
    if not hits:
        return pd.DataFrame({c: np.zeros(0, np.int64) for c in cols})
    mem, ref, ix0, iy0, ix1, iy1 = (np.concatenate(v) for v in zip(*hits))
    parts = []
    for z in zooms:
        tx0, tx1 = tile_index(ix0, z, False), tile_index(ix1, z, False)
        ty0, ty1 = tile_index(iy1, z, True), tile_index(iy0, z, True)
        nx, ny = tx1 - tx0 + 1, ty1 - ty0 + 1
        cnt = nx * ny
        row = np.repeat(np.arange(len(cnt)), cnt)
        k = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        parts.append(pd.DataFrame({
            "member": mem[row], "ref": ref[row],
            "zoom": np.full(len(row), z, np.int64),
            "tile_x": tx0[row] + k % nx[row],
            "tile_y": ty0[row] + k // nx[row],
        }))
    # a member made of several boxes can meet one ref several times inside
    # one tile; the engine emits that tile once per (member, ref)
    return pd.concat(parts, ignore_index=True).drop_duplicates(cols)


# ------------------------------------------------------------- workloads

def docs_tiles_expected(doc_ids, geojson_texts, zooms, ref_mod: int):
    """Expected docs_tile_pipeline rows (doc_id, zoom, tile_x, tile_y,
    tile_id) for the geometry spans (doc_id[i], geojson_texts[i]).  Refs
    are the Polygon spans whose doc's crc32 is 0 mod ref_mod; each stream
    member meeting a ref yields the tiles of their intersection."""
    s_boxes, s_member, member_doc = [], [], []
    r_boxes, r_id = [], []
    n_refs = 0
    for d, (doc, text) in enumerate(zip(doc_ids, geojson_texts)):
        geom = json.loads(text)
        for boxes in members(geom):
            s_boxes.extend(boxes)
            s_member.extend([len(member_doc)] * len(boxes))
            member_doc.append(d)
        if (geom["type"] == "Polygon"
                and zlib.crc32(doc.encode()) % ref_mod == 0):
            boxes = members(geom)[0]
            r_boxes.extend(boxes)
            r_id.extend([n_refs] * len(boxes))
            n_refs += 1
    t = intersect_tiles(s_boxes, s_member, r_boxes, np.asarray(r_id), zooms)
    docs = np.asarray(doc_ids, dtype=object)
    mdoc = np.asarray(member_doc, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": docs[mdoc[t["member"].to_numpy()]],
        "zoom": t["zoom"].to_numpy().astype(np.int32),
        "tile_x": t["tile_x"].to_numpy(),
        "tile_y": t["tile_y"].to_numpy(),
        "tile_id": morton_id(t["tile_x"].to_numpy(), t["tile_y"].to_numpy(),
                             t["zoom"].to_numpy()),
    })


def points_in_polygons_sql(points_glob: str, refs: pd.DataFrame, out_path: str):
    """Expected (pid, geom) rows of the point x polygon intersection join:
    one row per (point, polygon containing it), the geometry being the
    point.  DuckDB range join over the staged point files; `refs` holds
    each polygon as boxes (rid, minx, miny, maxx, maxy)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("r", refs)
        con.execute(f"""
            COPY (
              SELECT p.pid,
                     {{'geom_type': 'Point', 'x': [p.x], 'y': [p.y],
                       'ring_offsets': [0, 1]::INTEGER[],
                       'part_offsets': [0, 1]::INTEGER[]}} AS geom
              FROM (SELECT DISTINCT p.pid, p.x, p.y, r.rid
                    FROM read_parquet('{points_glob}') p
                    JOIN r ON p.x BETWEEN r.minx AND r.maxx
                          AND p.y BETWEEN r.miny AND r.maxy) p
            ) TO '{out_path}' (FORMAT PARQUET)
        """)
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{out_path}')").fetchone()[0]
    finally:
        con.close()
