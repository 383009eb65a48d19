"""General-shape generator for the `docs_tiles_general` workload.

Every shape is a union of axis-aligned rectangles (degenerate ones for line
segments, zero-size ones for points), so the oracle can compute exact
intersections and tile sets in closed form.  `general_shape` returns the
GeoJSON geometry and, per collection member, the rect decomposition the
shape was built from; the self-tests check that the GeoJSON covers exactly
that union, and the oracle re-derives the decomposition from the GeoJSON
alone (it never sees this module's output).

`rewrite_documents` is the mapInPandas body that rewrites a seeded share of
a documents table's geometry spans into these shapes.
"""

from __future__ import annotations

import json
import random
from typing import Iterator

import pandas as pd

KINDS = ("lshape", "holed", "multi", "line", "collection")

# share of geometry spans rewritten into general shapes
GENERAL_SHARE = 0.10


def _rng(seed: int, doc_index: int) -> random.Random:
    return random.Random((int(seed) << 40) ^ int(doc_index) ^ 0x5BD1E995)


def _ring(x0, y0, x1, y1):
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


def general_shape(kind: str, x0: float, y0: float, w: float, h: float,
                  rng: random.Random) -> tuple[dict, list]:
    """(GeoJSON geometry, members) for one shape anchored at (x0, y0) with
    extent (w, h).  `members` is a list of rect lists; each rect is
    (minx, miny, maxx, maxy), degenerate for segments and points."""
    x1, y1 = x0 + w, y0 + h
    fx = lambda: x0 + w * rng.uniform(0.25, 0.75)  # noqa: E731
    fy = lambda: y0 + h * rng.uniform(0.25, 0.75)  # noqa: E731
    if kind == "lshape":
        a, b = fx(), fy()
        geom = {"type": "Polygon", "coordinates": [[
            [x0, y0], [x1, y0], [x1, b], [a, b], [a, y1], [x0, y1], [x0, y0],
        ]]}
        return geom, [[(x0, y0, x1, b), (x0, b, a, y1)]]
    if kind == "holed":
        hx0 = x0 + w * rng.uniform(0.15, 0.4)
        hx1 = x0 + w * rng.uniform(0.6, 0.85)
        hy0 = y0 + h * rng.uniform(0.15, 0.4)
        hy1 = y0 + h * rng.uniform(0.6, 0.85)
        hole = [[hx0, hy0], [hx0, hy1], [hx1, hy1], [hx1, hy0], [hx0, hy0]]
        geom = {"type": "Polygon", "coordinates": [_ring(x0, y0, x1, y1), hole]}
        frame = [(x0, y0, x1, hy0), (x0, hy1, x1, y1),
                 (x0, hy0, hx0, hy1), (hx1, hy0, x1, hy1)]
        return geom, [frame]
    if kind == "multi":
        a = x0 + w * rng.uniform(0.2, 0.4)
        b = x0 + w * rng.uniform(0.6, 0.8)
        ym = fy()
        geom = {"type": "MultiPolygon", "coordinates": [
            [_ring(x0, y0, a, y1)], [_ring(b, y0, x1, ym)],
        ]}
        return geom, [[(x0, y0, a, y1), (b, y0, x1, ym)]]
    if kind == "line":
        geom = {"type": "LineString",
                "coordinates": [[x0, y0], [x1, y0], [x1, y1]]}
        return geom, [[(x0, y0, x1, y0), (x1, y0, x1, y1)]]
    if kind == "collection":
        px, py = fx(), fy()
        a, b = fx(), fy()
        ly = fy()
        geom = {"type": "GeometryCollection", "geometries": [
            {"type": "Point", "coordinates": [px, py]},
            {"type": "Polygon", "coordinates": [_ring(x0, y0, a, b)]},
            {"type": "LineString", "coordinates": [[x0, ly], [x1, ly]]},
        ]}
        return geom, [[(px, py, px, py)], [(x0, y0, a, b)],
                      [(x0, ly, x1, ly)]]
    raise ValueError(f"unknown shape kind {kind!r}")


def _anchor(geom: dict) -> tuple[float, float]:
    c = geom["coordinates"]
    return (c[0], c[1]) if geom["type"] == "Point" else (c[0][0][0], c[0][0][1])


def rewrite_span_text(text: str, seed: int, doc_index: int) -> str:
    """The seeded rewrite of one geometry span: unchanged unless the
    (seed, doc) draw falls in GENERAL_SHARE."""
    rng = _rng(seed, doc_index)
    if rng.random() >= GENERAL_SHARE:
        return text
    kind = KINDS[int(rng.random() * len(KINDS))]
    x0, y0 = _anchor(json.loads(text))
    w = rng.uniform(2_000.0, 50_000.0)
    h = rng.uniform(2_000.0, 50_000.0)
    geom, _ = general_shape(kind, x0, y0, w, h, rng)
    return json.dumps(geom)


def rewrite_documents(seed: int):
    """mapInPandas body over the documents schema (doc_id, spans)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                idx = int(doc_id[3:])
                row = []
                for s in spans:
                    text = s["text"]
                    if s["kind"] == "geometry":
                        text = rewrite_span_text(text, seed, idx)
                    row.append({"kind": s["kind"], "text": text,
                                "media_ref": s["media_ref"],
                                "offset": s["offset"]})
                out.append(row)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "spans": out})

    return run
