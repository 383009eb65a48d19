"""The three seeded workloads.

Each workload generates its inputs from the seed, stages them through the
engine's TableCatalog (set-up, timed as `sources.stage_s`), builds its
query through the engine's public entry point, and writes the rows the
oracle expects.  The engine only ever receives the staged tables.

- docs_tiles: docs_tile_pipeline over synth_documents, all geometries points
  or axis rects -- the pure-Catalyst headline path.  It never reaches
  parse_geojson, the struct join, salting or Arrow refinement.
- docs_tiles_general: the same entry point after a seeded share of the
  geometry spans is rewritten into general shapes (L polygons, holed rects,
  MultiPolygons, LineStrings, GeometryCollections), some of which land among
  the refs -- the parse-everything general branch.
- join_partitioned: st_point stream x parse_geojson rects through the
  partitioned, hot-cell-salted spatial_intersection_join -- the candidate
  exchange, the salt plan and the per-kind split.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil

import numpy as np
import pandas as pd

from . import oracle, shapes

RES = 9
ZOOMS = (6, 9)
REF_MOD = 29          # docs_tile_pipeline's ref sample: crc32(doc_id) % 29 == 0
N_DOCS = 30_000

JOIN_POINTS = 50_000
JOIN_REFS = 1_000
JOIN_HOT_REFS = 10          # rects straddling the hot box
JOIN_L_REFS = 10            # L-shaped refs: the per-kind split's slow path
JOIN_RES = 12
JOIN_REGION = 1_500_000.0   # square side in mercator metres, origin-anchored
JOIN_HOT_FRAC = 0.10        # share of points inside one sub-cell hot box
JOIN_RECT_MIN, JOIN_RECT_MAX = 3_000.0, 9_000.0


def _files(cat, name: str) -> list[str]:
    snap = cat.snapshots(name)[-1]
    return sorted(
        f for d in snap["data_dirs"] for f in glob.glob(f"{d}/*.parquet"))


class DocsTiles:
    """docs_tile_pipeline(res=9, zooms=(6, 9)) over the documents table."""

    name = "docs_tiles"
    general = False
    session_conf: dict = {}
    # the driver-side build keeps getting faster (JIT) for several queries;
    # six take most of that drift out of the measured ones
    warmup_queries = 6
    # (module, attribute, layer) the traced run wraps
    traced = (
        ("ndjson_spatial_spark.flagship", "docs_tile_pipeline", "flagship"),
        ("ndjson_spatial_spark.flagship", "with_geojson_bbox", "flagship.classify"),
        ("ndjson_spatial_spark.flagship", "bbox_intersection_join", "bbox_fast.join"),
        ("ndjson_spatial_spark.flagship", "assign_tiles_bbox", "bbox_fast.tiles"),
        ("ndjson_spatial_spark.flagship", "spatial_intersection_join", "spatial.join"),
        ("ndjson_spatial_spark.flagship", "assign_tiles", "spatial.tiles"),
    )

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.warehouse = os.path.join(work, "warehouse")
        self.records = N_DOCS
        self.cat = None

    def generate(self, spark):
        from ndjson_spatial_spark.sources.documents import (
            DOCS_SCHEMA, synth_documents)

        docs = synth_documents(spark, n_docs=N_DOCS, seed=self.seed,
                               partitions=_parallelism(spark))
        if self.general:
            docs = docs.mapInPandas(shapes.rewrite_documents(self.seed),
                                    schema=DOCS_SCHEMA)
        return docs

    def stage(self, spark):
        """Generate and write the table (Z-order clustered, manifest stats)."""
        from ndjson_spatial_spark.plans.layout import cluster_docs_by_cell
        from ndjson_spatial_spark.sources.table import TableCatalog

        shutil.rmtree(self.warehouse, ignore_errors=True)
        self.cat = TableCatalog(spark, self.warehouse)
        n = _parallelism(spark)
        self.cat.write(
            "docs",
            cluster_docs_by_cell(self.generate(spark), partitions=n),
            stats_cols=["cell_id"],
        )

    def query(self, spark):
        from ndjson_spatial_spark import flagship

        return flagship.docs_tile_pipeline(
            self.cat.read("docs"), res=RES, zooms=ZOOMS, ref_mod=REF_MOD)

    def oracle_input(self):
        """(doc_id, geometry GeoJSON) of every geometry span, read from the
        staged files with DuckDB, plus a digest of them (the cache key)."""
        import hashlib

        import duckdb

        files = ", ".join(f"'{f}'" for f in _files(self.cat, "docs"))
        con = duckdb.connect()
        try:
            rows = con.execute(f"""
                SELECT doc_id, s.text FROM (
                  SELECT doc_id, unnest(spans) AS s
                  FROM read_parquet([{files}]))
                WHERE s.kind = 'geometry' ORDER BY doc_id, s.text
            """).fetchall()
        finally:
            con.close()
        ids = [r[0] for r in rows]
        texts = [r[1] for r in rows]
        h = hashlib.sha256()
        for d, t in zip(ids, texts):
            h.update(d.encode())
            h.update(t.encode())
        return (ids, texts), h.hexdigest()

    def expected(self, inputs, out_path: str) -> int:
        ids, texts = inputs
        df = oracle.docs_tiles_expected(ids, texts, ZOOMS, REF_MOD)
        df.to_parquet(out_path, index=False)
        return len(df)

    def sizes(self, inputs) -> dict:
        ids, texts = inputs
        return {"docs": N_DOCS, "geometry_spans": len(texts),
                "general_spans": int(sum(
                    1 for t in texts if not _is_bbox_json(t)))}


class DocsTilesGeneral(DocsTiles):
    name = "docs_tiles_general"
    general = True
    warmup_queries = 0   # a query costs ~20 s; see README


class JoinPartitioned:
    """Partitioned, salted point x rect spatial_intersection_join."""

    name = "join_partitioned"
    # the ref side stands for one above the broadcast limit: without this
    # Spark broadcasts the small generated ref terms and the partitioned
    # candidate join the call asks for never shuffles
    session_conf = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    # with one warm-up query the first measured one was still ~10% slower
    # than the third (JIT)
    warmup_queries = 2
    traced = (
        ("ndjson_spatial_spark.operators.spatial",
         "spatial_intersection_join", "spatial.join"),
    )

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.warehouse = os.path.join(work, "warehouse")
        self.records = JOIN_POINTS
        self.cat = None

    def generate(self):
        """(points, refs) pandas frames.  Points: a fixed share inside a hot
        box half a level-JOIN_RES cell wide, the rest uniform.  Rects: a
        fixed number straddle the hot box, the rest uniform.  Counts are
        fixed so every seed does the same amount of work."""
        rng = np.random.default_rng([self.seed, 7])
        n, m = JOIN_POINTS, JOIN_REFS
        cell = 2 * oracle.MERC_MAX / (1 << JOIN_RES)
        # the hot box is centred on a level-JOIN_RES cell, so it lies in
        # exactly one cell (one hot key) for every seed
        k = np.floor((rng.uniform(0.2, 0.8, 2) * JOIN_REGION + oracle.MERC_MAX)
                     / cell)
        hot_x, hot_y = (k + 0.5) * cell - oracle.MERC_MAX
        hot = np.zeros(n, dtype=bool)
        hot[rng.permutation(n)[:int(n * JOIN_HOT_FRAC)]] = True
        box = cell * 0.5
        x = np.where(hot, hot_x + (rng.random(n) - 0.5) * box,
                     rng.random(n) * JOIN_REGION)
        y = np.where(hot, hot_y + (rng.random(n) - 0.5) * box,
                     rng.random(n) * JOIN_REGION)
        points = pd.DataFrame({"pid": np.arange(n, dtype=np.int64),
                               "x": x, "y": y})
        near = np.zeros(m, dtype=bool)
        near[:JOIN_HOT_REFS] = True
        # a straddling rect covers the whole hot box, so every seed has the
        # same hot hits: JOIN_HOT_REFS x the hot share of the points
        w = np.where(near, box * rng.uniform(1.1, 1.8, m),
                     rng.uniform(JOIN_RECT_MIN, JOIN_RECT_MAX, m))
        h = np.where(near, box * rng.uniform(1.1, 1.8, m),
                     rng.uniform(JOIN_RECT_MIN, JOIN_RECT_MAX, m))
        x0 = np.where(near, hot_x + box / 2 - rng.random(m) * (w - box) - box,
                      rng.random(m) * JOIN_REGION)
        y0 = np.where(near, hot_y + box / 2 - rng.random(m) * (h - box) - box,
                      rng.random(m) * JOIN_REGION)
        gj = [json.dumps({"type": "Polygon", "coordinates": [[
            [a, b], [a + c, b], [a + c, b + d], [a, b + d], [a, b]]]})
            for a, b, c, d in zip(x0, y0, w, h)]
        shape_rng = random.Random(self.seed)
        for i in range(m - JOIN_L_REFS, m):
            geom, _ = shapes.general_shape("lshape", x0[i], y0[i], w[i], h[i],
                                           shape_rng)
            gj[i] = json.dumps(geom)
        refs = pd.DataFrame({"rid": np.arange(m, dtype=np.int64), "gj": gj})
        return points, refs

    def stage(self, spark):
        from ndjson_spatial_spark.sources.table import TableCatalog

        shutil.rmtree(self.warehouse, ignore_errors=True)
        self.cat = TableCatalog(spark, self.warehouse)
        points, refs = self.generate()
        n = _parallelism(spark)
        self.cat.write("points",
                       spark.createDataFrame(points).repartition(n))
        self.cat.write("rects", spark.createDataFrame(refs).coalesce(1))

    def query(self, spark):
        from pyspark.sql import functions as F

        from ndjson_spatial_spark.functions.geo import parse_geojson, st_point
        from ndjson_spatial_spark.operators import spatial

        pts = self.cat.read("points").select(
            "pid", st_point(F.col("x"), F.col("y")).alias("geom"))
        rects = self.cat.read("rects").select(
            "rid", parse_geojson(F.col("gj")).alias("geom"))
        return spatial.spatial_intersection_join(
            pts, rects, res=JOIN_RES, broadcast_ref=False,
            salt_hot_cells=True, hot_threshold=self.hot_threshold,
            target_per_salt=self.hot_threshold // 10,
        )

    @property
    def hot_threshold(self) -> int:
        """A cell is hot above 5% of the stream: the hot box (10%) is, no
        uniform cell (~1e-4 of the points each) comes near.  Each hot cell
        is then salted about tenfold."""
        return JOIN_POINTS // 20

    def oracle_input(self):
        import hashlib

        import pyarrow.parquet as pq

        rects = pq.read_table(_files(self.cat, "rects")).to_pandas()
        boxes = [(rid, *b) for rid, g in zip(rects["rid"], rects["gj"])
                 for b in oracle.members(json.loads(g))[0]]
        refs = pd.DataFrame(boxes, columns=["rid", "minx", "miny", "maxx",
                                            "maxy"])
        h = hashlib.sha256()
        for f in _files(self.cat, "points") + _files(self.cat, "rects"):
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
        return refs, h.hexdigest()

    def expected(self, refs, out_path: str) -> int:
        d = self.cat.snapshots("points")[-1]["data_dirs"][-1]
        return oracle.points_in_polygons_sql(f"{d}/*.parquet", refs, out_path)

    def sizes(self, refs) -> dict:
        return {"points": JOIN_POINTS, "refs": int(refs["rid"].nunique()),
                "general_refs": JOIN_L_REFS,
                "hot_threshold": self.hot_threshold}


def _is_bbox_json(text: str) -> bool:
    g = json.loads(text)
    if g["type"] == "Point":
        return True
    if g["type"] != "Polygon" or len(g["coordinates"]) != 1:
        return False
    ring = g["coordinates"][0]
    return len(ring) == 5 and len(oracle.members(g)[0]) == 1


def _parallelism(spark) -> int:
    return spark.sparkContext.defaultParallelism


WORKLOADS = {w.name: w for w in (DocsTiles, DocsTilesGeneral, JoinPartitioned)}
