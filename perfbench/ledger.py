"""Per-layer metrics of the traced run (--trace 1).

Layers are named after the engine's modules.  Each traced function maps to
the metric that receives its driver build self time, its execution self time
(from the prefix runs) and the jobs it launched while building; prefixes
that are no traced call's output are the scan roots.  SQL metrics (Python
boundary, exchanges, join candidates, bytes scanned) come from the executed
plan of the last untraced query.

Which end-to-end metric each layer metric should move, and on which
workload, is listed in perfbench/README.md.
"""

from __future__ import annotations

import statistics
import time

from . import measure
from .trace import Tracer

# traced layer -> (build metric, execution metric, plan-job metric)
LAYERS = {
    "flagship": ("flagship.build_s", "flagship.output_s", "flagship.plan_jobs"),
    "flagship.classify": ("flagship.build_s", "flagship.classify_s",
                          "flagship.plan_jobs"),
    "bbox_fast.join": ("bbox_fast.join_s", "bbox_fast.join_s", None),
    "bbox_fast.tiles": ("bbox_fast.tiles_s", "bbox_fast.tiles_s", None),
    "spatial.join": ("spatial.build_s", "spatial.join_s", "spatial.plan_jobs"),
    "spatial.tiles": ("spatial.build_s", "spatial.tiles_s",
                      "spatial.plan_jobs"),
    "sources.scan": (None, "sources.scan_s", None),
    "query.consume": (None, "query.consume_s", None),
}

# Python UDFs by the function name Spark records for them
UDFS = {"_parse_batch": "parse_geojson",
        "_pair_intersection": "pair_intersection",
        "st_cells_bounds_multi": "tile_cover",
        "_geom_intersects_rect": "geom_intersects_rect"}

UNITS = {
    "session.start_s": "s", "session.warm_s": "s",
    "sources.stage_s": "s", "sources.scan_mb": "MB", "sources.scan_s": "s",
    "flagship.build_s": "s", "flagship.plan_jobs": "count",
    "flagship.classify_s": "s", "flagship.output_s": "s",
    "geo.parse_s": "s", "geo.parse_rows": "count",
    "udf.sent_mb": "MB", "udf.received_mb": "MB", "udf.python_s": "s",
    "udf.init_s": "s", "udf.boot_s": "s",
    **{f"udf.{u}.{k}": unit for u in (*UDFS.values(), "other")
       for k, unit in (("python_s", "s"), ("sent_mb", "MB"))},
    "bbox_fast.join_s": "s", "bbox_fast.candidates": "count",
    "bbox_fast.pairs": "count", "bbox_fast.tiles_s": "s",
    "bbox_fast.tile_rows": "count",
    "spatial.build_s": "s", "spatial.plan_jobs": "count",
    "spatial.join_s": "s", "spatial.candidates": "count",
    "spatial.hits": "count", "spatial.hit_ratio": "ratio",
    "spatial.refine_s": "s", "spatial.refine_rows": "count",
    "spatial.salted_joins": "count", "spatial.tiles_s": "s",
    "exchange.shuffle_write_mb": "MB", "exchange.shuffle_read_mb": "MB",
    "exchange.spill_mb": "MB",
    "storage.persisted_rdds": "count", "retained_storage_mb": "MB",
    "query.wall_s": "s", "query.consume_s": "s", "query.plan_jobs": "count",
    "query.exec_jobs": "count", "failed_frac": "ratio",
    "trace.coverage": "ratio", "trace.overhead_s": "s",
}


def _drain_listener(spark) -> None:
    """Job start events reach the status tracker through an asynchronous
    listener bus; wait until it has delivered them."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:  # py4j: not exposed on this Spark build
        time.sleep(1.0)


def traced_metrics(spark, w, client, session: dict, stage: list,
                   untraced_wall: float) -> tuple[dict, dict]:
    m = {k: 0.0 for k in UNITS}
    m["session.start_s"] = session["start_s"]
    m["session.warm_s"] = session["warm_s"]
    m["sources.stage_s"] = statistics.median(stage)
    m["query.wall_s"] = untraced_wall

    # SQL metrics of the last untraced query that ran
    plan = measure.read_plan_metrics(client.last_fp)
    m["sources.scan_mb"] = plan["scan_mb"]
    m["exchange.shuffle_write_mb"] = plan["shuffle_write_mb"]
    m["exchange.shuffle_read_mb"] = plan["shuffle_read_mb"]
    m["exchange.spill_mb"] = plan["spill_mb"]
    m["spatial.candidates"] = plan["spatial_candidates"]
    m["bbox_fast.candidates"] = plan["bbox_candidates"]
    m["spatial.salted_joins"] = plan["salted_joins"]
    for names, u in plan["python"].items():
        for k in ("sent_mb", "received_mb", "python_s", "init_s", "boot_s"):
            m[f"udf.{k}"] += u[k]
        # a node evaluating several UDFs counts toward each of them
        for short in {UDFS.get(n, "other") for n in names.split("+")}:
            m[f"udf.{short}.python_s"] += u["python_s"]
            m[f"udf.{short}.sent_mb"] += u["sent_mb"]
            if short == "parse_geojson":
                m["geo.parse_s"] += u["python_s"]
                m["geo.parse_rows"] += u["rows"]
            elif short == "pair_intersection":
                m["spatial.refine_s"] += u["python_s"]
                m["spatial.refine_rows"] += u["rows"]

    held = client.retained[1:] or client.retained
    m["storage.persisted_rdds"] = statistics.median(r[0] for r in held)
    m["retained_storage_mb"] = statistics.median(r[1] for r in held)

    # the traced query: spans while building, job group while consuming
    tracer = Tracer(spark, w.traced)
    sc = spark.sparkContext
    client.attempted += 1
    t0 = time.perf_counter()
    with tracer.installed():
        out = w.query(spark)
    sc.setLocalProperty("spark.jobGroup.id", "perfbench-consume")
    try:
        r = measure.fingerprint_df(out).collect()[0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    traced_wall = time.perf_counter() - t0
    if (int(r["rows"]), int(r["checksum"])) != client.expected:
        client.failed += 1
    spark.catalog.clearCache()
    _drain_listener(spark)
    m["query.exec_jobs"] = tracer.jobs_of("perfbench-consume")
    m["trace.overhead_s"] = traced_wall - untraced_wall

    spans = tracer.build_ledger()
    prefixes = tracer.prefix_ledger(
        lambda df: measure.fingerprint_df(df).collect())
    spark.catalog.clearCache()
    covered = 0.0
    for s in spans:
        build, _, jobs = LAYERS[s["layer"]]
        m[build] += s["self_s"]
        covered += s["self_s"]
        m["query.plan_jobs"] += s["jobs"]
        if jobs:
            m[jobs] += s["jobs"]
    for p in prefixes:
        m[LAYERS[p["layer"]][1]] += p["exec_s"]
        covered += p["exec_s"]
        if p["layer"] == "bbox_fast.join":
            m["bbox_fast.pairs"] += p["rows"]
        elif p["layer"] == "bbox_fast.tiles":
            m["bbox_fast.tile_rows"] += p["rows"]
        elif p["layer"] == "spatial.join":
            m["spatial.hits"] += p["rows"]
    if m["spatial.candidates"]:
        m["spatial.hit_ratio"] = m["spatial.hits"] / m["spatial.candidates"]
    m["trace.coverage"] = covered / untraced_wall
    m["failed_frac"] = client.failed / client.attempted

    metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}
    ledger = {"spans": spans, "prefixes": prefixes, "plan": plan,
              "traced_wall_s": traced_wall}
    return metrics, ledger
