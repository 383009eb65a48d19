"""Measurement probes that read Spark's own state: the output fingerprint,
SQL metrics of an executed plan, block-manager storage, and process RSS."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MB = float(1 << 20)


# ------------------------------------------------------------ fingerprint

def fingerprint_df(df: DataFrame) -> DataFrame:
    """One-row aggregate over every output column: the row count and an
    order-independent checksum.  Each row hash is reduced mod 2^31 before
    the sum, so the sum cannot overflow a long (ANSI mode raises on that)
    below 2^32 rows."""
    cols = [F.col(f"`{c}`") for c in df.columns]
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 31))),
                   F.lit(0).cast("long")).alias("checksum"),
    )


def fingerprint_of(df: DataFrame) -> tuple[int, int]:
    r = fingerprint_df(df).collect()[0]
    return int(r["rows"]), int(r["checksum"])


def expected_fingerprint(spark, path: str, like: DataFrame) -> tuple[int, int]:
    """Fingerprint of the oracle's parquet rows, cast to the schema (and
    column order) of the engine's output."""
    exp = spark.read.parquet(path)
    return fingerprint_of(exp.select(*[
        F.col(f.name).cast(f.dataType).alias(f.name) for f in like.schema]))


# ------------------------------------------------------------ plan metrics

def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        v = float(m.value())
        kind = m.metricType()
        if kind == "timing":
            v /= 1e3
        elif kind == "nsTiming":
            v /= 1e9
        out[kv._1()] = v
    return out


def plan_nodes(plan):
    """Every node of an executed physical plan, descending through adaptive
    plans and query stages; reused exchanges are skipped because their
    metrics live on the exchange they reuse."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "ReusedExchangeExec":
            continue
        yield cls, node
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        stack.extend(_seq(node.children()))


def _udf_names(node) -> str:
    for getter in ("udfs", "func"):
        try:
            v = getattr(node, getter)()
        except Exception:  # py4j: the node has no such accessor
            continue
        items = _seq(v) if hasattr(v, "size") else [v]
        try:
            return "+".join(sorted(u.name() for u in items))
        except Exception:  # not a PythonUDF expression
            continue
    return node.getClass().getSimpleName()


PY_KEYS = {"pythonDataSent": "sent_mb", "pythonDataReceived": "received_mb",
           "pythonTotalTime": "python_s", "pythonInitTime": "init_s",
           "pythonBootTime": "boot_s", "pythonNumRowsReceived": "rows"}


def read_plan_metrics(df: DataFrame) -> dict:
    """SQL metrics of the query that ran for `df` (an action on `df` itself
    must have run: its QueryExecution holds the executed plan)."""
    plan = df._jdf.queryExecution().executedPlan()
    out = {"shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
           "scan_mb": 0.0, "spatial_candidates": 0, "bbox_candidates": 0,
           "salted_joins": 0, "python": {}}
    for cls, node in plan_nodes(plan):
        m = _metrics(node)
        out["spill_mb"] += m.get("spillSize", 0.0) / MB
        if "Exchange" in cls:
            out["shuffle_write_mb"] += m.get("shuffleBytesWritten", 0.0) / MB
            out["shuffle_read_mb"] += (m.get("localBytesRead", 0.0)
                                       + m.get("remoteBytesRead", 0.0)) / MB
        if cls.startswith("FileSourceScan"):
            out["scan_mb"] += m.get("filesSize", 0.0) / MB
        if "Join" in cls and node.joinType().toString() == "Inner":
            keys = node.leftKeys().toString()
            if "__term" in keys:
                out["spatial_candidates"] += int(m.get("numOutputRows", 0))
                out["salted_joins"] += "__salt" in keys
            elif "__scell" in keys:
                out["bbox_candidates"] += int(m.get("numOutputRows", 0))
        if "pythonDataSent" in m or "pythonTotalTime" in m:
            udf = out["python"].setdefault(
                _udf_names(node), {k: 0.0 for k in PY_KEYS.values()})
            for k, name in PY_KEYS.items():
                v = m.get(k, 0.0)
                udf[name] += v / MB if name.endswith("_mb") else v
            if not m.get("pythonNumRowsReceived"):
                udf["rows"] += m.get("numOutputRows", 0.0)
    return out


# ---------------------------------------------------------------- storage

def persisted_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def storage_since(spark, before: set[int]) -> tuple[int, float]:
    """(RDDs persisted since `before` was taken and still persisted, the MB
    of block-manager memory plus disk they hold)."""
    sc = spark.sparkContext
    new = persisted_ids(spark) - before
    held = sum(i.memSize() + i.diskSize()
               for i in sc._jsc.sc().getRDDStorageInfo() if i.id() in new)
    return len(new), held / MB


# -------------------------------------------------------------------- RSS

def _status(pid: int) -> dict:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:  # the process ended between listing and reading
        pass
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            ppid = _status(int(d)).get("PPid")
            if ppid:
                children.setdefault(int(ppid), []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of VmHWM over the Spark JVM and every process under it (the
    Python daemon and its workers)."""
    total_kb = 0
    for pid in descendants(jvm_pid):
        hwm = _status(pid).get("VmHWM", "0 kB").split()[0]
        total_kb += int(hwm)
    return total_kb / 1024.0
