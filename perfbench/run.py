"""Seeded end-to-end benchmark of the spatial engine.

    python3 perfbench/run.py --workload docs_tiles --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process is one closed-loop client: it
starts a local[<cpus>] session, stages the workload's seeded inputs three
times (set-up), runs the first query, a fixed number of warm-up queries, and
then queries back to back for --seconds.  Every query runs from the public
entry call to one collected aggregate over all output columns (row count plus
an order-independent checksum), and is checked against a closed-form oracle
computed from the staged inputs (cached per input digest).

--trace 0 prints the end-to-end metrics; --trace 1 repeats the same run and
then traces one more query (spans around the engine's public functions,
prefix runs to a noop sink, SQL metrics of the executed plan) and prints the
per-layer metrics.  The last stdout line is the result JSON; a ledger with
host facts, input sizes, spans and plan metrics is written under
.perfbench_work/.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

STAGE_REPS = 3
MIN_MEASURED = 3
DEADLINE_S = 150.0   # stop issuing queries past this point of the run

END_TO_END = {"docs_per_s": "docs/s", "first_query_s": "s",
              "setup_s": "s", "peak_rss_mb": "MB"}


def host_facts() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    return {"cpus": cpus, "ram_gb": round(mem_kb / 2**20, 1),
            "python": platform.python_version()}


def configure_env(host: dict) -> None:
    """Host-fit session settings, passed through the environment the
    engine's session factory and its worker processes read.  Every file
    Spark and Python write lands under WORK."""
    for d in ("spark-local", "tmp", "oracle", "expected"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    # a quarter of RAM, 1-2 GB: the library default (24g) exceeds small
    # hosts.  The heap is fixed and faulted in at JVM start, so neither
    # query times nor peak RSS depend on when the collector grows it.
    mem_gb = max(1, min(2, int(host["ram_gb"] // 4)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={WORK / 'tmp'} -Xms{mem_gb}g -XX:+AlwaysPreTouch")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    host["driver_mem"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]


def start_session(host: dict, conf: dict):
    from ndjson_spatial_spark.session import get_spark

    n = host["cpus"]
    return get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
                    **conf},
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # still alive after 30 s
            proc.kill()
            proc.wait(timeout=30)


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def expected_fp(spark, w, out_df) -> tuple[tuple[int, int], dict]:
    """(rows, checksum) the oracle expects for the staged inputs, cached per
    input digest, plus the input sizes."""
    from perfbench.measure import expected_fingerprint

    t0 = time.perf_counter()
    inputs, digest = w.oracle_input()
    sizes = w.sizes(inputs)
    log(f"oracle input read in {time.perf_counter() - t0:.2f}s")
    cache = WORK / "oracle" / f"{w.name}-{digest[:32]}.json"
    if cache.exists():
        c = json.loads(cache.read_text())
        return (c["rows"], c["checksum"]), sizes
    path = WORK / "expected" / f"{w.name}-{digest[:32]}.parquet"
    w.expected(inputs, str(path))
    fp = expected_fingerprint(spark, str(path), out_df)
    cache.write_text(json.dumps({"rows": fp[0], "checksum": fp[1]}))
    log(f"oracle computed in {time.perf_counter() - t0:.2f}s")
    path.unlink()
    return fp, sizes


class Client:
    """The closed loop: one query at a time, each checked and accounted."""

    def __init__(self, spark, w):
        self.spark = spark
        self.w = w
        self.expected = None   # set by the first query that completes
        self.sizes = None
        self.attempted = 0
        self.failed = 0
        self.retained: list[tuple[int, float]] = []
        self.last_fp = None   # fingerprint DataFrame of the last query

    def query(self) -> float | None:
        from perfbench.measure import (fingerprint_df, persisted_ids,
                                       storage_since)

        self.attempted += 1
        before = persisted_ids(self.spark)
        wall = None
        try:
            t0 = time.perf_counter()
            out = self.w.query(self.spark)
            fp_df = fingerprint_df(out)
            r = fp_df.collect()[0]
            wall = time.perf_counter() - t0
            got = (int(r["rows"]), int(r["checksum"]))
            if self.expected is None:
                self.expected, self.sizes = expected_fp(
                    self.spark, self.w, out)
            if got != self.expected:
                self.failed += 1
                print(f"# {self.w.name}: fingerprint {got} != oracle "
                      f"{self.expected}", file=sys.stderr)
            self.last_fp = fp_df
        except Exception:  # a failed query is counted, not fatal
            self.failed += 1
            traceback.print_exc()
        gc.collect()
        self.retained.append(storage_since(self.spark, before))
        self.spark.catalog.clearCache()
        return wall


def run(args) -> dict:
    host = host_facts()
    configure_env(host)
    import pyspark

    import ndjson_spatial_spark  # noqa: F401  (fail fast without the engine)
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    run_dir = WORK / f"run-{os.getpid()}"
    t_start = time.perf_counter()
    t0 = time.perf_counter()
    spark = start_session(host, cls.session_conf)
    start_s = time.perf_counter() - t0
    try:
        from ndjson_spatial_spark.session import warm_python_workers

        t0 = time.perf_counter()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        warm_python_workers(spark, host["cpus"])
        warm_s = time.perf_counter() - t0

        # the staged tables are private to this run and removed with it
        w = cls(args.seed, str(run_dir))
        stage = []
        for _ in range(STAGE_REPS):
            t0 = time.perf_counter()
            w.stage(spark)
            stage.append(time.perf_counter() - t0)

        log(f"session {start_s:.2f}s warm {warm_s:.2f}s stage {stage}")
        client = Client(spark, w)
        first = client.query()
        log(f"first query {first}s")
        for _ in range(w.warmup_queries):
            client.query()
        walls = []
        t_meas = time.perf_counter()
        while (len(walls) < MIN_MEASURED
               or time.perf_counter() - t_meas < args.seconds):
            if time.perf_counter() - t_start > DEADLINE_S:
                break
            wall = client.query()
            if wall is not None:
                walls.append(wall)
        median_wall = statistics.median(walls) if walls else float("nan")
        log(f"measured {walls}")

        info = {"workload": w.name, "seed": args.seed, **host,
                "spark": pyspark.__version__, "inputs": client.sizes,
                "expected": client.expected,
                "stage_s": stage, "walls_s": walls, "first_query_s": first}
        session = {"start_s": start_s, "warm_s": warm_s}
        if args.trace:
            from perfbench.ledger import traced_metrics

            metrics, ledger = traced_metrics(
                spark, w, client, session, stage, median_wall)
            info["ledger"] = ledger
        else:
            from perfbench.measure import peak_rss_mb

            jvm = spark.sparkContext._jvm.java.lang.ProcessHandle \
                .current().pid()
            # a run without a completed query reports 0 and correct=false
            metrics = {
                "docs_per_s": w.records / median_wall if walls else 0.0,
                "first_query_s": first or 0.0,
                "setup_s": start_s + warm_s + statistics.median(stage),
                "peak_rss_mb": peak_rss_mb(int(jvm)),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in metrics.items()}
        info["metrics"] = metrics
        (WORK / f"ledger-{w.name}-{args.seed}-{args.trace}.json").write_text(
            json.dumps(info, indent=1, default=str))
        print("# perfbench " + json.dumps(
            {k: info[k] for k in ("workload", "seed", "cpus", "ram_gb",
                                  "driver_mem", "spark", "inputs")}))
        return {"correct": client.failed == 0 and bool(walls),
                "attempted": client.attempted, "failed": client.failed,
                "metrics": metrics}
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["docs_tiles", "docs_tiles_general",
                            "join_partitioned"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(p.parse_args(argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
