"""Benchmark-side tracing of one query: spans around the engine's public
functions, plus per-layer execution time from prefix runs.

`Tracer.installed()` replaces each traced function, on the module attribute
its caller resolves, with a wrapper that records a span (name, start, end,
parent), counts the Spark jobs launched inside the call (a job group per
span) and keeps the DataFrame the call returned.

`Tracer.prefix_ledger()` then runs every kept DataFrame (a prefix of the
query) to a noop sink.  The data-flow parents of a prefix are the maximal
other prefixes whose analyzed plan appears inside its own analyzed plan; a
prefix's self time is its run time minus its parents' run times, and it is
counted once per path from the prefix to the query output, because the
output plan computes the prefix once per path.  Arguments of traced calls
that contain no other prefix are the scan roots.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from importlib import import_module

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_TREE_PREFIX = re.compile(r"^[\s:+\-]*")
_EXPR_ID = re.compile(r"#\d+L?")


def plan_lines(df: DataFrame) -> tuple[str, ...]:
    """The analyzed plan as node lines, without the tree drawing and without
    attribute ids.  A DataFrame built on top of another contains the other's
    lines as one contiguous block (the tree string is pre-order); ids are
    dropped because the analyzer renumbers the attributes of a plan that
    appears twice under one union or join."""
    text = df._jdf.queryExecution().analyzed().toString()
    return tuple(_EXPR_ID.sub("", _TREE_PREFIX.sub("", ln))
                 for ln in text.splitlines() if ln)


def contains(outer: tuple, inner: tuple) -> bool:
    n = len(inner)
    return any(outer[i:i + n] == inner
               for i, ln in enumerate(outer) if ln == inner[0])


class Tracer:
    def __init__(self, spark, targets):
        self.spark = spark
        self.sc = spark.sparkContext
        self.targets = targets
        self.spans: list[dict] = []
        self._stack: list[int] = []

    # ------------------------------------------------------------- spans

    def _wrap(self, fn, name: str, layer: str):
        def traced(*args, **kwargs):
            sid = len(self.spans)
            group = f"perfbench-span-{sid}"
            span = {"id": sid, "name": name, "layer": layer,
                    "parent": self._stack[-1] if self._stack else None,
                    "group": group}
            self.spans.append(span)
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", group)
            self._stack.append(sid)
            span["start"] = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                self._stack.pop()
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            span["args"] = [a for a in list(args) + list(kwargs.values())
                            if isinstance(a, DataFrame)]
            span["out"] = out
            return out

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def installed(self):
        saved = []
        for mod_name, attr, layer in self.targets:
            mod = import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, attr, layer))
        try:
            yield self
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def jobs_of(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def build_ledger(self) -> list[dict]:
        """Per span: wall, self wall (minus child spans) and jobs launched
        inside it but outside its children."""
        out = []
        for s in self.spans:
            wall = s["end"] - s["start"]
            child = sum(c["end"] - c["start"] for c in self.spans
                        if c["parent"] == s["id"])
            out.append({"id": s["id"], "name": s["name"], "layer": s["layer"],
                        "parent": s["parent"], "start": s["start"],
                        "end": s["end"], "wall_s": wall,
                        "self_s": wall - child, "jobs": self.jobs_of(s["group"])})
        return out

    # ----------------------------------------------------------- prefixes

    def _timed_noop(self, df: DataFrame, reps: int) -> tuple[float, int]:
        times, rows = [], 0
        for k in range(reps):
            self.spark.catalog.clearCache()
            obs = Observation(f"perfbench_rows_{id(df)}_{k}")
            t0 = time.perf_counter()
            df.observe(obs, F.count(F.lit(1)).alias("rows")) \
              .write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            rows = int(obs.get["rows"])
        return statistics.mean(times), rows

    def _timed_consume(self, df: DataFrame, consume, reps: int) -> float:
        times = []
        for _ in range(reps):
            self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            consume(df)
            times.append(time.perf_counter() - t0)
        return statistics.mean(times)

    def prefix_ledger(self, consume, reps: int = 2) -> list[dict]:
        """Prefix nodes with their noop run times, self times and paths to
        the output, ending with the query's own consuming action (`consume`
        applied to the output) as the last prefix."""
        root_span = next(s for s in self.spans if s["parent"] is None)
        nodes: list[dict] = []
        seen: dict[tuple, dict] = {}

        def add(df, layer, span_id):
            lines = plan_lines(df)
            if lines not in seen:
                seen[lines] = {"layer": layer, "span": span_id, "df": df,
                               "lines": lines}
                nodes.append(seen[lines])

        for s in self.spans:
            if isinstance(s.get("out"), DataFrame):
                add(s["out"], s["layer"], s["id"])
        final = seen[plan_lines(root_span["out"])]
        outputs = list(nodes)
        for s in self.spans:
            for a in s.get("args", []):
                lines = plan_lines(a)
                if lines not in seen and not any(
                        contains(lines, o["lines"]) for o in outputs):
                    add(a, "sources.scan", None)

        for n in nodes:
            inside = [p for p in nodes
                      if p is not n and contains(n["lines"], p["lines"])]
            n["parents"] = [p for p in inside if not any(
                q is not p and contains(q["lines"], p["lines"])
                for q in inside)]
        # paths to the output: the output first, then children before parents
        mult = {id(final): 1}
        order = sorted(nodes, key=lambda n: -len(n["lines"]))
        for n in order:
            for p in n["parents"]:
                mult[id(p)] = mult.get(id(p), 0) + mult.get(id(n), 0)

        # a prefix off every path to the output (e.g. an input the call
        # checkpointed while building) costs the query nothing at run time
        nodes = [n for n in nodes if mult.get(id(n), 0)]
        for n in nodes:
            n["time_s"], n["rows"] = self._timed_noop(n["df"], reps)
        consume_s = self._timed_consume(final["df"], consume, reps)
        out = []
        for n in nodes:
            self_s = n["time_s"] - sum(p["time_s"] for p in n["parents"])
            out.append({
                "layer": n["layer"], "span": n["span"],
                "parents": [nodes.index(p) for p in n["parents"]],
                "paths_to_output": mult.get(id(n), 0),
                "time_s": n["time_s"], "self_s": self_s, "rows": n["rows"],
                "exec_s": mult.get(id(n), 0) * self_s,
            })
        out.append({"layer": "query.consume", "span": None,
                    "parents": [nodes.index(final)], "paths_to_output": 1,
                    "time_s": consume_s,
                    "self_s": consume_s - final["time_s"], "rows": 1,
                    "exec_s": consume_s - final["time_s"]})
        return out
