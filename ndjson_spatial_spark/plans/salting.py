"""Explicit hot-key salting (north rule: "partitioning / shuffle / skew
handled explicitly").

AQE's skew-join splitting handles skewed SHUFFLE partitions after the fact;
the north rule additionally demands explicit handling for known-hot cell
keys — geographic data is Zipfian (cities), so a handful of cells can carry
orders of magnitude more rows than the median and a single task would own
them.  The pattern here is classic two-sided salting:

  1. sketch key frequencies (one cheap aggregation, optionally on a sample);
  2. hot keys (count > hot_threshold) get a salt factor
     ceil(count / target_per_salt), capped;
  3. the PROBE side scatters each hot-key row to ONE random salt
     (key, salt=rand % factor);
  4. the BUILD side replicates each hot-key row to ALL salts;
  5. join on (key, salt) — hot keys now spread across `factor` tasks.

The salt map is tiny (only hot keys) and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["key_frequency_sketch", "salt_plan", "apply_salt_scatter",
           "apply_salt_replicate", "hot_key_plan", "candidate_join"]


def key_frequency_sketch(df: DataFrame, key: str, sample_frac: float | None = None) -> DataFrame:
    """(key, count) frequencies; sample_frac for a cheap approximate sketch
    at scale (counts scaled back up)."""
    src = df.sample(sample_frac, seed=42) if sample_frac else df
    counts = src.groupBy(key).agg(F.count(F.lit(1)).alias("key_count"))
    if sample_frac:
        counts = counts.withColumn(
            "key_count", (F.col("key_count") / sample_frac).cast("long")
        )
    return counts


def salt_plan(
    freq: DataFrame, key: str,
    hot_threshold: int = 100_000,
    target_per_salt: int = 50_000,
    max_factor: int = 64,
) -> DataFrame:
    """Hot keys -> salt factor.  Returned DF is small by construction (only
    keys above hot_threshold) and is broadcast by the join."""
    return (
        freq.where(F.col("key_count") > hot_threshold)
        .select(
            F.col(key),
            F.least(
                F.ceil(F.col("key_count") / target_per_salt), F.lit(max_factor)
            ).cast("int").alias("salt_factor"),
        )
    )


def apply_salt_scatter(df: DataFrame, key: str, plan: DataFrame) -> DataFrame:
    """Probe side: hot-key rows get a uniform random salt in [0, factor);
    cold keys get salt 0.  Adds `__salt`."""
    j = df.join(F.broadcast(plan), key, "left")
    return j.withColumn(
        "__salt",
        F.when(
            F.col("salt_factor").isNotNull(),
            (F.rand(seed=42) * F.col("salt_factor")).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("salt_factor")


def apply_salt_replicate(df: DataFrame, key: str, plan: DataFrame) -> DataFrame:
    """Build side: hot-key rows are replicated once per salt; cold keys get
    the single salt 0.  Adds `__salt`."""
    j = df.join(F.broadcast(plan), key, "left")
    return j.withColumn(
        "__salt",
        F.explode(
            F.when(
                F.col("salt_factor").isNotNull(),
                F.sequence(F.lit(0), F.col("salt_factor") - 1),
            ).otherwise(F.array(F.lit(0)))
        ),
    ).drop("salt_factor")


def hot_key_plan(
    freq: DataFrame, key: str,
    hot_threshold: int = 100_000, target_per_salt: int = 50_000,
) -> DataFrame | None:
    """The persisted salt plan of a (key, key_count) sketch, or None when no
    key is hot (salting would then only tag every row with salt 0).  Its
    `isEmpty()` probe is ONE eager job when the query is built, so the
    salt/no-salt choice is frozen into the plan that uses the result."""
    plan = salt_plan(freq, key, hot_threshold, target_per_salt).persist()
    if plan.isEmpty():
        plan.unpersist()
        return None
    return plan


def candidate_join(
    probe: DataFrame, build: DataFrame, key: str,
    broadcast: bool = False, salt: DataFrame | None = None,
) -> DataFrame:
    """The candidate stage's one join-strategy switch, used by both spatial
    joins: an inner equi-join on `key` with a broadcast build side (`salt`
    ignored), else hash-partitioned on `key`, or on (`key`, `__salt`) with
    a `hot_key_plan` salt plan (hot probe rows scatter over the salts,
    build rows replicate to all).  That plan-time job made the salt choice,
    and it stays fixed for the returned frame."""
    if broadcast:
        return probe.join(F.broadcast(build), key)
    if salt is None:
        return probe.join(build, key)
    p = apply_salt_scatter(probe, key, salt)
    b = apply_salt_replicate(build, key, salt)
    return p.join(b, [key, "__salt"]).drop("__salt")
