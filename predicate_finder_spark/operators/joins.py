"""Physical-strategy decisions: plan-size estimate, scan spread, salted join.

The reference's every 'join' is a per-row HTTP call in a Python loop
(pretreatment/DataExtract.py:22-63,127-198).  Here joins are explicit Spark
joins with scale-aware physical strategies:

- **broadcast** when the dictionary side fits on executors (aliases,
  ontology; the KG side when its :func:`plan_bytes` estimate is under
  the cap in operators/predicates.py);
- **salted shuffle** when the probe side has Zipfian head keys (head
  entities: the reference serializes on them at DataExtract.py:222; at
  10^12 docs one hot key would stall a single reducer for hours) — the key
  is decorated with a deterministic salt in [0, S) on the big side and the
  small side is replicated S ways;
- AQE skew-join splitting stays on as the backstop
  (spark.sql.adaptive.skewJoin.enabled, session.py);
- **scan spread** (:func:`spread_by`) when a scan plans fewer tasks than
  cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from predicate_finder_spark.functions.hashing import md5_bucket


def plan_bytes(df: DataFrame) -> int:
    """Optimizer size estimate of a frame (accurate for cached inputs, file
    size for parquet scans, huge/unknown for ExistingRDD).  Unknown maps to
    a huge value: that disables any broadcast keyed on it and never blocks
    a spread."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


def spread_by(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition on ``keys`` at full core width when the scan plans
    fewer tasks than cores (a single-file parquet scan with ONE row group
    runs one task however many cores the box has, and every map-heavy stage
    fused into it is serialized).

    Keyed on a downstream window/aggregation key, this replaces the
    operator's own exchange (ClusteredDistribution is satisfied by any
    hash partitioning on the keys) rather than adding one; keyed on a
    unique row key it is a plain scan spread.  Either way hash repartition
    pays no sort-before-repartition (that cost is round-robin-only —
    measured: q19 at sf0.1 0.37 s -> 1.4 s under round-robin's local sort)
    and row-to-partition assignment is deterministic under task retry.
    At cluster scale the scan has >= cores splits and this is a no-op.

    Frames under 4 MB are left alone: repartitioning a few hundred KB to 32
    tasks costs more scheduling than it buys (measured: q12 at sf0.01
    0.34 s -> 0.74 s without the guard), while multi-MB tables gain 2-3x."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if plan_bytes(df) > 4 * 1024 * 1024 and df.rdd.getNumPartitions() < par:
        return df.repartition(par, *[F.col(k) for k in keys])
    return df


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    buckets: int = 8,
    how: str = "inner",
    salt_source: str | None = None,
) -> DataFrame:
    """Skew-defeating equi-join: salt the big side, replicate the small side.

    ``salt_source``: a column of ``big`` that varies within a key group
    (e.g. url) so the salt is deterministic yet spreads each hot key over
    ``buckets`` reducers.  Without it the salt falls back to a hash of the
    full row content — still deterministic under task retry (a
    monotonically_increasing_id salt would not be: ids shift when a stage
    is re-attempted, moving rows between reducers mid-job).
    """
    if salt_source:
        salt_col = md5_bucket(F.concat_ws("", *(on + [salt_source])), buckets)
    else:
        row_repr = F.concat_ws("", *[F.col(c).cast("string") for c in big.columns])
        salt_col = md5_bucket(row_repr, buckets)
    big_s = big.withColumn("__salt", salt_col)
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)).cast("array<int>"))
    )
    # the hint keeps the join shuffled: a small side under the planner's
    # auto-broadcast estimate would otherwise be broadcast S times over,
    # and the salt would spread nothing
    out = big_s.join(small_s.hint("shuffle_hash"), on + ["__salt"], how)
    return out.drop("__salt")
