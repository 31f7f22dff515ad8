"""Mergeable heavy-hitters sketch columns — Trino's approx_most_frequent.

Reference: core/trino-main/.../aggregation/ApproximateMostFrequentHistogram.java
(SpaceSaving histogram with a bounded bucket count, serialized as a
storable/mergeable column) and ApproximateMostFrequentFunction.java. This
module gives the same contract the Spark-native way, in the same
storable-column pattern as operators/quantile_sketch.py and setdigest.py:

- sketch = struct{counters: map<string,long>, err: long}: the k
  highest-count values of the group with their EXACT counts, plus `err`,
  an upper bound on the count of any value NOT in the map.
- build = groupBy(keys, value) partial-agg counts -> per-group top-k
  (Spark's WindowGroupLimit keeps the rank filter partial), so the build
  is the plain scalable heavy-hitter plan: one shuffle on (keys, value),
  one on keys; no unbounded state.
- merge = explode counters -> sum per value -> re-trim to k. Counts of
  surviving values are exact sums of stored counts; `err` accumulates
  (sum of input errs + largest trimmed count), preserving the SpaceSaving
  guarantee that true_count(v) <= stored_count(v) + err for every v
  (Agarwal et al., Mergeable Summaries, PODS'12).

Unlike the streaming SpaceSaving algorithm (replace-min on a fixed counter
array), the build computes exact partial counts first — on Spark the
map-side combine already bounds memory per partition, and the result is
deterministic; the *stored summary* has the identical size/merge/error
contract as Trino's histogram.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

DEFAULT_K = 16


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def spacesaving_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = DEFAULT_K,
    out: str = "sketch",
) -> DataFrame:
    """One heavy-hitters sketch per group (Trino approx_most_frequent's
    accumulate phase). Deterministic tie-break: count desc, value asc."""
    counts = (
        df.select(*group_cols, _c(value_col).cast("string").alias("_v"))
        .groupBy(*group_cols, "_v")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w = W.partitionBy(*group_cols).orderBy(F.desc("_n"), F.asc("_v"))
    ranked = counts.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k + 1)
    return ranked.groupBy(*group_cols).agg(
        F.struct(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("_rk") <= k, F.struct(F.col("_v").alias("key"), F.col("_n").alias("value")))
                    )
                )
            ).alias("counters"),
            F.coalesce(F.max(F.when(F.col("_rk") == k + 1, F.col("_n"))), F.lit(0)).alias(
                "err"
            ),
        ).alias(out)
    )


def spacesaving_merge(
    df: DataFrame,
    group_cols: list[str],
    sketch_col: str = "sketch",
    k: int = DEFAULT_K,
    out: str | None = None,
) -> DataFrame:
    """Merge sketches across rows (Trino's histogram merge): sum stored
    counts per value, re-trim to k, accumulate the error bound."""
    out = out or sketch_col
    s = F.col(sketch_col)
    base = df.select(*group_cols, s["counters"].alias("_m"), s["err"].alias("_e"))
    errs = base.groupBy(*group_cols).agg(F.sum("_e").alias("_base_err"))
    entries = base.select(
        *group_cols, F.explode(F.map_entries("_m")).alias("_kv")
    ).select(*group_cols, F.col("_kv.key").alias("_v"), F.col("_kv.value").alias("_n"))
    summed = entries.groupBy(*group_cols, "_v").agg(F.sum("_n").alias("_n"))
    w = W.partitionBy(*group_cols).orderBy(F.desc("_n"), F.asc("_v"))
    ranked = summed.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k + 1)
    trimmed = ranked.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rk") <= k, F.struct(F.col("_v").alias("key"), F.col("_n").alias("value")))
                )
            )
        ).alias("_counters"),
        F.coalesce(F.max(F.when(F.col("_rk") == k + 1, F.col("_n"))), F.lit(0)).alias(
            "_trim"
        ),
    )
    return trimmed.join(F.broadcast(errs), group_cols).select(
        *group_cols,
        F.struct(
            F.col("_counters").alias("counters"),
            (F.col("_base_err") + F.col("_trim")).cast("long").alias("err"),
        ).alias(out),
    )


def approx_most_frequent(sketch: Column | str, n: int) -> Column:
    """Top-n entries of a sketch as map<value,count> in count-desc order —
    the read scalar (ApproximateMostFrequentFunction.java output shape)."""
    m = _c(sketch)["counters"]
    by_count = F.array_sort(
        F.transform(
            F.map_entries(m),
            lambda e: F.struct((-e["value"]).alias("neg"), e["key"].alias("key"), e["value"].alias("value")),
        )
    )
    top = F.slice(by_count, 1, n)
    return F.map_from_entries(
        F.transform(top, lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value")))
    )


def most_frequent_string(sketch: Column | str, n: int) -> Column:
    """Top-n as a 'value:count,...' string in (count desc, value asc) order
    — hashable output for oracle-checked queries (raw maps/arrays break
    row canonicalization)."""
    m = _c(sketch)["counters"]
    by_count = F.array_sort(
        F.transform(
            F.map_entries(m),
            lambda e: F.struct((-e["value"]).alias("neg"), e["key"].alias("key"), e["value"].alias("value")),
        )
    )
    return F.array_join(
        F.transform(
            F.slice(by_count, 1, n),
            lambda e: F.concat_ws(":", e["key"], e["value"].cast("string")),
        ),
        ",",
    )
