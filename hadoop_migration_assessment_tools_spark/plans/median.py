"""Exact distributed median without a global sort.

Spark's exact ``percentile``/``median`` aggregates buffer each group's values in
one aggregation buffer — memory proportional to group size, a cliff at 100 TB.
The scale-safe exact algorithm is two-phase histogram selection:

1. bounds pass: per group min/max/count (cheap columnar aggregates);
2. histogram pass: per group, count rows per fixed bucket (map-side partials,
   B-sized state per group);
3. driver (bounded: #groups x B integers) walks each histogram to find the
   bucket containing the k-th smallest (k = (n+1)//2, the lower median —
   discrete, hence exactly reproducible) and the rank offset below it;
4. selection pass: ONLY the rows of the candidate buckets (expected n/B per
   group) are ranked with a per-group window — the only sort touches ~1/B of
   the data, partition-parallel across groups.

Ties are safe: equal values share a bucket (the bucket function is monotone),
and the k-th smallest VALUE is order-independent under duplicates.

r14 fusion (guide §2.1/§2.4, VERDICT r13 #6): the histogram rows carry the
group's (lo, hi, n_rows) — constants within a group, free under map-side
partial aggregation — so the driver-built broadcast spec can hand them back
to the selection pass. Before the fusion the input relation was aggregated
for bounds THREE times (the bucket-expression broadcast, the candidates'
bucket-expression broadcast again, and the final n_rows join — an extra
SortMergeJoin); now exactly once, and the selection job's only join inputs
are LocalTableScan broadcasts. Input passes: 3 (bounds, histogram,
candidates) — the algorithm's minimum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.localrel import local_df

__all__ = ["distributed_median"]


def distributed_median(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    n_buckets: int = 1024,
) -> DataFrame:
    """Exact lower median of ``value_col`` per group. Returns group_cols +
    (n_rows, median)."""
    v = F.col(value_col).cast("double")

    bounds = df.groupBy(*group_cols).agg(
        F.min(v).alias("_lo"),
        F.max(v).alias("_hi"),
        F.count(v).cast("long").alias("n_rows"),
    )
    with_b = df.join(F.broadcast(bounds), group_cols)
    # monotone bucket id; degenerate (lo == hi) groups collapse to bucket 0
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_buckets))
    bucket = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(n_buckets - 1),
            F.floor((v - F.col("_lo")) / width).cast("int"),
        )
    )
    hist = (
        with_b.withColumn("_b", bucket)
        .groupBy(*group_cols, "_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_bn"),
            # constant within the group (from the bounds broadcast): carrying
            # them here lets the selection pass run without re-aggregating df
            F.first("_lo").alias("_lo"),
            F.first("_hi").alias("_hi"),
            F.first("n_rows").alias("n_rows"),
        )
    )
    # bounded driver step: #groups x <=B rows of integers
    rows = hist.collect()
    counts: dict[tuple, dict[int, int]] = {}
    meta: dict[tuple, tuple] = {}  # group -> (_lo, _hi, n_rows)
    for r in rows:
        key = tuple(r[c] for c in group_cols)
        counts.setdefault(key, {})[r["_b"]] = r["_bn"]
        meta[key] = (r["_lo"], r["_hi"], r["n_rows"])
    targets = []  # (group..., lo, hi, n_rows, candidate bucket, rank within bucket)
    for key, h in counts.items():
        n = sum(h.values())
        k = (n + 1) // 2
        below = 0
        for b in sorted(h):
            if below + h[b] >= k:
                targets.append((*key, *meta[key], b, k - below))
                break
            below += h[b]
    spec = local_df(
        df.sparkSession,
        targets,
        df.select(*group_cols)
        .schema.add("_lo", "double")
        .add("_hi", "double")
        .add("n_rows", "long")
        .add("_tb", "integer")
        .add("_tk", "long"),
    )
    # selection pass: the ONLY remaining df reference; bounds ride the spec
    w = Window.partitionBy(*group_cols).orderBy(v.asc())
    candidates = (
        df.join(F.broadcast(spec), on=group_cols)
        .withColumn("_b", bucket)
        .filter(F.col("_b") == F.col("_tb"))
    )
    ranked = candidates.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.filter(F.col("_rn") == F.col("_tk"))
        .select(*group_cols, "n_rows", v.alias("median"))
        .orderBy(*group_cols)
    )


def distributed_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    qs: dict[str, float],
    n_buckets: int = 1024,
) -> DataFrame:
    """Exact lower quantiles per group, same two-phase machinery as
    ``distributed_median`` but with ANY number of targets per group answered from
    ONE histogram and ONE candidate-bucket ranking pass. ``qs`` maps output column
    name -> quantile in (0, 1]; k = max(1, ceil(q * n)) (discrete lower quantile —
    exactly reproducible). Returns group_cols + n_rows + one column per quantile."""
    import math

    v = F.col(value_col).cast("double")
    bounds = df.groupBy(*group_cols).agg(
        F.min(v).alias("_lo"),
        F.max(v).alias("_hi"),
        F.count(v).cast("long").alias("n_rows"),
    )
    with_b = df.join(F.broadcast(bounds), group_cols)
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_buckets))
    bucket = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(F.lit(n_buckets - 1), F.floor((v - F.col("_lo")) / width).cast("int"))
    )
    hist = (
        with_b.withColumn("_b", bucket)
        .groupBy(*group_cols, "_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_bn"),
            # group constants (from the bounds broadcast) so the selection
            # pass never re-aggregates df — see the module docstring
            F.first("_lo").alias("_lo"),
            F.first("_hi").alias("_hi"),
            F.first("n_rows").alias("n_rows"),
        )
    )
    rows = hist.collect()  # bounded: #groups x <=B integers
    counts: dict[tuple, dict[int, int]] = {}
    meta: dict[tuple, tuple] = {}  # group -> (_lo, _hi, n_rows)
    for r in rows:
        key = tuple(r[c] for c in group_cols)
        counts.setdefault(key, {})[r["_b"]] = r["_bn"]
        meta[key] = (r["_lo"], r["_hi"], r["n_rows"])
    targets = []  # (group..., qname, bucket, rank-within-bucket)
    buckets = []  # (group..., lo, hi, n_rows, distinct candidate bucket)
    seen_b: set[tuple] = set()
    for key, h in counts.items():
        n = sum(h.values())
        for qname, q in qs.items():
            k = max(1, math.ceil(q * n))
            below = 0
            for b in sorted(h):
                if below + h[b] >= k:
                    targets.append((*key, qname, b, k - below))
                    if (*key, b) not in seen_b:
                        seen_b.add((*key, b))
                        buckets.append((*key, *meta[key], b))
                    break
                below += h[b]
    # StructType.add mutates in place — build each spec schema from a fresh select
    spec = local_df(
        df.sparkSession,
        targets,
        df.select(*group_cols)
        .schema.add("_q", "string")
        .add("_tb", "integer")
        .add("_tk", "long"),
    )
    gmeta = local_df(
        df.sparkSession,
        buckets,
        df.select(*group_cols)
        .schema.add("_lo", "double")
        .add("_hi", "double")
        .add("n_rows", "long")
        .add("_tb", "integer"),
    )
    # rank once per (group, candidate bucket); a bucket hosting two quantile
    # targets is ranked once and matched twice via the spec join. gmeta hands
    # bounds back to the bucket expression: the ONLY remaining df reference.
    wb = Window.partitionBy(*group_cols, "_b").orderBy(v.asc())
    candidates = (
        df.join(F.broadcast(gmeta), on=group_cols)
        .withColumn("_b", bucket)
        .filter(F.col("_b") == F.col("_tb"))
        .drop("_tb")
        .withColumn("_rn", F.row_number().over(wb))
    )
    from functools import reduce as _reduce

    cand_a, spec_a = candidates.alias("c"), spec.alias("s")
    cond = _reduce(
        lambda a, b: a & b,
        [F.col(f"c.{g}") == F.col(f"s.{g}") for g in group_cols]
        + [F.col("c._b") == F.col("s._tb"), F.col("c._rn") == F.col("s._tk")],
    )
    hits = cand_a.join(F.broadcast(spec_a), cond).select(
        *[F.col(f"c.{g}") for g in group_cols],
        F.col("c.n_rows").alias("n_rows"),
        F.col("s._q").alias("_q"),
        F.col(f"c.{value_col}").cast("double").alias("_val"),
    )
    wide = (
        hits.groupBy(*group_cols, "n_rows").pivot("_q", list(qs)).agg(F.first("_val"))
    )
    return wide.select(*group_cols, "n_rows", *list(qs)).orderBy(*group_cols)
