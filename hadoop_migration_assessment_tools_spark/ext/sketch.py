"""[EXT] Sketch operators: bounded-memory approximations for 100 TB profiling.

``heavy_hitters`` is a distributed Misra-Gries (space-saving family) summary — the
classic answer to "top terms over a corpus too big to exact-count cheaply". Spark's
built-ins cover approximate distincts (HLL++, ``approx_count_distinct``) and
quantiles (``percentile_approx``); frequent-items with bounded memory is the gap
this fills.

Shape: phase 1 builds one capacity-bounded counter summary PER PARTITION inside
``mapInPandas`` (constant memory per task, no shuffle); phase 2 merges summaries
with an ordinary ``groupBy().sum()`` — the merged weight of any item undercounts
its true frequency by at most ``n_partition / capacity`` per partition (standard
Misra-Gries guarantee), so every true heavy hitter survives into the merged top-k.
The exact-count verifier in tests quantifies this on planted-skew corpora.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, functions as F


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 20,
    capacity: int | None = None,
) -> DataFrame:
    """Approximate top-k most frequent values of ``col`` with bounded memory.

    capacity (default 8*k) counters per partition; any value with true frequency
    above n/capacity in a partition is guaranteed a counter there. Returns
    (item, est_count) with est_count <= true count (Misra-Gries undercounts).
    """
    return _mg_summaries(df, col, capacity or 8 * k).select(
        F.col("item"), F.col("est_count")
    ).filter(F.col("item").isNotNull()).orderBy(
        F.desc("est_count"), F.asc("item")
    ).limit(k)


def heavy_hitters_verified(
    df: DataFrame,
    col: str,
    k: int = 20,
    capacity: int | None = None,
) -> DataFrame:
    """Exact top-k via the standard two-phase sketch-then-verify plan.

    Phase 1 is the bounded-memory Misra-Gries summary (every value with true
    frequency > n_partition/capacity per partition is guaranteed to survive —
    so with capacity >= 8k, all true top-k items are candidates on any corpus
    whose k-th hitter clears that floor). Phase 2 EXACT-counts only the
    candidate set with one more corpus pass: a broadcast semi-join keeps the
    count map-side, so the corpus never shuffles by term. Output (item,
    exact_count) is deterministic and partition-layout-independent — unlike the
    raw summary's undercounts — which is what makes the registry query
    DuckDB-oracle-able (the oracle is the plain exact GROUP BY top-k).

    The exactness claim is GUARDED (ADVICE r5): it holds only when the k-th
    candidate's exact count clears the merged Misra-Gries floor n_total/capacity
    (any item above the floor is guaranteed a candidate; below it, a non-candidate
    could outrank the returned tail). On a corpus too flat for the configured
    capacity the query now FAILS LOUDLY at execution (in-plan ``assert_true``,
    still lazy/distributed) with a message saying which capacity would be safe,
    instead of silently returning a plausible-but-wrong top-k that would only
    surface as an opaque oracle-hash mismatch.
    """
    from pyspark.sql.window import Window

    cap = capacity or 8 * k
    summ = _mg_summaries(df, col, cap)
    cands = summ.select(F.col("item"), F.col("total_rows"))
    exact = (
        df.select(F.col(col).cast("string").alias("item"))
        .join(F.broadcast(cands.select("item")), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .join(F.broadcast(cands), "item")
    )
    # Reliability over the BOUNDED candidate set: rank candidates, read the k-th
    # count. Provably exact iff the floor is < 1 (n_total < capacity: nothing can
    # have been evicted) OR there are >= k candidates and the k-th one strictly
    # clears the floor (every non-candidate count <= n/cap < kth).
    w = Window.partitionBy()
    ranked = exact.withColumn(
        "_rk",
        F.row_number().over(w.orderBy(F.desc("exact_count"), F.asc("item"))),
    )
    kth = F.max(F.when(F.col("_rk") == k, F.col("exact_count"))).over(w)
    n_cands = F.count(F.lit(1)).over(w)
    reliable = (F.col("total_rows") < F.lit(cap)) | (
        (n_cands >= k)
        & (kth.cast("decimal(38,0)") * cap > F.col("total_rows").cast("decimal(38,0)"))
    )
    guarded = ranked.withColumn(
        "_guard",
        F.assert_true(
            reliable,
            F.concat(
                F.lit(
                    f"heavy_hitters_verified(k={k}, capacity={cap}): corpus too "
                    "flat for exact top-k — k-th candidate count "
                ),
                kth.cast("string"),
                F.lit(" does not clear the Misra-Gries floor n/capacity = "),
                F.round(F.col("total_rows") / cap, 2).cast("string"),
                F.lit("; raise capacity above n_total/kth_count"),
            ),
        ),
    ).filter(F.col("_guard").isNull())
    return (
        guarded.select("item", "exact_count")
        .orderBy(F.desc("exact_count"), F.asc("item"))
        .limit(k)
    )


def _mg_summaries(df: DataFrame, col: str, cap: int) -> DataFrame:
    """Merged Misra-Gries summaries plus the exact total row count, one scan.

    Each partition emits its surviving counters AND a sentinel row (item=NULL,
    w=partition row count) — NULL can't collide with a real counter because the MG
    loop skips nulls. After the merge groupBy, the NULL-item group's weight IS the
    exact total, exposed on every row via a window over the (tiny: <= cap
    counters + 1 sentinel per partition) summary table — so callers needing
    share-of-total (diagnose_join_skew) get it with no second pass over ``df``
    (VERDICT r3 'What's wrong' #3: count() + MG double-scanned).
    Returns (item, est_count, total_rows); item NULL rows are pre-filtered out.
    """
    from pyspark.sql.window import Window

    def summarize(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        # r14 (guide §4.2): vectorized batch merge replaces the per-row Python
        # loop (the profiled 2.7 s single-task advisor scans). Each batch's
        # value_counts is its EXACT summary; merging then applying the uniform
        # subtraction of the (cap+1)-th largest weight is the standard
        # mergeable-summaries form of Misra-Gries: <= cap counters survive,
        # est_count <= true count, and est >= true - n/(cap+1) - (clip term,
        # below) — the same guarantee class as the row loop, and EXACTLY
        # equal to it whenever the distinct count stays within cap (every
        # oracled consumer's regime: no subtraction ever fires, counts are
        # exact).
        counters: "pd.Series | None" = None
        n_rows = 0
        for pdf in it:
            s = pdf[col]
            n_rows += len(s)
            # missing values are not items: dropna() skips None and also
            # float NaN, which the row loop counted as the item "nan" — a
            # nullable numeric key's NaNs never enter the summary
            vc = s.dropna().astype(str).value_counts()
            if len(vc) == 0:
                continue
            merged = vc if counters is None else counters.add(vc, fill_value=0)
            if len(merged) > cap:
                # survivors: top-cap by (weight desc, item asc — deterministic
                # ties), weights reduced by the (cap+1)-th largest. The clip
                # floor of 1 mirrors the row loop's recently-seen churn (a
                # fully-uniform merge must not empty the summary — downstream
                # flat-corpus diagnostics key off the kth candidate's weight);
                # weight 1 <= any present item's true count, so est_count <=
                # true still holds everywhere. The floor also spares survivors
                # tied at the cut weight part of the decrement, so the lower
                # bound above loosens by up to cap per overflowing merge per
                # partition (consumers guard with n/cap).
                mdf = (
                    merged.rename_axis("item")
                    .reset_index(name="w")
                    .sort_values(["w", "item"], ascending=[False, True], kind="stable")
                )
                cut = mdf["w"].iloc[cap]
                surv = mdf.iloc[:cap].copy()
                surv["w"] = (surv["w"] - cut).clip(lower=1)
                merged = surv.set_index("item")["w"]
            counters = merged
        items = [] if counters is None else counters.index.tolist()
        weights = [] if counters is None else [int(w) for w in counters.tolist()]
        yield pd.DataFrame(
            {
                "item": items + [None],
                "w": weights + [n_rows],
            }
        )

    summaries = df.select(F.col(col).alias(col)).mapInPandas(
        summarize, schema="item string, w long"
    )
    merged = summaries.groupBy("item").agg(F.sum("w").cast("long").alias("est_count"))
    # Global window over the merged summary — bounded rows, not the input table.
    total = F.sum(F.when(F.col("item").isNull(), F.col("est_count"))).over(
        Window.partitionBy()
    )
    return (
        merged.withColumn("total_rows", total.cast("long"))
        .filter(F.col("item").isNotNull())
    )


def distinct_sketch_profile(df: DataFrame, cols: list[str], rsd: float = 0.02) -> DataFrame:
    """HLL++ distinct-cardinality profile per column (one pass, no shuffle of values):
    the 100 TB substitute for COUNT(DISTINCT x) on every column."""
    aggs = [
        F.approx_count_distinct(c, rsd).cast("long").alias(f"{c}_approx_distinct")
        for c in cols
    ]
    return df.agg(*aggs)


# --- engine-portable HyperLogLog ----------------------------------------------------
# ``approx_count_distinct`` above is Spark's HLL++: fast, but its registers and bias
# tables are engine-internal, so nothing built on it can be certified by an external
# SQL replay. The portable twin below is a from-scratch classic HLL (Flajolet et al.
# 2007) whose EVERY intermediate is exact integer arithmetic on intrinsics both Spark
# and DuckDB compile the same way: 60 hash bits from md5 hex (the repo-wide portable
# hash idiom — ext/dedup.py portable_token_hash_halves), register index = low p bits,
# rank = leading-zero count of the remaining bits via the integer bit-length idiom
# (ext/lm.py bit_length: conv(n,10,2) length == printf('%b',n) length), and the
# harmonic sum held as a SCALED INTEGER: sum of 2^(maxrank - M_j) over all m
# registers, which for p=8 is at most 2^61 — overflow-free under ANSI and DuckDB's
# checked BIGINT. Only the very last step (alpha * m^2 * scale / S) touches doubles,
# one identical left-associated expression in both engines, then one ROUND.
#
# 100 TB shape: the corpus shuffles ONCE, reduced to at most m = 2^p register rows by
# map-side partial MAX; the estimate is a scalar over m rows. Registers are also
# trivially mergeable across corpora/days (elementwise MAX), which is the real reason
# a pipeline owns an HLL instead of COUNT(DISTINCT).

HLL_HASH_BITS = 60  # 15 md5 hex chars: the largest hex prefix that stays < 2^63


def hll_registers(items: DataFrame, col: str, p: int = 8) -> DataFrame:
    """(reg, max_rank) HyperLogLog registers of ``col``, engine-portable.

    reg = low ``p`` bits of the 60-bit md5-prefix hash; rank = position of the
    first 1-bit in the remaining ``60 - p`` bits (1-based; all-zero rest ->
    ``60 - p + 1``). Registers with no items are simply absent (the estimator
    accounts for them). One shuffle, map-side MAX partials, <= 2^p rows out.
    """
    m = 1 << p
    h, rank = _hll_hash_and_rank(col, p)
    return (
        items.where(F.col(col).isNotNull())  # a NULL md5's to NULL: a phantom register
        .select(h.bitwiseAND(F.lit(m - 1)).cast("int").alias("reg"), rank.alias("r"))
        .groupBy("reg")
        .agg(F.max("r").cast("int").alias("max_rank"))
    )


def _hll_hash_and_rank(col: str, p: int):
    """(60-bit md5-prefix hash, HLL rank) column pair shared by the register builders."""
    rest_bits = HLL_HASH_BITS - p
    h = portable_hash60(col)
    rest = F.shiftright(h, p)
    bl = F.length(F.conv(rest.cast("string"), 10, 2))
    rank = (
        F.when(rest == 0, F.lit(rest_bits + 1))
        .otherwise(F.lit(rest_bits + 1) - bl)
        .cast("int")
    )
    return h, rank


def hll_estimate(registers: DataFrame, p: int = 8) -> DataFrame:
    """One row: (n_regs_used, s_total, est_distinct) from ``hll_registers`` output.

    s_total is the harmonic sum as a scaled exact integer:
    sum over ALL m registers of 2^(maxrank - M_j), absent registers contributing
    2^maxrank (M_j = 0). est_distinct = alpha_m * m^2 * 2^maxrank / s_total,
    the classic raw HLL estimate, rounded once; the small-range (linear counting)
    regime is deliberately out of scope — callers choose p so the expected
    cardinality is far above 2.5*m, and the exact control in the certifying query
    would expose a violation.
    """
    m = 1 << p
    sb = HLL_HASH_BITS - p + 1  # max rank == scale bits
    scale = 1 << sb
    agg = registers.agg(
        F.count(F.lit(1)).cast("long").alias("n_regs_used"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {sb} - max_rank)"))
        .cast("long")
        .alias("s_present"),
    )
    s_total = (
        F.col("s_present") + (F.lit(m) - F.col("n_regs_used")) * F.lit(scale)
    ).cast("long")
    est = (
        F.lit(hll_alpha(p))
        * F.lit(float(m * m))
        * F.lit(float(scale))
        / s_total.cast("double")
    )
    return agg.select(
        F.col("n_regs_used"),
        s_total.alias("s_total"),
        F.round(est, 4).alias("est_distinct"),
    )


def hll_registers_grouped(
    items: DataFrame, group_cols: list[str], col: str, p: int = 8
) -> DataFrame:
    """Per-group HLL registers: (*group_cols, reg, max_rank) — the production
    grouped-sketch shape. ONE shuffle keyed (group, reg) with map-side MAX
    partials; at most n_groups * 2^p rows out. Sketches merge by elementwise
    MAX — within a group across batches/days, AND across groups into a global
    sketch (max over (g, reg) of max == max over reg), the property
    docs_shingle_hll_by_lang certifies relationally."""
    m = 1 << p
    h, rank = _hll_hash_and_rank(col, p)
    return (
        items.where(F.col(col).isNotNull())
        .select(
            *[F.col(g) for g in group_cols],
            h.bitwiseAND(F.lit(m - 1)).cast("int").alias("reg"),
            rank.alias("r"),
        )
        .groupBy(*group_cols, "reg")
        .agg(F.max("r").cast("int").alias("max_rank"))
    )


def hll_grouped_certified(
    items: DataFrame, group_col: str, col: str, p: int = 8, all_label: str = "*ALL*"
) -> DataFrame:
    """Per-group HLL estimates + exact controls, PLUS a merged ``all_label`` row
    whose registers are the elementwise-MAX MERGE of the per-group registers.

    The merge row is the point: its oracle twin computes the same row from the
    GLOBAL distinct set directly, so a hash match proves merge(per-group
    sketches) == sketch(union) — the property that lets a pipeline keep per-day
    / per-source registers and combine them without rescanning anything.

    Certifying shape: one corpus scan -> distinct (group, hash) level
    (localCheckpoint: four downstream consumers — per-group registers, exact
    counts, merged registers, global exact — must not re-tokenize the corpus),
    then all aggregation happens on the small distinct set. The production
    path with no exact controls is hll_registers_grouped (pure one-shuffle
    register aggregation, no distinct level needed).

    Output: (group_col, n_regs_used, s_total, est_distinct, exact_distinct).
    """
    m = 1 << p
    sb = HLL_HASH_BITS - p + 1
    scale = 1 << sb
    h, rank = _hll_hash_and_rank(col, p)
    lvl0 = (
        items.where(F.col(col).isNotNull() & F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("_g"), h.alias("h"), rank.alias("r"))
        .distinct()  # (group, h); r and reg are functions of h
        .localCheckpoint(eager=False)
    )
    lvl1 = (
        lvl0.withColumn("reg", F.col("h").bitwiseAND(F.lit(m - 1)).cast("int"))
        .groupBy("_g", "reg")
        .agg(
            F.max("r").cast("int").alias("max_rank"),
            F.count(F.lit(1)).cast("long").alias("reg_distinct"),
        )
    )
    s_present = (
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {sb} - max_rank)"))
        .cast("long")
        .alias("s_present")
    )
    n_regs = F.count(F.lit(1)).cast("long").alias("n_regs_used")

    def estimate(agg: DataFrame) -> list:
        s_total = (
            F.col("s_present") + (F.lit(m) - F.col("n_regs_used")) * F.lit(scale)
        ).cast("long")
        est = (
            F.lit(hll_alpha(p))
            * F.lit(float(m * m))
            * F.lit(float(scale))
            / s_total.cast("double")
        )
        return [
            F.col("n_regs_used"),
            s_total.alias("s_total"),
            F.round(est, 4).alias("est_distinct"),
            F.col("exact_distinct"),
        ]

    per_group = lvl1.groupBy("_g").agg(
        n_regs, s_present, F.sum("reg_distinct").cast("long").alias("exact_distinct")
    )
    per_group = per_group.select("_g", *estimate(per_group))
    merged_agg = (
        lvl1.groupBy("reg")
        .agg(F.max("max_rank").cast("int").alias("max_rank"))
        .agg(n_regs, s_present)
    )
    global_exact = lvl0.agg(
        F.countDistinct("h").cast("long").alias("exact_distinct")
    )
    merged = merged_agg.crossJoin(global_exact)
    merged = merged.select(F.lit(all_label).alias("_g"), *estimate(merged))
    return per_group.unionByName(merged).withColumnRenamed("_g", group_col)


def hll_certified(items: DataFrame, col: str, p: int = 8) -> DataFrame:
    """One row: HLL estimate PLUS the exact distinct-hash control, ONE corpus scan.

    The r6-round form computed ``hll_registers`` and a ``countDistinct(col)``
    control as two branches over the same unpersisted subtree, so the expensive
    upstream (tokenize/shingle/explode) ran twice and the control shuffled full
    strings (VERDICT r6 #2). This form is one linear pipeline: hash once, group
    by register computing BOTH max rank and the per-register exact distinct-hash
    count — ``reg`` is a function of ``h``, so the per-register counts sum to the
    global ``COUNT(DISTINCT h)`` — then one scalar agg replaying
    ``hll_estimate``'s scaled-integer arithmetic. The control counts distinct
    60-bit HASHES, not raw strings (8-byte shuffle keys; cardinality-equal by the
    injectivity-in-practice argument docs_fingerprints certifies). NULL items are
    dropped before hashing (they would otherwise form a phantom register whose
    NULL rank deflates the harmonic sum).
    """
    m = 1 << p
    sb = HLL_HASH_BITS - p + 1
    scale = 1 << sb
    h, rank = _hll_hash_and_rank(col, p)
    regs = (
        items.where(F.col(col).isNotNull())
        .select(
            h.bitwiseAND(F.lit(m - 1)).cast("int").alias("reg"),
            rank.alias("r"),
            h.alias("h"),
        )
        .groupBy("reg")
        .agg(
            F.max("r").cast("int").alias("max_rank"),
            F.countDistinct("h").cast("long").alias("reg_distinct"),
        )
    )
    agg = regs.agg(
        F.count(F.lit(1)).cast("long").alias("n_regs_used"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {sb} - max_rank)"))
        .cast("long")
        .alias("s_present"),
        F.sum("reg_distinct").cast("long").alias("exact_distinct"),
    )
    s_total = (
        F.col("s_present") + (F.lit(m) - F.col("n_regs_used")) * F.lit(scale)
    ).cast("long")
    est = (
        F.lit(hll_alpha(p))
        * F.lit(float(m * m))
        * F.lit(float(scale))
        / s_total.cast("double")
    )
    return agg.select(
        F.col("n_regs_used"),
        s_total.alias("s_total"),
        F.round(est, 4).alias("est_distinct"),
        F.col("exact_distinct"),
    )


# --- engine-portable Count-Min sketch -----------------------------------------------
# Completes the certified-sketch family: Bloom answers membership (plans/bloom.py),
# HLL answers distinct cardinality (above), Misra-Gries answers top-k identity
# (heavy_hitters); Count-Min (Cormode & Muthukrishnan 2005) answers POINT FREQUENCY
# — "how often does this term occur?" — in d*w bounded counters, never undercounting
# (est >= true always; est <= true + eps*N with prob 1-delta, eps ~ e/w). The 100 TB
# use is frequency lookups over a vocabulary too large to exact-count per batch:
# counters merge by elementwise SUM across batches/days (sum of counts is a count),
# so a pipeline keeps one d*w table per day and adds them.
#
# Portability contract (same as HLL/Bloom): positions come from the repo-wide
# portable md5-half hashes via Kirsch-Mitzenmacher double hashing pos_i =
# (h1 + i*h2) mod w (intermediates < 2^34 — ANSI/checked-BIGINT safe), counters are
# exact BIGINT sums — every intermediate is integer arithmetic both Spark and DuckDB
# compute identically, so an oracle replays the ENTIRE sketch and its lookups.
#
# Shape: the build is ONE shuffle keyed (row, pos) with map-side combine, <= d*w
# rows out; lookups broadcast the counter table (d*w <= a few thousand rows) and
# never shuffle the query side.

CMS_D = 4  # hash rows
CMS_W = 1024  # counters per row: eps = e/w ~ 0.27% of N per estimate


def _cms_positions(col: Column, d: int, w: int) -> Column:
    """Array of the d Kirsch-Mitzenmacher counter positions of a key.

    coalesce for nullability (not reachability): Spark types ``%`` nullable even
    with a literal divisor, and nullable join keys re-trigger the isnotnull
    constraint-inlining documented in plans/bloom.py:_md5_halves."""
    from .dedup import portable_token_hash_halves

    h1, h2 = portable_token_hash_halves(col)
    return F.array(
        *[
            F.coalesce((h1 + F.lit(i) * h2) % F.lit(w), F.lit(0)).cast("int")
            for i in range(d)
        ]
    )


def cms_counters(items: DataFrame, col: str, d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """(row, pos, cnt) Count-Min counter table over item OCCURRENCES.

    Production build: one pass, one map-side-combined shuffle, <= d*w rows out.
    Mergeable across builds by groupBy(row, pos).sum(cnt)."""
    pos = F.posexplode(_cms_positions(F.col(col), d, w))
    return (
        items.where(F.col(col).isNotNull())
        .select(pos.alias("row", "pos"))
        .groupBy("row", "pos")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_counters_weighted(
    term_counts: DataFrame, col: str, weight_col: str, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """Counter table from a pre-aggregated (term, count) relation — identical to
    ``cms_counters`` over the raw occurrences by associativity of SUM (pytest
    asserts the equality). This is the certification shape: a query that already
    owns exact per-term counts derives the sketch from the vocabulary-sized
    relation instead of re-scanning the corpus."""
    pos = F.posexplode(_cms_positions(F.col(col), d, w))
    return (
        term_counts.where(F.col(col).isNotNull())
        .select(pos.alias("row", "pos"), F.col(weight_col).alias("_w"))
        .groupBy("row", "pos")
        .agg(F.sum("_w").cast("long").alias("cnt"))
    )


def cms_lookup(
    queries: DataFrame, col: str, counters: DataFrame, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """Point-frequency estimates: queries + (cms_count = min over the d rows).

    d broadcast left joins against the counter relation collapsed to one
    per-term MIN; an absent (row, pos) cell means zero occurrences hashed there
    (count 0), which correctly zeroes the MIN for never-seen terms."""
    probes = (
        queries.where(F.col(col).isNotNull())
        .select("*", F.posexplode(_cms_positions(F.col(col), d, w)).alias("row", "pos"))
        .join(F.broadcast(counters), ["row", "pos"], "left")
    )
    others = [c for c in queries.columns if c != col]
    return probes.groupBy(col, *others).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_count")
    )


#: HLL bias-correction constant per precision (Flajolet et al.: alpha_16 =
#: 0.673, alpha_32 = 0.697, alpha_64 = 0.709, then 0.7213/(1 + 1.079/m)).
def hll_alpha(p: int) -> float:
    m = 1 << p
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / float(m))


def hll_sliding_certified(
    items: DataFrame,
    day_col: str,
    col: str,
    window_days: int = 7,
    p: int = 5,
) -> DataFrame:
    """Per-day TRAILING-WINDOW distinct estimates from MERGED daily registers —
    the query shape mergeable sketches exist for: keep one tiny register set per
    day, answer any trailing window by elementwise-MAX over the window's days,
    never rescan history. Returns one row per day:
    (day, n_regs_used, s_total, est_distinct, exact_distinct, rel_err).

    Scale shape: the daily registers are ONE keyed shuffle (<= days * 2^p rows);
    the merge is a window over the (day x reg) SPINE (tiny: days * 2^p rows,
    partitioned by reg — never over the data). The exact control joins the day
    spine to the per-day distinct level with a range predicate — broadcast of
    the <= #days row side; it exists to CERTIFY the sketch (at 100 TB you run
    the register path and skip the control; re-verify on samples).
    """
    from pyspark.sql.window import Window

    day = F.col(day_col)
    # checkpoint the tiny register aggregate (<= days * 2^p rows): three
    # consumers (days, regs, filled) would otherwise each re-run the full
    # corpus register pass (hll_grouped_certified discipline; the committed
    # explain showed 10 corpus scans without the cut)
    daily = hll_registers_grouped(items, [day_col], col, p).localCheckpoint(eager=True)
    days = daily.select(day_col).distinct()
    regs = daily.select("reg").distinct()
    spine = days.crossJoin(F.broadcast(regs))
    dn = F.datediff(day, F.to_date(F.lit("1970-01-01"))).cast("long")
    filled = spine.join(daily, [day_col, "reg"], "left").withColumn("_dn", dn)
    w = (
        Window.partitionBy("reg")
        .orderBy("_dn")
        .rangeBetween(-(int(window_days) - 1), 0)
    )
    merged = filled.withColumn("w_rank", F.max("max_rank").over(w)).filter(
        F.col("w_rank").isNotNull()
    )

    m = 1 << p
    sb = HLL_HASH_BITS - p + 1
    scale = 1 << sb
    est_rows = merged.groupBy(day_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_regs_used"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {sb} - w_rank)"))
        .cast("long")
        .alias("s_present"),
    )
    s_total = (
        F.col("s_present") + (F.lit(m) - F.col("n_regs_used")) * F.lit(scale)
    ).cast("long")
    est = (
        F.lit(hll_alpha(p))
        * F.lit(float(m * m))
        * F.lit(float(scale))
        / s_total.cast("double")
    )
    sketched = est_rows.select(
        day_col,
        "n_regs_used",
        s_total.alias("s_total"),
        F.round(est, 4).alias("est_distinct"),
    )

    # exact control: trailing-window COUNT(DISTINCT) per day, from the per-day
    # distinct level (the join's left side is the <= #days spine -> broadcast)
    lvl = items.where(F.col(col).isNotNull()).select(day, F.col(col).alias("_v")).distinct()
    lvl = lvl.withColumn("_edn", F.datediff(day, F.to_date(F.lit("1970-01-01"))).cast("long")).drop(
        day_col
    )
    dspine = days.select(day, dn.alias("_dn"))
    ctrl = (
        F.broadcast(dspine)
        .join(
            lvl,
            (F.col("_edn") >= F.col("_dn") - (int(window_days) - 1))
            & (F.col("_edn") <= F.col("_dn")),
        )
        .groupBy(day_col)
        .agg(F.count_distinct("_v").cast("long").alias("exact_distinct"))
    )
    return (
        sketched.join(ctrl, day_col)
        .select(
            day,
            "n_regs_used",
            "s_total",
            "est_distinct",
            "exact_distinct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double"),
                4,
            ).alias("rel_err"),
        )
        .orderBy(day_col)
    )


# --- KMV (k-minimum values) distinct sketch -------------------------------------------
# The fourth mergeable-sketch family member (after Bloom / HLL / CMS / Misra-Gries):
# keep the k smallest DISTINCT hash values of a key stream; the k-th smallest hash
# h_k estimates cardinality as (k-1) * U / h_k (Bar-Yossef et al. 2002, public
# literature; U = the hash space size). Unlike HLL the sketch IS a set of plain
# integers, so union-merge is just "k smallest of the concatenation" — a property an
# external engine can replay row for row, which is what docs_shingle_kmv certifies.
#
# 100 TB shape: hash -> distinct (one shuffle of 8-byte keys, map-side partial
# distinct) -> global bottom-k, which Spark compiles to TakeOrderedAndProject:
# per-partition top-k then a k-row driver merge — no single-task global sort. The
# per-corpus sketches a production pipeline would store are k rows each; merging S
# sketches touches S*k rows, never the corpora.


def portable_hash60(col) -> Column:
    """THE repo-wide portable 60-bit hash (15 md5 hex chars < 2^63, identical
    in Spark, DuckDB, and Python) — single definition shared by the HLL, KMV
    and split-overlap sketches so the families can never silently diverge."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


#: KMV orders by the same portable hash; alias kept for sketch-API clarity.
kmv_hash = portable_hash60


def kmv_bottom_k_hashes(hashes: DataFrame, k: int) -> DataFrame:
    """Bottom-k over an already-hashed single-column ``h`` DataFrame: the k
    smallest distinct hashes, ascending. This IS the KMV merge operator too —
    feed it the union of per-corpus sketches (sketches are hash sets)."""
    return hashes.select("h").distinct().orderBy("h").limit(k)


def kmv_bottom_k(items: DataFrame, col: str, k: int) -> DataFrame:
    """The KMV sketch of ``col``: the ``k`` smallest distinct 60-bit hashes,
    one column ``h``, ascending. NULLs are excluded (a NULL md5's to NULL)."""
    return kmv_bottom_k_hashes(
        items.where(F.col(col).isNotNull()).select(kmv_hash(col).alias("h")), k
    )


def bottom_k_rows(df: DataFrame, key_col: str, k: int, *carry: str) -> DataFrame:
    """Fixed-size deterministic uniform ROW sample: the k smallest rows by the
    portable 60-bit hash of ``key_col`` (a unique row key), carrying ``carry``
    columns. Compiles to TakeOrderedAndProject — per-partition top-k partials,
    k rows to the driver-side merge, the data never shuffles. Mergeable the
    KMV way: bottom-k of a union == bottom-k of concatenated per-split
    samples. Ties on the hash are broken by the carried columns so the
    sampled SET is total-ordered and engine-portable.

    NULL keys are excluded (kmv_bottom_k's discipline, ADVICE r8): a NULL key
    hashes to NULL, which Spark's ascending orderBy puts FIRST but a SQL
    oracle's puts LAST — a latent cross-engine sample-set divergence."""
    return (
        df.where(F.col(key_col).isNotNull())
        .select(portable_hash60(key_col).alias("h"), *carry)
        .orderBy("h", *carry)
        .limit(k)
    )


def cms_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-cardinality estimation from two Count-Min counter tables (the
    classic Cormode-Muthukrishnan inner-product estimator): the inner-join
    size on the sketched key is EXACTLY sum_key nA(key)*nB(key), each CMS row's
    inner product sum_j cA[i][j]*cB[i][j] is an upper bound on it (collisions
    only ever add mass), and min over the d rows is the estimate. This is the
    optimizer primitive — size a 100 TB join from two d*w-row artifacts built
    in one map-side-combined pass each, BEFORE committing to a join strategy
    (compare plans/skew.py diagnose_join_skew, which answers the skew
    question; this answers the volume question). Mergeable: counter tables
    SUM-merge, and the estimate only improves as w grows (E[overcount] =
    ||A||_1 * ||B||_1 / w per row).

    Inputs are ``cms_counters`` outputs with IDENTICAL (d, w); returns one row
    ``est_join_size``.

    The per-row inner products are DENSIFIED over every row either sketch
    knows (ADVICE r8): the counter tables are sparse (nonzero cells only), so
    a row whose nonzero cells never collide across the two sketches has a true
    inner product of 0 — it must participate in the min as 0, not silently
    drop out (and with NO overlapping cells anywhere the estimate is 0, not
    NULL; disjoint inputs genuinely produce an empty join)."""
    j = a.alias("a").join(b.alias("b"), ["row", "pos"])
    per_row = j.groupBy("row").agg(
        F.sum(F.col("a.cnt") * F.col("b.cnt")).cast("long").alias("ip")
    )
    spine = a.select("row").union(b.select("row")).distinct()
    dense = spine.join(per_row, "row", "left").select(
        F.coalesce(F.col("ip"), F.lit(0).cast("long")).alias("ip")
    )
    return dense.agg(F.min("ip").cast("long").alias("est_join_size"))


def cms_counters_grouped(
    items: DataFrame, group_cols: list[str], col: str, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """Per-group CMS counter tables: (group_cols..., row, pos, cnt). One pass,
    one map-side-combined shuffle, <= |groups| * d * w rows out; SUM-mergeable
    across groups — which is exactly what the sliding form below exploits."""
    pos = F.posexplode(_cms_positions(F.col(col), d, w))
    return (
        items.where(F.col(col).isNotNull())
        .select(*group_cols, pos.alias("row", "pos"))
        .groupBy(*group_cols, "row", "pos")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_sliding_counters(
    items: DataFrame,
    day_col: str,
    col: str,
    window_days: int = 7,
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """Per-day TRAILING-WINDOW CMS counter tables from SUM-merged daily
    counters — the third member of the sliding-sketch family (MAX-merged HLL
    registers, bottom-k sample union, now SUM-merged CMS): keep one d*w
    counter table per day, answer any trailing window by summing the window's
    days, never rescan history. Returns (day, row, pos, cnt) per day present.

    Scale shape: daily counters are ONE keyed shuffle; the merge is a range
    window over the (day x nonzero-cell) SPINE (<= days * d * w rows — sketch-
    sized, never data-sized). Cells that are zero on EVERY day are absent and
    read as 0 downstream (cms_lookup's coalesce densify). Calendar gaps are
    handled by a datediff range frame, not row offsets."""
    from pyspark.sql.window import Window

    daily = cms_counters_grouped(items, [day_col], col, d, w).localCheckpoint(
        eager=True
    )  # tiny (<= days*d*w rows); two consumers below (spine + join)
    days = daily.select(day_col).distinct()
    cells = daily.select("row", "pos").distinct()
    spine = days.crossJoin(F.broadcast(cells))
    dn = F.datediff(F.col(day_col), F.to_date(F.lit("1970-01-01"))).cast("long")
    filled = spine.join(daily, [day_col, "row", "pos"], "left").withColumn("_dn", dn)
    win = (
        Window.partitionBy("row", "pos")
        .orderBy("_dn")
        .rangeBetween(-(int(window_days) - 1), 0)
    )
    return (
        filled.withColumn("w_cnt", F.sum("cnt").over(win))
        .where(F.col("w_cnt").isNotNull())
        .select(day_col, "row", "pos", F.col("w_cnt").cast("long").alias("cnt"))
    )
