"""Sketch-based approximate aggregation (the 100 TB dashboard path):
ENGINE-PORTABLE HyperLogLog (distinct counts) and Count-Min
(heavy-hitter frequencies) sketches.

Why not `approx_count_distinct`? Spark's built-in HLL++ is correct and
fast but its hash (xxhash/HLL++ bias tables) is engine-private — its
estimate can't be value-checked against another engine. This HLL
derives its registers from md5 (shared by Spark and DuckDB), keeps the
register fold EXACT (integer max per bucket, DECIMAL integer sum of
2^(61-M_j)), and defers to ONE double division + the standard
bias/linear-counting rule at the very end — so the ESTIMATE ITSELF is
bit-identical across engines and hash-match oracled, not just "close".

Standard HLL (Flajolet et al. 2007): p-bit bucket prefix, rho = 1 +
leading zeros of the remaining bits, register M_j = max rho, estimate
alpha_m · m² / Σ 2^-M_j with linear counting below 2.5·m. rho comes
from floor(log2(v)) — safe across engines because log2 of an integer
is exact at powers of two and > 1 ulp away from an integer elsewhere.

Scale: one narrow projection (md5 + bit math) + a (group, 2^p)-key
partial-agg shuffle + a group-key rollup — the register table IS the
mergeable sketch state (max-merge), so shards/streams combine by a
further groupBy-max, never by re-reading raw data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HLL_P = 8  # 2^8 = 256 registers
_M = 1 << HLL_P
_POW61 = float(1 << 61)


def hll_register_cols(key: str | Column) -> tuple[Column, Column]:
    """(bucket, rho) for one row: bucket = first 2 md5 hex chars,
    rho = 1 + leading zeros of the next 60 bits (15 hex chars — fits
    a signed 64-bit int, and '0x'||hex parses identically in DuckDB)."""
    col = F.col(key) if isinstance(key, str) else key
    h = F.md5(col.cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    v = F.conv(F.substring(h, 3, 15), 16, 10).cast("long")
    rho = (
        F.when(v == 0, F.lit(61))
        .otherwise(F.lit(60) - F.floor(F.log2(v)))
        .cast("int")
    )
    return bucket, rho


def hll_distinct(
    df: DataFrame, key: str, group_cols: list[str]
) -> DataFrame:
    """Per-group HLL distinct-count estimate, engine-deterministic.

    Register fold: max(rho) per (group, bucket) — integer, exact.
    Σ 2^-M_j is computed as the EXACT integer Σ 2^(61-M_j) in
    DECIMAL(38,0) (2^(61-M) is float-exact, the decimal sum is
    order-independent), divided once at the end; empty registers
    contribute 1 each (the V term). Linear counting m·ln(m/V) applies
    when E ≤ 2.5m and V > 0 — the textbook small-range rule.

    Output: group_cols + (hll_estimate DOUBLE)."""
    return hll_fold(hll_registers(df, key, group_cols), group_cols)


def hll_registers(
    df: DataFrame, key: str, group_cols: list[str]
) -> DataFrame:
    """The register table (group, _bkt, _m) — the sketch STATE. It is
    max-mergeable: register tables from disjoint shards (or stream
    epochs) combine by groupBy(group, _bkt).max(_m); the estimate of
    the merge equals the estimate of the union (tested)."""
    bucket, rho = hll_register_cols(key)
    return (
        df.select(*group_cols, bucket.alias("_bkt"), rho.alias("_rho"))
        .groupBy(*group_cols, "_bkt")
        .agg(F.max("_rho").alias("_m"))
    )


def hll_merge(regs_list: list[DataFrame], group_cols: list[str]) -> DataFrame:
    """Max-merge register tables from disjoint shards."""
    merged = regs_list[0]
    for r in regs_list[1:]:
        merged = merged.unionByName(r)
    return merged.groupBy(*group_cols, "_bkt").agg(F.max("_m").alias("_m"))


def hll_fold(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Registers → estimate (see :func:`hll_distinct` for the rules)."""
    folded = regs.groupBy(*group_cols).agg(
        F.sum(
            F.pow(F.lit(2.0), F.lit(61) - F.col("_m")).cast("decimal(38,0)")
        ).alias("_s"),
        F.count("*").alias("_present"),
    )
    v_empty = F.lit(_M) - F.col("_present")
    sum_inv = v_empty + F.col("_s").cast("double") / F.lit(_POW61)
    alpha = F.lit(0.7213) / (F.lit(1) + F.lit(1.079) / F.lit(_M))
    e_raw = alpha * F.lit(_M) * F.lit(_M) / sum_inv
    est = F.when(
        (e_raw <= F.lit(2.5) * F.lit(_M)) & (v_empty > 0),
        F.lit(_M) * F.log(F.lit(_M) / v_empty),
    ).otherwise(e_raw)
    return folded.select(*group_cols, est.alias("hll_estimate"))


# DuckDB-side register derivation (the oracle spelling of
# hll_register_cols) lives inline in plans/oracles.py
# (events_hll_users) and plans/streams.py (streaming_hll_users) — change
# hll_register_cols and BOTH oracles must follow (the oracle hash
# check is what catches a missed one).

# -- Count-Min sketch (heavy-hitter frequency estimation) -------------------

CMS_D = 4  # hash rows
CMS_W = 512  # counters per row


def _cms_col(key_col: Column, row: Column) -> Column:
    """Counter column for (row, key): salted md5, first 4 hex chars
    mod w — integer-only, so the whole sketch is engine-exact."""
    h = F.md5(F.concat(row.cast("string"), F.lit("|"), key_col.cast("string")))
    return F.pmod(F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(CMS_W))


def cms_counters(df: DataFrame, key: str) -> DataFrame:
    """Build the Count-Min state (_r, _c, cnt): each row increments one
    counter per hash row. All-integer ⇒ exact, order-independent, and
    mergeable by (r, c) SUM — the streaming/sharded combine. State is
    d·w counters regardless of data size: the 100 TB heavy-hitter
    query reads a 2048-row table, not the corpus."""
    rows = F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("_r")
    keyed = df.select(F.col(key).alias("_k")).select("_k", rows)
    return (
        keyed.select("_r", _cms_col(F.col("_k"), F.col("_r")).alias("_c"))
        .groupBy("_r", "_c")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(counters: DataFrame, keys: DataFrame, key: str) -> DataFrame:
    """Point-frequency estimates: min over the d counters a key hashes
    to — the classic CM upper bound (estimate ≥ true count always;
    error ≤ εN with ε = e/w at the usual guarantees). Broadcast the
    (d·w)-row counter table; per-key work is d lookups."""
    rows = F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("_r")
    probes = keys.select(F.col(key).alias("_k")).distinct().select("_k", rows)
    probes = probes.select("_k", "_r", _cms_col(F.col("_k"), F.col("_r")).alias("_c"))
    return (
        probes.join(F.broadcast(counters), ["_r", "_c"])
        .groupBy("_k")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(F.col("_k").alias(key), "cms_estimate")
    )


# -- histogram quantile sketch ----------------------------------------------

HIST_BINS = 64


def hist_quantiles(
    df: DataFrame,
    val: str,
    group_cols: list[str],
    qs: list[float],
    n_bins: int = HIST_BINS,
) -> DataFrame:
    """Approximate per-group quantiles from an equi-width histogram —
    the third sketch family (distinct → HLL, frequency → CMS,
    quantiles → histogram): n_bins counters per group are the WHOLE
    state, mergeable by (group, bin) SUM, so a 100 TB percentile
    dashboard reads counters, not rows. Error is bounded by one bin
    width of the value range (the classic grid trade; t-digest tips
    the accuracy/mergeability balance differently and is the
    documented production alternative for heavy-tailed ranges).

    Engine-exact by construction: min/max are order-independent,
    bin = floor((v-mn)/width) is the same IEEE expression on both
    engines, counts are integers, and the final interpolation is a
    fixed arithmetic sequence — so even the ESTIMATES hash-match.

    Estimate for q: with target = q·n, find the first bin whose
    cumulative count reaches target, interpolate linearly inside it:
    mn + width·(bin + (target − cum_prev)/bin_count).

    NULL values carry no quantile information and would otherwise
    corrupt the cumulative walk (Spark windows order NULL bins FIRST
    while ``count(val)`` excludes them — and DuckDB orders NULLS LAST,
    so the engines would also diverge): they are dropped up front, the
    same normalization an oracle-side ``WHERE val IS NOT NULL`` does.

    Output: group_cols + (q, approx_value)."""
    g = list(group_cols)
    df = df.filter(F.col(val).isNotNull())
    stats = df.groupBy(*g).agg(
        F.min(val).alias("_mn"),
        F.max(val).alias("_mx"),
        F.count(val).alias("_n"),
    )
    width = (F.col("_mx") - F.col("_mn")) / F.lit(n_bins)
    binned = df.join(F.broadcast(stats), g).select(
        *g,
        "_mn",
        "_mx",
        "_n",
        F.when(F.col("_mx") == F.col("_mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_bins - 1),
                F.floor((F.col(val) - F.col("_mn")) / width).cast("int"),
            )
        )
        .alias("_bin"),
    )
    counts = binned.groupBy(*g, "_mn", "_mx", "_n", "_bin").agg(
        F.count("*").alias("_cnt")
    )
    w = Window.partitionBy(*g).orderBy("_bin")
    cum = counts.withColumn("_cum", F.sum("_cnt").over(w)).withColumn(
        "_prev", F.col("_cum") - F.col("_cnt")
    )
    qdf = df.sparkSession.createDataFrame([(q,) for q in qs], "q double")
    hit = cum.crossJoin(F.broadcast(qdf)).filter(
        F.col("_cum") >= F.col("q") * F.col("_n")
    )
    first = hit.groupBy(*g, "q").agg(
        F.min(F.struct("_bin", "_mn", "_mx", "_n", "_cnt", "_prev")).alias("_f")
    )
    width_f = (F.col("_f._mx") - F.col("_f._mn")) / F.lit(n_bins)
    est = F.col("_f._mn") + width_f * (
        F.col("_f._bin")
        + (F.col("q") * F.col("_f._n") - F.col("_f._prev")) / F.col("_f._cnt")
    )
    return first.select(*g, "q", est.alias("approx_value"))


# -- Misra-Gries heavy hitters ----------------------------------------------


def mg_partition_summaries(
    df: DataFrame, key: str, capacity: int = 64
) -> DataFrame:
    """Per-partition MERGEABLE Misra-Gries summaries (Arrow
    ``mapInPandas``) — at most ``capacity`` (key, weight) counters per
    partition, built by the batch-merge rule from the mergeable-
    summaries literature: fold each Arrow batch's value_counts into the
    running summary; when the summary exceeds capacity, subtract the
    (capacity+1)-th largest weight from everything and drop ≤ 0.

    GUARANTEE (pigeonhole over partitions): any key whose GLOBAL count
    exceeds N/(capacity+1) must exceed n_p/(capacity+1) in at least one
    partition and therefore survives in that partition's summary — so
    the union of summaries is a certified candidate superset for every
    such key. Summaries themselves depend on row order (eviction
    order); the downstream exact recount is what restores determinism.

    Why imperative (mapInPandas, not expressions): MG's whole point is
    BOUNDED state under eviction — a declarative groupBy materializes
    the full key cardinality (the thing being avoided); there is no
    expression-level equivalent of "decrement-and-evict". State is
    O(capacity) per partition; output is ≤ capacity rows per partition.
    """
    key_field = df.schema[key]
    out_schema = f"{key} {key_field.dataType.simpleString()}, weight long"

    def summarize(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for k_val, c in pdf[key].value_counts().items():
                counters[k_val] = counters.get(k_val, 0) + int(c)
            if len(counters) > capacity:
                thr = sorted(counters.values(), reverse=True)[capacity]
                counters = {
                    k_val: w - thr for k_val, w in counters.items() if w - thr > 0
                }
        yield pd.DataFrame(
            {key: list(counters.keys()), "weight": list(counters.values())}
        )

    return df.select(key).mapInPandas(summarize, out_schema)


def heavy_hitters_exact(
    df: DataFrame, key: str, k: int = 5, capacity: int = 64
) -> DataFrame:
    """Exact top-k heavy hitters WITHOUT a full-cardinality shuffle:
    Misra-Gries candidate generation (bounded per-partition state) →
    ONE tiny shuffle of ≤ partitions×capacity candidate rows → exact
    recount of candidates only (broadcast semi-join into the scan) →
    TakeOrdered top-k.

    Correctness certificate: the result IS the true top-k whenever the
    k-th true count exceeds N/(capacity+1) (then every top-k key is a
    certified MG survivor). The certificate is data-checkable — pinned
    in tests on the planted-skew corpus — and the oracle (plain top-k
    SQL) hash-proves result invariance under it, eviction-order
    nondeterminism notwithstanding.

    Scale: the raw table is scanned twice but SHUFFLED never — the
    first pass moves ≤ partitions×capacity rows, the second aggregates
    only candidate keys pre-filtered at the scan. The classic skew
    regime (few hot keys at 100 TB) is exactly where the certificate
    margin is widest."""
    cands = (
        mg_partition_summaries(df, key, capacity)
        .select(key)
        .distinct()
    )
    exact = (
        df.join(F.broadcast(cands), key, "left_semi")
        .groupBy(key)
        .agg(F.count("*").alias("n_rows"))
    )
    return exact.orderBy(F.desc("n_rows"), key).limit(k)


# -- two-pass EXACT quantiles ------------------------------------------------


def exact_quantiles_twopass(
    df: DataFrame, col: str, qs: list[float], n_bins: int = 256
) -> list[tuple[float, float]]:
    """EXACT order-statistic quantiles without ever sorting the table —
    the scalable exact-median algorithm: one histogram pass localizes
    each target rank to a value bin, one filtered pass extracts the
    exact element from that (table/n_bins-sized) bin.

    For each q the result is the k-th smallest with k = ceil(q·n) —
    the discrete quantile an ORDER BY ... OFFSET k-1 oracle replays.
    Bin assignment orders consistently with the value (bins are value
    ranges), so duplicates and boundary values cannot misplace a rank.

    Scale: THREE scans total, independent of |qs| — (1) min/max/count
    (needed before any binning), (2) the histogram (one partial-agg
    shuffle of ≤ n_bins keys + a bounded ≤ n_bins-row collect, same
    class as the quantizer-table collects), (3) ONE fused extraction
    job filtering to the union of target bins and ranking within each
    (a per-bin window over ~n/n_bins rows each). Compare
    ``hist_quantiles``: that one is the STREAMING/mergeable
    approximation (within-one-bin guarantee); this one buys exactness
    for one extra bounded pass — the batch report path. A production
    variant pushes the bin range to the scan with epsilon margins;
    here the filter reuses the bin EXPRESSION so boundary floats can't
    disagree between passes.

    NULL CONTRACT: NULL ``col`` rows are excluded up front — they have
    no place in a value order, and leaving them in skews the histogram
    (``least(NULL, n_bins-1)`` silently maps them to the LAST bin,
    over-counting it relative to ``count(col)``). All-NULL input
    raises.

    Returns [(q, value), ...] in input order.
    """
    df = df.filter(F.col(col).isNotNull())
    lo, hi, n = df.agg(
        F.min(col).cast("double"),
        F.max(col).cast("double"),
        F.count(col),
    ).collect()[0]
    if n == 0:
        raise ValueError(
            "exact_quantiles_twopass: no non-NULL rows in col"
        )
    if hi == lo:
        return [(q, lo) for q in qs]
    width = (hi - lo) / n_bins
    if not width > 0:
        # subnormal range: (hi - lo)/n_bins can UNDERFLOW to 0.0 even
        # with hi > lo, and the /0.0 divide throws under ANSI mode
        # (hypothesis-found). One bin is correct: the extraction
        # window ranks within it.
        width = 1.0
    bin_expr = F.least(
        F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(width)),
        F.lit(n_bins - 1),
    ).cast("int")
    counts = {
        r["b"]: r["c"]
        for r in df.select(bin_expr.alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    targets: list[tuple[float, int, int]] = []  # (q, bin, rank_in_bin)
    for q in qs:
        k = int(-(-q * n // 1))  # ceil(q*n)
        k = max(1, min(k, n))
        cum = 0
        target_bin, rank_in_bin = n_bins - 1, 1
        for b in range(n_bins):
            c = counts.get(b, 0)
            if cum + c >= k:
                target_bin, rank_in_bin = b, k - cum
                break
            cum += c
        targets.append((q, target_bin, rank_in_bin))
    # ONE extraction job for every quantile: filter to the union of
    # target bins, rank within each bin, pick the wanted ranks.
    wanted_bins = sorted({b for _, b, _ in targets})
    ranked = (
        df.select(F.col(col).cast("double").alias("_v"), bin_expr.alias("_b"))
        .filter(F.col("_b").isin(wanted_bins))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_b").orderBy("_v")
            ),
        )
    )
    want = {(b, r) for _, b, r in targets}
    picked = {
        (row["_b"], row["_rn"]): row["_v"]
        for row in ranked.filter(
            F.struct(F.col("_b"), F.col("_rn")).isin(
                [F.struct(F.lit(b), F.lit(r)) for b, r in want]
            )
        ).collect()
    }
    return [(q, float(picked[(b, r)])) for q, b, r in targets]


def exact_rank_rows_twopass(
    df: DataFrame,
    col: str,
    tie_col: str,
    ks: list[int],
    n_bins: int = 256,
) -> list[tuple[int, object, object]]:
    """The (col, tie_col) ROW at each explicit 1-based rank ``k`` in
    the lexicographic (col ASC, tie_col ASC) total order — the
    generalization of :func:`exact_quantiles_twopass` that window
    functions like ``ntile`` need: when ``col`` carries heavy ties
    (order counts, recency days), a value-only quantile cannot say
    WHICH of the tied rows closes a bucket; the tie column can.

    Same three-scan shape: (1) min/max/count of ``col``, (2) a
    ≤``n_bins``-key histogram (bins are value ranges of ``col``, so
    bin order respects the lexicographic order — a rank localizes to
    exactly one bin regardless of ties inside it), (3) ONE fused
    extraction filtering to the union of target bins and ranking each
    by (col, tie_col) with a bin-PARTITIONED window (~n/n_bins rows
    per partition, never a global sort). Degenerate all-one-value
    input collapses to a single bin — the one case the window spans
    the whole frame.

    NULL CONTRACT: NULL ``col`` rows are excluded up front and do not
    occupy ranks — counting them (the old ``count(lit(1))``) while the
    histogram mapped them to the last bin made ranks near ``n``
    silently fall through to the default (n_bins-1, 1) target and
    return the wrong row; all-NULL input also crashed the width
    arithmetic on ``lo=hi=None``. All-NULL input now raises.

    Returns [(k, col_value, tie_value), ...] in input order, values
    in their ORIGINAL types (callers build exact literal comparisons
    from them — no double round-trips).
    """
    df = df.filter(F.col(col).isNotNull())
    lo, hi, n = df.agg(
        F.min(col).cast("double"),
        F.max(col).cast("double"),
        F.count(F.lit(1)),
    ).collect()[0]
    if n == 0:
        raise ValueError(
            "exact_rank_rows_twopass: no non-NULL rows in col"
        )
    for k in ks:
        if not 1 <= k <= n:
            raise ValueError(f"exact_rank_rows_twopass: rank {k} not in [1,{n}]")
    if hi == lo:
        width = 1.0  # single bin: every row maps to bin 0
    else:
        width = (hi - lo) / n_bins
        if not width > 0:
            # subnormal range underflows to width 0.0 (ANSI /0 throws;
            # hypothesis-found) — collapse to one window-ranked bin
            width = 1.0
    bin_expr = F.least(
        F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(width)),
        F.lit(n_bins - 1),
    ).cast("int")
    counts = {
        r["b"]: r["c"]
        for r in df.select(bin_expr.alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    targets: list[tuple[int, int, int]] = []  # (k, bin, rank_in_bin)
    for k in ks:
        cum = 0
        target_bin, rank_in_bin = n_bins - 1, 1
        for b in range(n_bins):
            c = counts.get(b, 0)
            if cum + c >= k:
                target_bin, rank_in_bin = b, k - cum
                break
            cum += c
        targets.append((k, target_bin, rank_in_bin))
    wanted_bins = sorted({b for _, b, _ in targets})
    ranked = (
        df.select(F.col(col).alias("_v"), F.col(tie_col).alias("_t"), bin_expr.alias("_b"))
        .filter(F.col("_b").isin(wanted_bins))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_b").orderBy("_v", "_t")
            ),
        )
    )
    want = {(b, r) for _, b, r in targets}
    picked = {
        (row["_b"], row["_rn"]): (row["_v"], row["_t"])
        for row in ranked.filter(
            F.struct(F.col("_b"), F.col("_rn")).isin(
                [F.struct(F.lit(b), F.lit(r)) for b, r in want]
            )
        ).collect()
    }
    return [(k, *picked[(b, r)]) for k, b, r in targets]


def grouped_topk_candidates(
    df: DataFrame,
    group: str,
    sort_cols: list[str],
    ascending: list[bool],
    k: int,
) -> DataFrame:
    """Per-partition top-k candidates for EXACT group-wise top-k
    without sorting whole groups: inside each partition keep only the
    k best rows per group (Arrow pass, state bounded at
    groups-in-partition × k + one batch), so the downstream global
    rank runs over ≤ partitions×k candidates per group instead of the
    full group.

    EXACTNESS (no certificate needed, unlike Misra-Gries): every row
    of a group's global top-k is by definition among the top-k of its
    own partition, so the candidate union always covers the true
    top-k — the final rank just discards the rest. Requires a total
    order (no ties across rows in the sort columns), which callers get
    by including a unique tie-break column.

    Why imperative: the declarative form is a rank window over the
    FULL frame — one hash exchange + sort of everything. A per-
    physical-partition window would need an exchange on the partition
    id anyway; the Arrow pass is the only way to pre-prune without
    shuffling. Same mapInPandas-is-legitimate argument as
    ``mg_partition_summaries``.
    """
    out_schema = df.schema

    def per_partition(batches):
        import pandas as pd

        cur: pd.DataFrame | None = None
        for pdf in batches:
            cur = pdf if cur is None else pd.concat([cur, pdf])
            cur = (
                cur.sort_values(sort_cols, ascending=ascending)
                .groupby(group, sort=False)
                .head(k)
            )
        if cur is not None:  # empty partition → yield nothing (Arrow
            yield cur  # infers no batch; avoids dtype-less empty frames)

    return df.mapInPandas(per_partition, out_schema)
