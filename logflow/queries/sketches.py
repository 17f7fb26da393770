"""Mergeable-sketch operators with EXACT final answers.

The contract (established by ``heavy_hitters_tokens``' Misra-Gries pass,
r10 notes): a sketch may BOUND memory/shuffle, it must never DECIDE an
output value. Each operator here runs a bounded-size mergeable summary to
produce a candidate set / rank band with a one-sided guarantee, then an
exact verification pass over only that candidate set — so the final
output is exact, partitioning-independent, and fully oracle-checkable
against a plain SQL restatement, where a sketch that decided values
(``agg_approx_*``, ``diag_hll_sketch_union``) is rows-only by design.

Reference tie-in: the reference pipeline counts and correlates keyed
records (StreamsConfig.java topology); these are the bounded-memory forms
those counts take at 100 TB — quantile summaries (KLL/GK family),
HyperLogLog register estimation with its exact twin beside it, and
Count-Min threshold queries with guaranteed-recall candidates.

Cross-engine determinism: all sketch state here is EXACT INTEGER
arithmetic on md5-derived values (identical in both engines); the only
float ops are single identically-parenthesized divisions of exact
operands, then ROUND.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logflow.functions.hashing import md5_int
from logflow.queries import register
from logflow.sources.tables import load_table

# --------------------------------------------------------------------------
# shared SQL snippets (dialect-parameterized text)
# --------------------------------------------------------------------------


def _bitlen_case(col: str, bits: int) -> str:
    """Integer bit-length of ``col`` (< 2**bits) as a literal CASE chain —
    pure integer comparisons, no log2 (float ulp at powers of two is a
    cross-engine risk; the literal-grid pattern from the BH z-thresholds,
    r10 notes)."""
    whens = " ".join(
        f"WHEN {col} >= {1 << (b - 1)} THEN {b}" for b in range(bits, 0, -1)
    )
    return f"CASE {whens} ELSE 0 END"


# --------------------------------------------------------------------------
# HyperLogLog distinct with the exact answer beside it
# --------------------------------------------------------------------------

_HLL_B = 8  # register-index bits -> m = 256 registers
_HLL_M = 1 << _HLL_B
_HLL_SUFFIX_BITS = 32 - _HLL_B  # 24-bit rho domain, rho in [1, 25]
_HLL_RHO_MAX = _HLL_SUFFIX_BITS + 1
# alpha_m * m^2 * 2^(rho_max) precomputed in Python and inlined as ONE
# literal (both engines then do a single double division of exact values)
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_HLL_NUMER = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_RHO_MAX)


def _hll_sql(duck: bool) -> str:
    h32 = md5_int("'hll:' || cast(user_id as string)", duck=duck)
    suffix = f"({h32} % {1 << _HLL_SUFFIX_BITS})"
    rho = f"({_HLL_RHO_MAX} - ({_bitlen_case(suffix, _HLL_SUFFIX_BITS)}))"
    shift = (
        f"(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - m))"
        if duck
        else f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_MAX} - m)"
    )
    return f"""
WITH regs AS (
  SELECT event_type,
         {h32} // {1 << _HLL_SUFFIX_BITS} AS reg,
         CAST(MAX({rho}) AS BIGINT) AS m
  FROM events
  GROUP BY event_type, {h32} // {1 << _HLL_SUFFIX_BITS}
),
s AS (
  SELECT event_type,
         CAST(SUM({shift}) AS BIGINT)
           + ({_HLL_M} - CAST(COUNT(*) AS BIGINT)) * {1 << _HLL_RHO_MAX} AS s_inv,
         CAST(COUNT(*) AS BIGINT) AS n_regs
  FROM regs GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
),
est AS (
  SELECT event_type, n_regs,
         -- Flajolet small-range correction: when the raw estimate is
         -- <= 2.5m and zero registers exist, LinearCounting m*ln(m/V0)
         -- replaces the harmonic estimate (raw HLL overestimates badly
         -- at n << m). The branch condition is exact (both sides exact
         -- doubles < 2^53); ln of a small exact rational has agreed
         -- cross-engine every round (the PMI/ES precedent), and the
         -- output is rounded immediately.
         CASE WHEN n_regs < {_HLL_M}
                   AND CAST({_HLL_NUMER!r} AS DOUBLE)
                       <= {2.5 * _HLL_M} * CAST(s_inv AS DOUBLE)
              THEN ROUND({_HLL_M} * ln({float(_HLL_M)!r}
                         / CAST({_HLL_M} - n_regs AS DOUBLE)), 4)
              ELSE ROUND(CAST({_HLL_NUMER!r} AS DOUBLE)
                         / CAST(s_inv AS DOUBLE), 4) END AS hll_estimate
  FROM s
)
SELECT est.event_type, n_exact, n_regs, hll_estimate,
       ROUND((hll_estimate - CAST(n_exact AS DOUBLE))
             / CAST(n_exact AS DOUBLE) * 100, 4) AS rel_err_pct
FROM est JOIN exact ON est.event_type = exact.event_type
ORDER BY est.event_type
""".replace(" // ", " DIV " if not duck else " // ")


@register(
    "sketch_hll_distinct_verify",
    _hll_sql(duck=True),
    doc="HyperLogLog distinct-count registers with the EXACT distinct "
    "count verified beside them (the sketch-to-exact contract of "
    f"heavy_hitters_tokens applied to distinct counting): m={_HLL_M} "
    "registers per event_type over md5-hashed user ids — register index "
    f"= top {_HLL_B} hash bits, rho = leading-zero rank of the "
    f"{_HLL_SUFFIX_BITS}-bit suffix via a literal CASE bit-length chain "
    "(no float log2). The register table is EXACT INTEGER state "
    "(GROUP BY reg, MAX(rho) — mergeable across partitions/streams by "
    "construction, the property that makes HLL the 100 TB distinct "
    "sketch), the harmonic sum is an exact BIGINT in 2^-rho units "
    "(sum(2^(rho_max-M)) + empty registers), and the Flajolet alpha*m^2 "
    "correction is ONE inlined Python literal divided by that exact sum "
    "— a single identically-parenthesized IEEE division in both "
    "engines. Output: exact distinct, register count, HLL estimate and "
    "its relative error per event_type — unlike diag_hll_sketch_union "
    "(rows-only), every column here hash-verifies because the registers "
    "are deterministic integers and the estimate derives from them "
    "exactly. The standard Flajolet small-range branch applies "
    "LinearCounting m*ln(m/V0) below 2.5m (raw HLL overestimates at "
    "n << m); the branch condition is an exact-double comparison so "
    "both engines take the same arm. At 100 TB: the register table is "
    "256 rows per group regardless of cardinality; only the VERIFY "
    "column (exact count-distinct) pays the full shuffle, and a "
    "production run drops it once the sketch's error is certified.",
)
def sketch_hll_distinct_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "events", sf_dir).createOrReplaceTempView("events")
    return spark.sql(_hll_sql(duck=False))


# --------------------------------------------------------------------------
# Count-Min threshold query with guaranteed-recall candidates + exact verify
# --------------------------------------------------------------------------

_CM_W = 65536  # counters per hash row
_CM_D = 4  # hash rows


def _cm_idx(duck: bool, r: int) -> str:
    h32 = md5_int(f"'cm{r}:' || cast(l_partkey as string)", duck=duck)
    return f"({h32} % {_CM_W})"


def _cm_sql(duck: bool) -> str:
    counters = ",\n".join(
        f"c{r} AS (SELECT {_cm_idx(duck, r)} AS idx, CAST(COUNT(*) AS BIGINT) AS c\n"
        f"          FROM lineitem GROUP BY {_cm_idx(duck, r)})"
        for r in range(_CM_D)
    )
    joins = "\n".join(
        f"  JOIN c{r} ON c{r}.idx = {_cm_idx(duck, r)}" for r in range(_CM_D)
    )
    least = "LEAST(" + ", ".join(f"c{r}.c" for r in range(_CM_D)) + ")"
    return f"""
WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS d
            FROM lineitem),
{counters},
est AS (
  SELECT DISTINCT l_partkey, {least} AS cm_est
  FROM lineitem
{joins}
),
cand AS (SELECT l_partkey, cm_est FROM est CROSS JOIN nd
         WHERE 2 * cm_est * d >= 3 * n),
verified AS (
  SELECT l.l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem l JOIN cand ON cand.l_partkey = l.l_partkey
  GROUP BY l.l_partkey
)
SELECT v.l_partkey, v.cnt, c.cm_est, nd.n AS n_total, nd.d AS n_keys
FROM verified v JOIN cand c ON v.l_partkey = c.l_partkey CROSS JOIN nd
WHERE 2 * v.cnt * nd.d >= 3 * nd.n
ORDER BY v.l_partkey
"""


@register(
    "sketch_countmin_verify",
    _cm_sql(duck=True),
    doc="Count-Min threshold query with exact verification: parts ordered "
    "at least 1.5x the mean per-part rate (the threshold is DATA-DERIVED "
    "by cross-multiplication 2*cnt*d >= 3*n — no division, SF-robust per "
    f"the r11 degenerate-green rule; probed 2/16/138 keys at the three "
    f"SFs). Sketch: a {_CM_D}x{_CM_W} Count-Min table — each hash row is "
    "one GROUP BY over an md5-derived counter index, bounded at "
    f"{_CM_W} exact-integer counters per row REGARDLESS of key "
    "cardinality (map-side combine makes each row's build shuffle-free "
    "in counter units). A key's CM estimate (min over rows of its "
    "counter) can only OVER-count, so the candidate set {cm_est >= T} "
    "provably contains every true heavy key; the verify pass "
    "exact-counts ONLY candidate-matching rows and re-applies the "
    "threshold on the exact count. The sketch bounds memory, never "
    "decides membership — output exact, partitioning-independent, and "
    "the estimate column itself hash-verifies because counters are "
    "deterministic integer sums. At 100 TB with billions of distinct "
    "keys, the full-vocabulary count shuffle never happens: counters "
    "are fixed-size broadcastable state and only candidates (guaranteed "
    "superset, threshold-bounded) reach the exact pass — the same "
    "two-pass shape as heavy_hitters_tokens but for an ARBITRARY "
    "threshold instead of n/k, which Misra-Gries cannot answer.",
)
def sketch_countmin_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.cache import track

    li = track(load_table(spark, "lineitem", sf_dir).select("l_partkey").persist())
    li.count()  # consumers: n agg, counter agg, keys distinct, verify join
    idx = [F.expr(_cm_idx(False, r)).alias(f"idx{r}") for r in range(_CM_D)]
    # ALL _CM_D counter rows in ONE shuffle: explode each row into its
    # (hash_row, counter_idx) pairs and aggregate by the pair — map-side
    # combine bounds the shuffle at _CM_D x _CM_W counters per task,
    # where the previous form paid _CM_D separate groupBy exchanges over
    # the full fact table (4 Exchange -> 1).
    counters = (
        li.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(r).alias("r"), F.expr(_cm_idx(False, r)).alias("idx"))
                        for r in range(_CM_D)
                    ]
                )
            ).alias("ri")
        )
        .select("ri.r", "ri.idx")
        .groupBy("r", "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    counters = track(counters.coalesce(1).persist())
    # estimate per DISTINCT key, not per fact row: the sketch lookup is a
    # pure function of the key, so derive the counter indexes on the
    # key-domain-scale distinct frame and probe the (broadcast) counter
    # table there — the old form joined counters onto every fact row and
    # paid a distinct over the full (key, est) fact projection.
    keys = track(li.distinct().persist())
    nd = li.agg(F.count(F.lit(1)).cast("long").alias("n")).crossJoin(
        F.broadcast(keys.agg(F.count(F.lit(1)).cast("long").alias("d")))
    )
    est = keys.select("l_partkey", *idx)
    for r in range(_CM_D):
        cr = counters.filter(F.col("r") == r).select(
            F.col("idx"), F.col("c").alias(f"c{r}")
        )
        est = est.join(F.broadcast(cr), est[f"idx{r}"] == cr["idx"]).drop("idx")
    est = est.select(
        "l_partkey", F.least(*[F.col(f"c{r}") for r in range(_CM_D)]).alias("cm_est")
    )
    # eager localCheckpoint, not persist: the candidate frame is
    # threshold-bounded (heavy keys only) and feeds two plan branches —
    # checkpoint truncates the 4-join sketch lineage so neither branch
    # re-expands it (the r10 static-plan-bloat rule)
    cand = (
        est.crossJoin(F.broadcast(nd))
        .filter(2 * F.col("cm_est") * F.col("d") >= 3 * F.col("n"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    verified = (
        li.join(F.broadcast(cand.select("l_partkey")), "l_partkey", "left_semi")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        verified.join(F.broadcast(cand), "l_partkey")
        .filter(2 * F.col("cnt") * F.col("d") >= 3 * F.col("n"))
        .select(
            "l_partkey",
            "cnt",
            "cm_est",
            F.col("n").alias("n_total"),
            F.col("d").alias("n_keys"),
        )
        .orderBy("l_partkey")
    )


# --------------------------------------------------------------------------
# KLL/GK-style mergeable quantile summary -> guaranteed rank band -> exact
# selection
# --------------------------------------------------------------------------

_KLL_PCTS = (10, 50, 90, 99)
_KLL_EPS_INV = 64  # per-partition decimation rate: <= 1/64 rank error


@register(
    "sketch_kll_quantile_verify",
    f"""
WITH c AS (SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
           FROM lineitem),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
s AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM c),
ks AS (SELECT p, (p * n + 99) // 100 AS k
       FROM (VALUES {", ".join(f"({p})" for p in _KLL_PCTS)}) t(p) CROSS JOIN n)
SELECT CAST(ks.p AS BIGINT) AS pct, CAST(ks.k AS BIGINT) AS k,
       CAST(s.cents AS DOUBLE) / 100 AS value
FROM ks JOIN s ON s.rn = ks.k
ORDER BY pct
""",
    doc="EXACT percentiles of lineitem extended price located through a "
    "KLL/GK-style MERGEABLE quantile summary (the r10/r11 carried item): "
    "pass 1 decimates each partition's sorted values to every "
    f"ceil(n_p/{_KLL_EPS_INV})-th order statistic (a one-level KLL "
    "compactor; the union of per-partition summaries is an eps-"
    "approximate summary of the union — Agarwal et al. 2013 mergeable "
    "summaries), pass 2 computes EXACT global ranks of the bounded "
    "candidate set via per-partition vectorized searchsorted partials, "
    "and pass 3 shuffles ONLY the rows inside each target's candidate-"
    "bracketed rank band (provably <= n/" + str(_KLL_EPS_INV) + " + "
    "n_partitions rows, the pytest gate) to select the k-th element "
    "exactly. The sketch bounds which rows the selection pass touches; "
    "it never decides the value, so the output is exact and "
    "partitioning-independent — the DuckDB oracle is the plain full "
    "sort. Differs from quantile_exact_twopass structurally: the "
    "histogram trick needs a pre-known bounded integer domain, the KLL "
    "summary is data-adaptive and works on ANY ordered domain "
    "(strings, unbounded doubles) with the same guarantee. At 100 TB: "
    "pass 1/2 are map-side scans emitting candidate-scale rows, the "
    "driver holds only the candidate rank table (bounded by "
    f"partitions x {_KLL_EPS_INV}, config-scale not data-scale — the "
    "attribution_markov bounded-driver contract), and pass 3's shuffle "
    "is an eps-fraction of the data with pushed-down range filters. "
    "k = ceil(p*n/100) in pure integer math (percentile_disc "
    "semantics); values are exact cents BIGINTs so ties are value-"
    "identical and the pick is deterministic.",
)
def sketch_kll_quantile_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from logflow.operators.cache import track

    li = load_table(spark, "lineitem", sf_dir)
    vals = li.select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents")
    )
    # consumers: total count, decimation pass, rank pass, selection pass
    vals = track(vals.persist())
    n = vals.count()

    def decimate(batches):
        bufs = [pdf["cents"].to_numpy() for pdf in batches]
        if not bufs:
            return
        a = np.sort(np.concatenate(bufs))
        step = max(1, -(-len(a) // _KLL_EPS_INV))  # ceil(n_p / eps_inv)
        cand = np.unique(np.append(a[::step], a[-1]))
        yield pd.DataFrame({"cand": cand})

    cands = np.array(
        sorted(
            {r["cand"] for r in vals.mapInPandas(decimate, "cand long").collect()}
        ),
        dtype=np.int64,
    )  # bounded: <= partitions * (eps_inv + 1) values

    def ranks(batches):
        tot = np.zeros(len(cands), dtype=np.int64)
        seen = False
        for pdf in batches:
            a = np.sort(pdf["cents"].to_numpy())
            tot += np.searchsorted(a, cands, side="right")
            seen = True
        if seen:
            yield pd.DataFrame({"ci": np.arange(len(cands), dtype=np.int64), "le": tot})

    rank_rows = (
        vals.mapInPandas(ranks, "ci long, le long")
        .groupBy("ci")
        .agg(F.sum("le").alias("le"))
        .collect()
    )  # bounded: one row per candidate
    rank_le = np.zeros(len(cands), dtype=np.int64)
    for r in rank_rows:
        rank_le[r["ci"]] = r["le"]

    targets = []  # (pct, k, lo_exclusive_or_None, hi_inclusive, r_within)
    for p in _KLL_PCTS:
        k = (p * n + 99) // 100
        # largest candidate with rank_le < k brackets the band below;
        # smallest candidate with rank_le >= k closes it above (always
        # exists: the global max is a candidate with rank_le = n >= k)
        below = np.searchsorted(rank_le, k, side="left") - 1
        hi = cands[below + 1]
        if below >= 0:
            targets.append((p, k, int(cands[below]), int(hi), int(k - rank_le[below])))
        else:
            targets.append((p, k, None, int(hi), int(k)))

    picked = None
    for p, k, lo, hi, r in targets:
        band = vals.filter(
            (F.col("cents") <= hi)
            if lo is None
            else ((F.col("cents") > lo) & (F.col("cents") <= hi))
        ).select(
            F.lit(p).cast("long").alias("pct"),
            F.lit(k).cast("long").alias("k"),
            "cents",
            F.lit(r).cast("long").alias("r"),
        )
        picked = band if picked is None else picked.unionByName(band)
    w = Window.partitionBy("pct").orderBy("cents")
    return (
        picked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == F.col("r"))
        .select("pct", "k", (F.col("cents").cast("double") / 100).alias("value"))
        .orderBy("pct")
    )
