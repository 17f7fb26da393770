"""In-engine ML training/evaluation operators: Naive Bayes text
classification (train + apply + confusion matrix) entirely as DataFrame
algebra.

Reference tie-in: the reference pipeline enriches keyed records with
derived attributes (StreamsConfig.java's mapValues stage); these queries
extend that derivation surface to supervised model FITTING — the model is
itself a small DataFrame (vocab × classes), built with the same shuffles
as any aggregate, and scoring is a hash join of the token stream against
the broadcast model. No driver-side math, no MLlib dependency: training at
100 TB is exactly two partial-agg shuffles over the token stream.

Cross-engine determinism: every log-probability follows the
text_unigram_logprob recipe — the argument is an exact BIGINT/BIGINT
double quotient (identical in both engines), ``log2`` of an identical
double is rounded ONCE at 6 dp and carried as DECIMAL(18,6); per-document
scores are exact decimal SUMs (order-independent), so the argmax and the
confusion matrix are bit-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logflow.functions.hashing import md5_int
from logflow.functions.text import tokenize
from logflow.queries import register
from logflow.sources.tables import load_table

#: DuckDB mirror of logflow.functions.text.tokenize (pinned rules).
TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"


@register(
    "ml_nb_lang_confusion",
    f"""
WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
test  AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
ttok AS (SELECT lang, unnest({TOKS}) AS tok FROM train),
cwc AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM ttok GROUP BY lang, tok),
nc AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_c FROM cwc GROUP BY lang),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsize FROM ttok),
cls AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS d_c FROM train GROUP BY lang),
dtot AS (SELECT CAST(SUM(d_c) AS BIGINT) AS d_all FROM cls),
prior AS (
  SELECT cls.lang,
         CAST(ROUND(log2(CAST(d_c AS DOUBLE) / CAST(d_all AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lp0,
         nc.n_c
  FROM cls CROSS JOIN dtot JOIN nc ON cls.lang = nc.lang),
model AS (
  SELECT cwc.lang, cwc.tok,
         CAST(ROUND(log2(CAST(cwc.cnt + 1 AS DOUBLE)
                         / CAST(nc.n_c + v.vsize AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lp
  FROM cwc JOIN nc ON cwc.lang = nc.lang CROSS JOIN v),
unk AS (
  SELECT nc.lang,
         CAST(ROUND(log2(1.0 / CAST(nc.n_c + v.vsize AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lpu
  FROM nc CROSS JOIN v),
tetok AS (SELECT doc_id, lang AS lang_true, unnest({TOKS}) AS tok FROM test),
scored_tok AS (
  SELECT t.doc_id, t.lang_true, u.lang AS lang_pred,
         COALESCE(m.lp, u.lpu) AS lp
  FROM tetok t
  CROSS JOIN unk u
  LEFT JOIN model m ON m.tok = t.tok AND m.lang = u.lang),
doc_scores AS (
  SELECT doc_id, lang_true, lang_pred, SUM(lp) AS tok_score
  FROM scored_tok GROUP BY doc_id, lang_true, lang_pred),
final_scores AS (
  SELECT d.doc_id, d.lang_true, d.lang_pred,
         d.tok_score + p.lp0 AS score
  FROM doc_scores d JOIN prior p ON d.lang_pred = p.lang),
pred AS (
  SELECT doc_id, lang_true, lang_pred,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang_pred) AS rk
  FROM final_scores)
SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rk = 1
GROUP BY lang_true, lang_pred
ORDER BY lang_true, lang_pred
""",
    doc="Multinomial Naive Bayes language classifier trained IN-ENGINE on "
    "an 80/20 deterministic split (doc_id mod 5) of the documents table "
    "and evaluated as a confusion matrix over the held-out fold. "
    "Training is two partial-agg shuffles (per-class token counts, "
    "per-class totals); the fitted model is a vocab × classes DataFrame "
    "— dictionary-sized at any corpus scale, so scoring broadcasts it "
    "and the test token stream never shuffles (the only wide exchange "
    "is the per-(doc,class) score roll-up on doc_id). Laplace-smoothed "
    "log2 likelihoods follow the unigram-logprob determinism recipe: "
    "exact BIGINT ratio → one log2 → round 6dp → DECIMAL sum, so argmax "
    "is bit-stable cross-engine (ties broken by class name). At 100 TB "
    "the shape is unchanged: model stays vocab-sized, scores roll up "
    "map-side-combined on the document key.",
)
def ml_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)

    ttok = train.select("lang", F.explode(tokenize("text")).alias("tok"))
    cwc = ttok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    nc = cwc.groupBy("lang").agg(F.sum("cnt").alias("n_c"))
    v = ttok.agg(F.countDistinct("tok").alias("vsize"))

    cls = train.groupBy("lang").agg(F.count(F.lit(1)).alias("d_c"))
    dtot = cls.agg(F.sum("d_c").alias("d_all"))
    prior = (
        cls.crossJoin(F.broadcast(dtot))
        .join(F.broadcast(nc), "lang")
        .select(
            "lang",
            F.round(F.log2(F.col("d_c").cast("double") / F.col("d_all").cast("double")), 6)
            .cast("decimal(18,6)")
            .alias("lp0"),
            "n_c",
        )
    )
    model = (
        cwc.join(F.broadcast(nc), "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "lang",
            "tok",
            F.round(
                F.log2(
                    (F.col("cnt") + 1).cast("double")
                    / (F.col("n_c") + F.col("vsize")).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    unk = (
        nc.crossJoin(F.broadcast(v))
        .select(
            "lang",
            F.round(
                F.log2(F.lit(1.0) / (F.col("n_c") + F.col("vsize")).cast("double")), 6
            )
            .cast("decimal(18,6)")
            .alias("lpu"),
        )
    )

    tetok = test.select(
        "doc_id", F.col("lang").alias("lang_true"), F.explode(tokenize("text")).alias("tok")
    )
    scored_tok = (
        tetok.crossJoin(F.broadcast(unk.withColumnRenamed("lang", "lang_pred")))
        .join(
            F.broadcast(model.withColumnRenamed("lang", "lang_pred")),
            ["tok", "lang_pred"],
            "left",
        )
        .select(
            "doc_id",
            "lang_true",
            "lang_pred",
            F.coalesce(F.col("lp"), F.col("lpu")).alias("lp"),
        )
    )
    doc_scores = scored_tok.groupBy("doc_id", "lang_true", "lang_pred").agg(
        F.sum("lp").alias("tok_score")
    )
    final_scores = doc_scores.join(
        F.broadcast(prior.withColumnRenamed("lang", "lang_pred").select("lang_pred", "lp0")),
        "lang_pred",
    ).select(
        "doc_id",
        "lang_true",
        "lang_pred",
        (F.col("tok_score") + F.col("lp0")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang_pred"))
    pred = final_scores.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        pred.groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("lang_true", "lang_pred")
    )


_LR_ITERS = 3
_LR_XS = 10_000  # feature fixed-point scale (1e4)
_LR_WS = 1_000_000  # weight / probability fixed-point scale (1e6)


def _lr_feat_sql() -> str:
    """Oracle CTE: 4 block-sum features (exact per-element ROUND to 1e4
    fixed point, then integer sums — order-independent) + the bias."""
    blocks = []
    for j in range(4):
        lo, hi = 16 * j + 1, 16 * (j + 1)
        blocks.append(
            f"CAST(list_sum(list_transform(embedding[{lo}:{hi}], "
            f"e -> CAST(ROUND(CAST(e AS DOUBLE)*{_LR_XS}, 0) AS BIGINT))) "
            f"AS BIGINT) AS x{j + 1}"
        )
    return (
        "feat AS (SELECT vec_id, CAST(CASE WHEN label >= 5 THEN 1 ELSE 0 END "
        f"AS BIGINT) AS y, CAST({_LR_XS} AS BIGINT) AS x0, "
        + ", ".join(blocks)
        + " FROM embeddings)"
    )


#: hard-sigmoid in pure fixed point: p6 = clamp(5e5 + z_int/4e4, 0, 1e6).
#: z_int is scaled 1e10 (w:1e6 × x:1e4), so z_int // 40000 is (z/4)·1e6 —
#: truncating integer division, NO transcendentals, NO float ops at all.
_P6 = (
    f"LEAST({_LR_WS}, GREATEST(0, {_LR_WS // 2} + (({{zsum}}) // (4 * {_LR_XS}))))"
)


def _lr_iter_sql(prev: str, cur: str) -> str:
    """One unrolled GD step: z from exact BIGINT dot product, hard-sigmoid
    in truncating integer division (Spark DIV == DuckDB //, probed on
    negatives), gradient sums exact BIGINT."""
    zsum = " + ".join(f"w.w{j} * f.x{j}" for j in range(5))
    grads = ", ".join(
        f"CAST(SUM((p6 - y * {_LR_WS}) * x{j}) AS BIGINT) AS g{j}" for j in range(5)
    )
    upd = ", ".join(f"w.w{j} - (g.g{j} // (g.n * {_LR_XS})) AS w{j}" for j in range(5))
    return f"""
s_{cur} AS (
  SELECT f.*, {_P6.format(zsum=zsum)} AS p6
  FROM feat f CROSS JOIN {prev} w),
g_{cur} AS (SELECT {grads}, CAST(COUNT(*) AS BIGINT) AS n FROM s_{cur}),
{cur} AS (SELECT {upd} FROM {prev} w CROSS JOIN g_{cur} g)"""


_LR_SQL = (
    "WITH "
    + _lr_feat_sql()
    + ",\nw0_t AS (SELECT "
    + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(5))
    + "),"
    + ",".join(_lr_iter_sql(f"w{i}_t", f"w{i + 1}_t") for i in range(_LR_ITERS))
    + f""",
final_scored AS (
  SELECT f.y, {_P6.format(zsum=" + ".join(f"w.w{j} * f.x{j}" for j in range(5)))} AS p6
  FROM feat f CROSS JOIN w{_LR_ITERS}_t w),
metrics AS (
  SELECT CAST(SUM(CASE WHEN (p6 >= {_LR_WS} // 2) = (y = 1) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct,
         CAST(COUNT(*) AS BIGINT) AS n FROM final_scored),
wide AS (SELECT * FROM w{_LR_ITERS}_t)
SELECT j.feature_idx,
       CASE j.feature_idx {" ".join(f"WHEN {j} THEN w.w{j}" for j in range(5))} END AS w_fp,
       ROUND(CAST(CASE j.feature_idx {" ".join(f"WHEN {j} THEN w.w{j}" for j in range(5))} END
                  AS DOUBLE) / {_LR_WS}, 6) AS weight,
       m.n_correct,
       ROUND(CAST(m.n_correct AS DOUBLE) / CAST(m.n AS DOUBLE), 6) AS accuracy
FROM (SELECT CAST(unnest(range(0, 5)) AS BIGINT) AS feature_idx) j
CROSS JOIN wide w CROSS JOIN metrics m
ORDER BY feature_idx
"""
)


def _lr_fit(spark: SparkSession, sf_dir: str):
    """Shared hard-sigmoid GD fit: returns (persisted feature frame,
    1-row weight frame after _LR_ITERS steps, p6 column factory)."""
    from logflow.operators.cache import track

    emb = load_table(spark, "embeddings", sf_dir)
    term = lambda e: F.round(e.cast("double") * _LR_XS, 0).cast("long")  # noqa: E731
    block = lambda j: F.aggregate(  # noqa: E731
        F.slice("embedding", 16 * j + 1, 16),
        F.lit(0).cast("long"),
        lambda a, e: a + term(e),
    ).alias(f"x{j + 1}")
    # repartition(4), NOT coalesce(4): coalesce collapses the parquet scan
    # + HOF block-sum build itself to 4 tasks; repartition keeps the build
    # at full scan width and only the cached frame (rows × 6 longs, tiny)
    # lands in 4 partitions, so the 4 downstream GD passes avoid 32-task
    # scheduling overhead without serializing the expensive pass. Eager
    # (count()) so the build runs ONCE as its own job instead of inside
    # the first broadcast-exchange job of the GD chain.
    feat = track(
        emb.select(
            "vec_id",
            (F.col("label") >= 5).cast("long").alias("y"),
            F.lit(_LR_XS).cast("long").alias("x0"),
            *[block(j) for j in range(4)],
        )
        .repartition(4)
        .persist()
    )
    feat.count()

    def p6_col() -> F.Column:
        zsum = " + ".join(f"w{j} * x{j}" for j in range(5))
        return F.expr(
            f"LEAST({_LR_WS}L, GREATEST(0L, {_LR_WS // 2}L"
            f" + (({zsum}) DIV (4 * {_LR_XS}))))"
        ).cast("long")

    w = spark.createDataFrame([tuple(0 for _ in range(5))], "w0 long, w1 long, w2 long, w3 long, w4 long")
    for _ in range(_LR_ITERS):
        scored = feat.crossJoin(F.broadcast(w)).withColumn("p6", p6_col())
        g = scored.agg(
            *[
                F.sum((F.col("p6") - F.col("y") * _LR_WS) * F.col(f"x{j}")).alias(f"g{j}")
                for j in range(5)
            ],
            F.count(F.lit(1)).alias("n"),
        )
        w = (
            w.crossJoin(F.broadcast(g))
            .select(
                *[
                    F.expr(f"w{j} - (g{j} DIV (n * {_LR_XS}))").alias(f"w{j}")
                    for j in range(5)
                ]
            )
        )
    return feat, w, p6_col


@register(
    "ml_logreg_gd",
    _LR_SQL,
    doc="Logistic-surrogate classifier trained IN-ENGINE by 3 unrolled "
    "full-batch gradient-descent steps over embedding block-sum "
    "features (4 blocks of 16 dims + bias), predicting label>=5, with "
    "the HARD sigmoid p = clamp(0.5 + z/4, 0, 1) (the piecewise-linear "
    "surrogate quantized training uses). The entire fit — features, "
    "activation, gradients, updates — is INTEGER arithmetic end to "
    "end: per-element-rounded 1e4-scale feature sums, exact BIGINT dot "
    "products, the activation and the weight update as truncating "
    "integer division (Spark DIV == DuckDB //, probed on negatives). "
    "Zero float ops means zero ulp exposure — a smooth-sigmoid variant "
    "was measured to drift one fixed-point unit at sf0.01 from a "
    "single exp() ulp flip; this formulation cannot (the PageRank "
    "recipe applied to supervised training). At 100 TB: each step is "
    "one broadcast of "
    "the 1-row weight vector + one map-side-combined gradient "
    "aggregate — no shuffle of the feature table at all, and the "
    "feature build is a single pass over the corpus (persisted once "
    "for all steps). Gradient magnitudes bound |r·x| ≤ 3e10/row, so "
    "BIGINT sums hold to ~3e8 rows/partition aggregate; past that the "
    "partial sums widen to DECIMAL(38,0) with identical semantics.",
)
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat, w, p6_col = _lr_fit(spark, sf_dir)
    final = feat.crossJoin(F.broadcast(w)).withColumn("p6", p6_col())
    metrics = final.agg(
        F.sum(
            F.when((F.col("p6") >= _LR_WS // 2) == (F.col("y") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        F.count(F.lit(1)).alias("n"),
    )
    j = spark.range(0, 5).select(F.col("id").cast("long").alias("feature_idx"))
    w_fp = F.expr(
        "CASE feature_idx "
        + " ".join(f"WHEN {k} THEN w{k}" for k in range(5))
        + " END"
    )
    return (
        j.crossJoin(F.broadcast(w))
        .crossJoin(F.broadcast(metrics))
        .select(
            "feature_idx",
            w_fp.alias("w_fp"),
            F.round(w_fp.cast("double") / _LR_WS, 6).alias("weight"),
            F.col("n_correct").cast("long").alias("n_correct"),
            F.round(F.col("n_correct").cast("double") / F.col("n").cast("double"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("feature_idx")
    )


_CAL_SQL = (
    "WITH "
    + _lr_feat_sql()
    + ",\nw0_t AS (SELECT "
    + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(5))
    + "),"
    + ",".join(_lr_iter_sql(f"w{i}_t", f"w{i + 1}_t") for i in range(_LR_ITERS))
    + f""",
final_scored AS (
  SELECT f.y, {_P6.format(zsum=" + ".join(f"w.w{j} * f.x{j}" for j in range(5)))} AS p6
  FROM feat f CROSS JOIN w{_LR_ITERS}_t w)
SELECT LEAST(9, p6 // 100000) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(p6) AS DOUBLE) / CAST(COUNT(*) * {_LR_WS} AS DOUBLE), 6)
         AS mean_pred,
       ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS obs_rate
FROM final_scored
GROUP BY LEAST(9, p6 // 100000)
ORDER BY bin
"""
)


@register(
    "ml_calibration_bins",
    _CAL_SQL,
    doc="Reliability diagram (calibration bins) for the hard-sigmoid GD "
    "classifier: the fitted model's predicted probabilities are decile-"
    "binned in fixed point (p6 // 1e5, integer-exact bin edges) and "
    "each bin reports mean predicted probability vs observed positive "
    "rate — the standard screen for over/under-confidence before a "
    "model's scores gate a data pipeline. Shares the exact integer fit "
    "with ml_logreg_gd (same unrolled steps, same persisted feature "
    "frame), so the oracle re-derives identical weights; bin sums are "
    "exact BIGINT and both output ratios are single identical IEEE "
    "divisions. At 100 TB: scoring is map-side (broadcast weights); "
    "the only shuffle is the 10-bin aggregate.",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat, w, p6_col = _lr_fit(spark, sf_dir)
    scored = feat.crossJoin(F.broadcast(w)).withColumn("p6", p6_col())
    return (
        scored.groupBy(
            F.least(F.lit(9), F.expr("p6 DIV 100000")).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum("p6").cast("double")
                / (F.count(F.lit(1)) * _LR_WS).cast("double"),
                6,
            ).alias("mean_pred"),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("obs_rate"),
        )
        .orderBy("bin")
    )


_PCA_ITERS = 3
_PCA_XS = 10_000  # element fixed-point scale
_PCA_WS = 1_000_000  # eigenvector fixed-point scale


def _pca_iter_sql(prev: str, cur: str) -> str:
    """One power-iteration step y = Aᵀ(Aw) in pure BIGINT: the row
    projection s is down-scaled by the element scale to keep the second
    product within int64 at any corpus size; normalization is max-abs
    (integer division), not L2 — power iteration converges under any
    positive rescaling and integer ops keep it bit-stable."""
    return f"""
s_{cur} AS (
  SELECT el.vec_id, CAST(SUM(el.v * w.wv) AS BIGINT) // {_PCA_XS} AS s
  FROM el JOIN {prev} w ON el.d = w.d GROUP BY el.vec_id),
y_{cur} AS (
  SELECT el.d, CAST(SUM(s_{cur}.s * el.v) AS BIGINT) AS y
  FROM el JOIN s_{cur} ON el.vec_id = s_{cur}.vec_id GROUP BY el.d),
m_{cur} AS (SELECT GREATEST(1, MAX(ABS(y)) // {_PCA_WS}) AS m FROM y_{cur}),
{cur} AS (SELECT d, y // m AS wv FROM y_{cur} CROSS JOIN m_{cur})"""


_PCA_SQL = (
    """WITH el AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000, 0) AS BIGINT) AS v
  FROM embeddings),
w0_p AS (SELECT unnest(range(1, 65)) AS d, CAST(1000000 AS BIGINT) AS wv),"""
    + ",".join(_pca_iter_sql(f"w{i}_p", f"w{i + 1}_p") for i in range(_PCA_ITERS))
    + f"""
SELECT CAST(d AS BIGINT) AS dim, CAST(wv AS BIGINT) AS w_fp,
       ROUND(CAST(wv AS DOUBLE)
             / (SELECT MAX(ABS(wv)) FROM w{_PCA_ITERS}_p), 6) AS component
FROM w{_PCA_ITERS}_p
ORDER BY dim
"""
)


@register(
    "ml_pca_power_iteration",
    _PCA_SQL,
    doc="Dominant principal direction of the embedding corpus by 3 "
    "unrolled POWER-ITERATION steps, computed as y = Aᵀ(Aw) — two "
    "matrix-vector passes over the long-form (vec, dim, value) table, "
    "NEVER materializing the 64×64 covariance (the formulation that "
    "survives when dims are 4096 and the Gram matrix is the thing you "
    "can't afford). Entirely BIGINT fixed point: elements rounded once "
    "to 1e4 scale, the row projection down-scaled before the second "
    "product so every sum fits int64 at any corpus size, max-abs "
    "integer normalization per step — bit-stable cross-engine like "
    "PageRank and ml_logreg_gd (zero float ops until the final display "
    "division). At 100 TB: each step is one broadcast of the 64-row "
    "vector + two map-side-combined aggregates over the persisted "
    "long-form table; the fact data never shuffles.",
)
def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.cache import track

    emb = load_table(spark, "embeddings", sf_dir)
    el = track(
        emb.select(
            "vec_id", F.posexplode("embedding").alias("p", "e")
        )
        .select(
            "vec_id",
            (F.col("p") + 1).alias("d"),
            F.round(F.col("e").cast("double") * _PCA_XS, 0).cast("long").alias("v"),
        )
        .coalesce(4)
        .persist()
    )
    w = spark.range(1, 65).select(
        F.col("id").alias("d"), F.lit(_PCA_WS).cast("long").alias("wv")
    )
    for _ in range(_PCA_ITERS):
        s = (
            el.join(F.broadcast(w), "d")
            .groupBy("vec_id")
            .agg(F.expr(f"CAST(SUM(v * wv) AS BIGINT) DIV {_PCA_XS}").alias("s"))
        )
        y = (
            # broadcast the per-vector projections (one row per vec_id,
            # bounded by the embedding corpus) instead of shuffling the
            # persisted element table on vec_id every iteration
            el.join(F.broadcast(s), "vec_id")
            .groupBy("d")
            .agg(F.sum(F.col("s") * F.col("v")).cast("long").alias("y"))
        )
        # y is referenced TWICE per iteration (the max-abs normalizer and
        # the weight rebuild), so a lazy chain doubles the embedded plan
        # per iteration — 201 static Exchanges measured at 3 iterations.
        # y is 64 rows by construction: eager-checkpoint it (the r10
        # bounded-frame rule), which also truncates the lineage the next
        # iteration's broadcast re-expands.
        y = y.coalesce(1).localCheckpoint(eager=True)
        m = y.agg(
            F.greatest(F.lit(1).cast("long"), F.expr(f"MAX(ABS(y)) DIV {_PCA_WS}")).alias("m")
        )
        w = y.crossJoin(F.broadcast(m)).select(
            "d", F.expr("y DIV m").cast("long").alias("wv")
        )
    mx = w.agg(F.max(F.abs(F.col("wv"))).alias("mx"))
    return (
        w.crossJoin(F.broadcast(mx))
        .select(
            F.col("d").cast("long").alias("dim"),
            F.col("wv").cast("long").alias("w_fp"),
            F.round(F.col("wv").cast("double") / F.col("mx").cast("double"), 6).alias(
                "component"
            ),
        )
        .orderBy("dim")
    )


@register(
    "ml_decision_stump",
    """
WITH ev AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
         user_id % 10 AS uid_mod,
         CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
  FROM events),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos FROM ev),
feat AS (
  SELECT 'hour' AS feature, hour AS fv, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(y) AS BIGINT) AS p FROM ev GROUP BY hour
  UNION ALL
  SELECT 'uid_mod', uid_mod, CAST(COUNT(*) AS BIGINT), CAST(SUM(y) AS BIGINT)
  FROM ev GROUP BY uid_mod),
cum AS (
  SELECT feature, fv AS threshold,
         CAST(SUM(cnt) OVER w AS BIGINT) AS n_left,
         CAST(SUM(p) OVER w AS BIGINT) AS pos_left
  FROM feat
  WINDOW w AS (PARTITION BY feature ORDER BY fv
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
scored AS (
  SELECT feature, threshold, n_left, pos_left,
         n - n_left AS n_right, pos - pos_left AS pos_right,
         (CAST(n_left AS DOUBLE) / CAST(n AS DOUBLE))
           * (1 - (CAST(pos_left AS DOUBLE) / CAST(n_left AS DOUBLE))
                   * (CAST(pos_left AS DOUBLE) / CAST(n_left AS DOUBLE))
                 - (CAST(n_left - pos_left AS DOUBLE) / CAST(n_left AS DOUBLE))
                   * (CAST(n_left - pos_left AS DOUBLE) / CAST(n_left AS DOUBLE)))
         + (CAST(n - n_left AS DOUBLE) / CAST(n AS DOUBLE))
           * (1 - (CAST(pos - pos_left AS DOUBLE) / CAST(n - n_left AS DOUBLE))
                   * (CAST(pos - pos_left AS DOUBLE) / CAST(n - n_left AS DOUBLE))
                 - (CAST((n - n_left) - (pos - pos_left) AS DOUBLE)
                    / CAST(n - n_left AS DOUBLE))
                   * (CAST((n - n_left) - (pos - pos_left) AS DOUBLE)
                      / CAST(n - n_left AS DOUBLE)))
           AS gini
  FROM cum CROSS JOIN tot
  WHERE n_left > 0 AND n - n_left > 0)
SELECT feature, threshold, n_left, pos_left, n_right, pos_right,
       ROUND(gini, 6) AS gini_split,
       CAST(ROW_NUMBER() OVER (ORDER BY ROUND(gini, 6), feature, threshold)
            AS BIGINT) AS pos
FROM scored
ORDER BY pos
""",
    doc="Decision-stump training in-engine: the best binary split over "
    "two integer features (event hour, user-id mod bucket) by weighted "
    "Gini impurity — the primitive inside every boosted-tree fit, as "
    "pure DataFrame algebra. The threshold sweep is NOT a per-threshold "
    "scan: per-feature value histograms (one shuffle) turn into every "
    "candidate split's left/right counts via a cumulative window — the "
    "histogram trick XGBoost uses, O(distinct values) not O(n·thresholds). "
    "Degenerate splits (empty side) are excluded exactly in both "
    "engines. Determinism: all counts are exact BIGINTs; the Gini "
    "expression is the identical parenthesized IEEE sequence on both "
    "sides, ROUNDed once at 6 dp, and the ranking tiebreaks on "
    "(feature, threshold). At 100 TB: one partial-agg pass over the "
    "fact table per feature + vocabulary-sized window work; the model "
    "(best split) is the top row of a ~34-row frame.",
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        F.hour("ts").cast("long").alias("hour"),
        (F.col("user_id") % 10).alias("uid_mod"),
        F.when(F.col("value") > 50, 1).otherwise(0).alias("y"),
    )
    tot = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    feat = (
        ev.groupBy(F.lit("hour").alias("feature"), F.col("hour").alias("fv"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"), F.sum("y").cast("long").alias("p"))
        .unionByName(
            ev.groupBy(F.lit("uid_mod").alias("feature"), F.col("uid_mod").alias("fv"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.sum("y").cast("long").alias("p"),
            )
        )
    )
    w = (
        Window.partitionBy("feature")
        .orderBy("fv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = feat.select(
        "feature",
        F.col("fv").alias("threshold"),
        F.sum("cnt").over(w).cast("long").alias("n_left"),
        F.sum("p").over(w).cast("long").alias("pos_left"),
    )
    d = F.col("n").cast("double")
    nl = F.col("n_left").cast("double")
    pl = F.col("pos_left").cast("double")
    nr = (F.col("n") - F.col("n_left")).cast("double")
    pr = (F.col("pos") - F.col("pos_left")).cast("double")
    gini = (nl / d) * (
        1 - (pl / nl) * (pl / nl) - ((nl - pl) / nl) * ((nl - pl) / nl)
    ) + (nr / d) * (
        1 - (pr / nr) * (pr / nr) - ((nr - pr) / nr) * ((nr - pr) / nr)
    )
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .filter((F.col("n_left") > 0) & (F.col("n") - F.col("n_left") > 0))
        .select(
            "feature",
            "threshold",
            "n_left",
            "pos_left",
            (F.col("n") - F.col("n_left")).cast("long").alias("n_right"),
            (F.col("pos") - F.col("pos_left")).cast("long").alias("pos_right"),
            F.round(gini, 6).alias("gini_split"),
        )
    )
    return scored.withColumn(
        "pos",
        F.row_number()
        .over(Window.orderBy("gini_split", "feature", "threshold"))
        .cast("long"),
    ).orderBy("pos")


@register(
    "ml_feature_hashing",
    rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS tok
  FROM documents),
hashed AS (
  SELECT doc_id, tok,
         CAST({md5_int("tok", duck=True)} % 64 AS BIGINT) AS bucket
  FROM tok)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM hashed
GROUP BY bucket
ORDER BY bucket
""",
    doc="Hashing-trick featurization (Weinberger et al. 2009): every "
    "token maps to one of 64 feature buckets via the first 8 hex chars "
    "of md5 (the repo's only cross-engine hash) — the fixed-width, "
    "vocabulary-free encoding that turns unbounded text into a "
    "trainable feature space with zero global state (no vocab build, "
    "no dictionary shuffle — THE property that matters at 100 TB: "
    "featurization is embarrassingly map-side, one partial-agg shuffle "
    "for the bucket stats). Collision pressure is observable as "
    "n_distinct_tokens per bucket. Bucket ids are exact integer md5 "
    "prefixes mod 64 in both engines.",
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    hashed = tok.withColumn(
        "bucket",
        F.expr(md5_int("tok")) % 64,
    )
    return (
        hashed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("tok").cast("long").alias("n_distinct_tokens"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy("bucket")
    )


@register(
    "ml_target_encoding_kfold",
    """
WITH o AS (
  SELECT o_orderpriority AS key, o_orderkey % 5 AS fold,
         CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) AS y
  FROM orders),
per_fold AS (
  SELECT key, fold, CAST(COUNT(*) AS BIGINT) AS n_fold,
         SUM(y) AS sum_fold
  FROM o GROUP BY key, fold),
per_key AS (
  SELECT key, CAST(SUM(n_fold) AS BIGINT) AS n_key,
         SUM(sum_fold) AS sum_key
  FROM per_fold GROUP BY key)
SELECT f.key, CAST(f.fold AS BIGINT) AS fold, f.n_fold,
       ROUND(CAST(k.sum_key - f.sum_fold AS DOUBLE)
             / CAST(k.n_key - f.n_fold AS BIGINT), 6) AS target_enc
FROM per_fold f JOIN per_key k ON f.key = k.key
WHERE k.n_key > f.n_fold
ORDER BY f.key, fold
""",
    doc="Leakage-free K-fold target encoding — the categorical encoding "
    "every tabular-ML pipeline needs, built so a row NEVER sees its own "
    "fold's target: encoding(key, fold) = mean of y over the key's "
    "OTHER four folds, computed as (sum_key - sum_fold)/(n_key - "
    "n_fold) from ONE per-(key,fold) partial aggregate — the "
    "subtraction trick that makes K-fold encoding one shuffle instead "
    "of K self-joins (the property that matters at 100 TB; the "
    "per-key rollup is vocabulary-sized). Exact DECIMAL sums make both "
    "numerator and denominator bit-identical cross-engine; one IEEE "
    "division, ROUNDed once. Keys whose rows all sit in one fold drop "
    "out identically in both engines (no other-fold data to encode "
    "from).",
)
def ml_target_encoding_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderpriority").alias("key"),
        (F.col("o_orderkey") % 5).alias("fold"),
        F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)").alias("y"),
    )
    per_fold = o.groupBy("key", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_fold"),
        F.sum("y").alias("sum_fold"),
    )
    per_key = per_fold.groupBy("key").agg(
        F.sum("n_fold").cast("long").alias("n_key"),
        F.sum("sum_fold").alias("sum_key"),
    )
    return (
        per_fold.join(per_key, "key")
        .filter(F.col("n_key") > F.col("n_fold"))
        .select(
            "key",
            F.col("fold").cast("long").alias("fold"),
            "n_fold",
            F.round(
                (F.col("sum_key") - F.col("sum_fold")).cast("double")
                / (F.col("n_key") - F.col("n_fold")).cast("long"),
                6,
            ).alias("target_enc"),
        )
        .orderBy("key", "fold")
    )


#: NDCG@10 discount weights 1/log2(pos+1), fixed-point micros — computed
#: once in Python, inlined as the SAME integer literals into both engines
#: (integer sums are order-independent; a float DCG sum would be engine-
#: summation-order-dependent). _NDCG_IDCG[r] = prefix sum = ideal DCG for
#: r relevant items.
_NDCG_DISC = [
    (1, 1000000), (2, 630930), (3, 500000), (4, 430677), (5, 386853),
    (6, 356207), (7, 333333), (8, 315465), (9, 301030), (10, 289065),
]
_NDCG_IDCG = [
    (1, 1000000), (2, 1630930), (3, 2130930), (4, 2561607), (5, 2948460),
    (6, 3304667), (7, 3638000), (8, 3953465), (9, 4254495), (10, 4543560),
]
_NDCG_W_MIN = 2  # train-graph edge weight floor (same as link prediction)


def _values_sql(rows: list[tuple[int, int]], names: str) -> str:
    body = ", ".join(f"({a}, {b})" for a, b in rows)
    return f"(VALUES {body}) AS {names}"


@register(
    "ml_ndcg_link_prediction",
    f"""
WITH tr AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_orderkey % 2 = 0),
te AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       FROM lineitem WHERE l_orderkey % 2 = 1),
e_tr AS (SELECT a.p AS u, b.p AS v
         FROM tr a JOIN tr b ON a.o = b.o AND a.p < b.p
         GROUP BY a.p, b.p HAVING COUNT(*) >= {_NDCG_W_MIN}),
adj AS (SELECT u, v FROM e_tr UNION ALL SELECT v AS u, u AS v FROM e_tr),
e_te AS (SELECT DISTINCT a.p AS u, b.p AS v
         FROM te a JOIN te b ON a.o = b.o AND a.p < b.p),
cand AS (SELECT a.u AS q, b.v AS c, CAST(COUNT(*) AS BIGINT) AS cn
         FROM adj a JOIN adj b ON a.v = b.u AND a.u <> b.v
         GROUP BY a.u, b.v),
nonedge AS (SELECT cand.q, cand.c, cand.cn FROM cand
            LEFT JOIN adj ON adj.u = cand.q AND adj.v = cand.c
            WHERE adj.u IS NULL),
scored AS (SELECT q, c, cn,
                  CASE WHEN t.u IS NOT NULL THEN 1 ELSE 0 END AS rel,
                  ROW_NUMBER() OVER (PARTITION BY q ORDER BY cn DESC, c) AS rn
           FROM nonedge LEFT JOIN e_te t
             ON t.u = LEAST(q, c) AND t.v = GREATEST(q, c)),
per_q AS (SELECT q,
                 CAST(SUM(CASE WHEN rn <= 10 THEN rel * d.disc ELSE 0 END)
                      AS BIGINT) AS dcg_fp,
                 CAST(SUM(rel) AS BIGINT) AS n_rel
          FROM scored LEFT JOIN {_values_sql(_NDCG_DISC, 'd(pos, disc)')}
            ON d.pos = rn
          GROUP BY q),
nd AS (SELECT q,
              CAST(ROUND(CAST(dcg_fp AS DOUBLE) / CAST(g.idcg_fp AS DOUBLE)
                         * 1000000, 0) AS BIGINT) AS ndcg_fp
       FROM per_q JOIN {_values_sql(_NDCG_IDCG, 'g(r, idcg_fp)')}
         ON g.r = LEAST(n_rel, 10)
       WHERE n_rel >= 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       ROUND(CAST(SUM(ndcg_fp) AS DOUBLE)
             / CAST(NULLIF(COUNT(*), 0) AS DOUBLE) / 1000000.0, 6) AS mean_ndcg10,
       CAST(SUM(CASE WHEN ndcg_fp = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_perfect,
       CAST(SUM(CASE WHEN ndcg_fp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM nd
""",
    doc="NDCG@10 evaluation of the common-neighbor link-prediction "
    "recommender against a TEMPORAL-style holdout — the measure-before-"
    "you-ship loop for 'also bought' models: the co-purchase graph is "
    "split by order parity (train = even orderkeys, weight floor "
    f"{_NDCG_W_MIN}; test = odd), candidates are distance-2 non-edges "
    "ranked per query part by common-neighbor count, and a candidate is "
    "RELEVANT if the pair actually co-occurs in a held-out order. "
    "DCG discounts 1/log2(pos+1) are PRECOMPUTED fixed-point micros "
    "inlined identically into both engines, so per-query DCG/IDCG are "
    "exact integer sums (order-independent — a float DCG would drift "
    "on engine summation order); per-query NDCG is one IEEE division "
    "of identical operands, re-fixed to micros before the corpus-level "
    "mean (the text_zipf_fit recipe). Queries with no held-out positive "
    "are excluded (standard). At 100 TB: wedge-join candidate "
    "generation is the bounded-degree machinery of "
    "graph_link_prediction; the discount/IDCG tables are 10-row "
    "broadcasts; the per-query window orders candidate lists, never "
    "the corpus.",
)
def ml_ndcg_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.cache import track

    # parallelize=False: the groupBy right below supplies the downstream
    # parallelism (the _copurchase_edges r13 rule)
    li = load_table(spark, "lineitem", sf_dir, parallelize=False)
    # ONE order-keyed shuffle replaces the old 600k-row (o,p) DISTINCT plus
    # two two-sided self-joins on o: collect_set dedupes parts within each
    # order (same effect as the distinct for per-order pair generation) and
    # the pair fan-out is a map-side arrays explosion bounded by
    # parts-per-order (the _copurchase_edges layout, graph.py)
    ppo = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .groupBy("o")
        .agg(F.collect_set("p").alias("ps"))
    )
    ppo = track(ppo.persist())
    ppo.count()  # consumers: train pair agg, test pair probe

    def _pairs(df):  # distinct per-order unordered pairs (u < v), map-side
        return (
            df.select(F.explode("ps").alias("u"), "ps")
            .select("u", F.explode("ps").alias("v"))
            .filter(F.col("u") < F.col("v"))
        )

    e_tr = (
        _pairs(ppo.filter(F.col("o") % 2 == 0))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _NDCG_W_MIN)
        .select("u", "v")
    )
    # edge-scale and bounded by the weight floor — eager checkpoint
    # truncates the fact-scan lineage feeding the three wedge/anti
    # consumers (static plan was 70 Exchange nodes under lazy persist)
    adj = e_tr.unionByName(
        e_tr.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).coalesce(1).localCheckpoint(eager=True)
    cand = (
        adj.select(F.col("u").alias("q"), F.col("v").alias("mid"))
        .join(adj.select(F.col("u").alias("mid"), F.col("v").alias("c")), "mid")
        .filter(F.col("q") != F.col("c"))
        .groupBy("q", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    nonedge = cand.join(
        adj.select(F.col("u").alias("q"), F.col("v").alias("c")),
        ["q", "c"],
        "left_anti",
    ).localCheckpoint(eager=True)
    # the held-out pairs only matter where they hit a candidate: probe the
    # map-side test-pair stream with the BROADCAST candidate set instead of
    # materializing the full distinct test-pair table (a 600k-row shuffle
    # whose output fed one semi-lookup); the inner join keeps <=|cand| rows
    # so the dedup distinct is trivial
    cand_keys = nonedge.select(
        F.least("q", "c").alias("eu"),
        F.greatest("q", "c").alias("ev"),
        "q",
        "c",
    )
    hits = (
        _pairs(ppo.filter(F.col("o") % 2 == 1))
        .join(
            F.broadcast(cand_keys),
            (F.col("u") == F.col("eu")) & (F.col("v") == F.col("ev")),
        )
        .select("q", "c")
        .distinct()
        .withColumn("rel_hit", F.lit(1))
    )
    w = Window.partitionBy("q").orderBy(F.desc("cn"), "c")
    scored = (
        nonedge.join(hits, ["q", "c"], "left_outer")
        .select(
            "q",
            "c",
            "cn",
            F.when(F.col("rel_hit").isNotNull(), 1).otherwise(0).alias("rel"),
        )
        .withColumn("rn", F.row_number().over(w))
    )
    d = F.broadcast(
        spark.createDataFrame(_NDCG_DISC, "pos int, disc long")
    )
    per_q = (
        scored.join(d, scored.rn == d.pos, "left_outer")
        .groupBy("q")
        .agg(
            F.sum(
                F.when(F.col("rn") <= 10, F.col("rel") * F.col("disc")).otherwise(0)
            )
            .cast("long")
            .alias("dcg_fp"),
            F.sum("rel").cast("long").alias("n_rel"),
        )
    )
    g = F.broadcast(spark.createDataFrame(_NDCG_IDCG, "r int, idcg_fp long"))
    nd = (
        per_q.filter(F.col("n_rel") >= 1)
        .join(g, g.r == F.least(F.col("n_rel"), F.lit(10)))
        .select(
            F.round(
                F.col("dcg_fp").cast("double")
                / F.col("idcg_fp").cast("double")
                * 1000000,
                0,
            )
            .cast("long")
            .alias("ndcg_fp")
        )
    )
    return nd.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.sum("ndcg_fp").cast("double")
            / F.nullif(F.count(F.lit(1)), F.lit(0)).cast("double")
            / 1000000.0,
            6,
        ).alias("mean_ndcg10"),
        F.sum(F.when(F.col("ndcg_fp") == 1000000, 1).otherwise(0))
        .cast("long")
        .alias("n_perfect"),
        F.sum(F.when(F.col("ndcg_fp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero"),
    )


# --------------------------------------------------------------------------
# Isotonic calibration (pool-adjacent-violators) over the GD classifier's
# reliability bins — the monotone regression that turns a miscalibrated
# score into a calibrated probability (Zadrozny-Elkan 2002).
# --------------------------------------------------------------------------

_ISO_SCALE = 10**12


def _iso_tail_sql() -> str:
    return f"""
bins AS (SELECT LEAST(9, p6 // 100000) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(y) AS BIGINT) AS pos
         FROM final_scored GROUP BY LEAST(9, p6 // 100000)),
pre AS (SELECT bin, n, pos,
               CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS ord,
               CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
               CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
        FROM bins),
pre0 AS (SELECT ord, cn, cp FROM pre
         UNION ALL
         SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
rngs AS (SELECT j.ord AS jm, k.ord AS ko,
                ((k.cp - j.cp) * {_ISO_SCALE}) // (k.cn - j.cn) AS r_fp
         FROM pre0 j JOIN pre0 k ON k.ord > j.ord),
mins AS (SELECT i.ord AS io, r.jm, MIN(r.r_fp) AS mn
         FROM rngs r JOIN pre i ON r.jm < i.ord AND r.ko >= i.ord
         GROUP BY i.ord, r.jm),
iso AS (SELECT io, CAST(MAX(mn) AS BIGINT) AS iso_fp FROM mins GROUP BY io)
SELECT p.bin, p.n, p.pos,
       ROUND(CAST(p.pos AS DOUBLE) / CAST(p.n AS DOUBLE), 6) AS raw_rate,
       ROUND(CAST(iso_fp AS DOUBLE) / {_ISO_SCALE}.0, 6) AS iso_rate
FROM pre p JOIN iso ON iso.io = p.ord
ORDER BY p.bin
"""


_ISO_SQL = (
    "WITH "
    + _lr_feat_sql()
    + ",\nw0_t AS (SELECT "
    + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(5))
    + "),"
    + ",".join(_lr_iter_sql(f"w{i}_t", f"w{i + 1}_t") for i in range(_LR_ITERS))
    + f""",
final_scored AS (
  SELECT f.y, {_P6.format(zsum=" + ".join(f"w.w{j} * f.x{j}" for j in range(5)))} AS p6
  FROM feat f CROSS JOIN w{_LR_ITERS}_t w),"""
    + _iso_tail_sql()
)


@register(
    "ml_isotonic_calibration",
    _ISO_SQL,
    doc="Isotonic (monotone non-decreasing) calibration of the GD "
    "classifier's decile bins via the MINIMAX identity for pool-"
    "adjacent-violators (Robertson-Wright-Dykstra 1988: iso(i) = "
    "max_{j<=i} min_{k>=i} mean(j..k)) — PAV without iteration, exactly "
    "right for the bounded bin domain. Every range mean is an exact "
    "integer prefix-sum fraction FLOOR-SCALED to 1e12 fixed point "
    "((S·1e12) // C, truncating division both engines), so the minimax "
    "runs on exact integers and the reported iso_rate is a pure integer "
    "function of the data — no float comparison anywhere (two fractions "
    "within 1e-12 tie deterministically). Completes the "
    "ml_calibration_bins story: raw reliability next to the calibrated "
    "monotone fit. At 100 TB: the bin rollup is the only fact-scale "
    "aggregate (map-side combined); the O(B^3) minimax runs on B=10 "
    "bins — constant work, in-plan (never collected).",
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.cache import track

    feat, w, p6_col = _lr_fit(spark, sf_dir)
    scored = feat.crossJoin(F.broadcast(w)).withColumn("p6", p6_col())
    bins = scored.groupBy(
        F.least(F.lit(9), F.expr("p6 DIV 100000")).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    # <=10-row frame from here on: the global window and the range self-
    # join are constant-bounded (B=10 bins), never fact-scale
    wo = Window.orderBy("bin")
    pre = bins.select(
        "bin",
        "n",
        "pos",
        F.row_number().over(wo).cast("long").alias("ord"),
        F.sum("n").over(wo).cast("long").alias("cn"),
        F.sum("pos").over(wo).cast("long").alias("cp"),
    )
    pre = track(pre.coalesce(1).persist())
    pre.count()
    zero = pre.sparkSession.range(1).select(
        F.lit(0).cast("long").alias("ord"),
        F.lit(0).cast("long").alias("cn"),
        F.lit(0).cast("long").alias("cp"),
    )
    pre0 = pre.select("ord", "cn", "cp").unionByName(zero)
    j = pre0.select(
        F.col("ord").alias("jm"), F.col("cn").alias("jcn"), F.col("cp").alias("jcp")
    )
    k = pre0.select(
        F.col("ord").alias("ko"), F.col("cn").alias("kcn"), F.col("cp").alias("kcp")
    )
    rngs = j.join(k, F.col("ko") > F.col("jm")).select(
        "jm",
        "ko",
        F.expr(f"((kcp - jcp) * {_ISO_SCALE}) DIV (kcn - jcn)").alias("r_fp"),
    )
    idx = pre.select(F.col("ord").alias("io"))
    mins = (
        rngs.join(idx, (F.col("jm") < F.col("io")) & (F.col("ko") >= F.col("io")))
        .groupBy("io", "jm")
        .agg(F.min("r_fp").alias("mn"))
    )
    iso = mins.groupBy("io").agg(F.max("mn").cast("long").alias("iso_fp"))
    return (
        pre.join(iso, pre["ord"] == iso["io"])
        .select(
            "bin",
            "n",
            "pos",
            F.round(
                F.col("pos").cast("double") / F.col("n").cast("double"), 6
            ).alias("raw_rate"),
            F.round(F.col("iso_fp").cast("double") / float(_ISO_SCALE), 6).alias(
                "iso_rate"
            ),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# ROC curve points for the GD classifier — the threshold sweep behind the
# single-number AUC (auc_label_separability) that shows WHERE the score
# separates.
# --------------------------------------------------------------------------

_ROC_STEP = 100_000  # threshold grid step in p6 fixed point (deciles)


_ROC_SQL = (
    "WITH "
    + _lr_feat_sql()
    + ",\nw0_t AS (SELECT "
    + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(5))
    + "),"
    + ",".join(_lr_iter_sql(f"w{i}_t", f"w{i + 1}_t") for i in range(_LR_ITERS))
    + f""",
final_scored AS (
  SELECT f.y, {_P6.format(zsum=" + ".join(f"w.w{j} * f.x{j}" for j in range(5)))} AS p6
  FROM feat f CROSS JOIN w{_LR_ITERS}_t w),
tot AS (SELECT CAST(SUM(y) AS BIGINT) AS p,
               CAST(SUM(1 - y) AS BIGINT) AS neg FROM final_scored),
thr AS (SELECT CAST(unnest(range(0, 11)) * {_ROC_STEP} AS BIGINT) AS t),
cm AS (SELECT t,
              CAST(SUM(CASE WHEN p6 >= t THEN y ELSE 0 END) AS BIGINT) AS tp,
              CAST(SUM(CASE WHEN p6 >= t THEN 1 - y ELSE 0 END) AS BIGINT) AS fp
       FROM final_scored CROSS JOIN thr GROUP BY t)
SELECT cm.t AS threshold_fp, tp, fp,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(CAST(p AS DOUBLE), 0.0), 6) AS tpr,
       ROUND(CAST(fp AS DOUBLE) / NULLIF(CAST(neg AS DOUBLE), 0.0), 6) AS fpr,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fp AS DOUBLE), 0.0), 6)
         AS precision_at_t
FROM cm CROSS JOIN tot
ORDER BY threshold_fp
"""
)


@register(
    "ml_roc_curve_points",
    _ROC_SQL,
    doc="ROC curve points (TPR/FPR/precision at 11 fixed-point score "
    "thresholds 0, 1e5, ..., 1e6) for the hard-sigmoid GD classifier — "
    "the threshold sweep that locates the operating point a single AUC "
    "number hides. Shares the exact integer fit with ml_logreg_gd "
    "(identical unrolled steps → identical weights → identical p6 "
    "scores), counts are exact conditional BIGINT sums over the 11-row "
    "broadcast threshold grid, and every reported ratio is one NULLIF-"
    "guarded IEEE division of exact operands. At 100 TB: scoring is "
    "map-side (broadcast weights); the 11-way threshold fan-out is a "
    "broadcast crossJoin folded into the same single pass, partial-"
    "aggregated before the 11-group shuffle.",
)
def ml_roc_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat, w, p6_col = _lr_fit(spark, sf_dir)
    scored = feat.crossJoin(F.broadcast(w)).withColumn("p6", p6_col())
    # ONE pass, 22 conditional sums + the two totals, then stack the 1-row
    # result into 11 threshold rows — beats the 11x crossJoin fan-out the
    # oracle spells (measured 4.36 s -> the _lr_fit floor; identical values)
    grid = [i * _ROC_STEP for i in range(11)]
    aggs = []
    for i, t in enumerate(grid):
        aggs.append(
            F.sum(F.when(F.col("p6") >= t, F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"tp_{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("p6") >= t, F.lit(1) - F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"fp_{i}")
        )
    row = scored.agg(
        *aggs,
        F.sum("y").cast("long").alias("p"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("neg"),
    )
    stack_args = ", ".join(f"{t}L, tp_{i}, fp_{i}" for i, t in enumerate(grid))
    cm = row.select(
        F.expr(f"stack(11, {stack_args}) AS (t, tp, fp)"), "p", "neg"
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        cm
        .select(
            F.col("t").alias("threshold_fp"),
            "tp",
            "fp",
            F.round(dd("tp") / F.nullif(dd("p"), F.lit(0.0)), 6).alias("tpr"),
            F.round(dd("fp") / F.nullif(dd("neg"), F.lit(0.0)), 6).alias("fpr"),
            F.round(
                dd("tp") / F.nullif((F.col("tp") + F.col("fp")).cast("double"), F.lit(0.0)),
                6,
            ).alias("precision_at_t"),
        )
        .orderBy("threshold_fp")
    )


# --------------------------------------------------------------------------
# Ridge regression in closed form (normal equations + Cramer's rule) —
# supervised fitting with ZERO iterations: the 3x3 solve is a fixed
# arithmetic expression over nine exact BIGINT moments.
# --------------------------------------------------------------------------

_RIDGE_L = 10_000  # ridge lambda on the (quantity, discount-cents) diagonal


def _ridge_exprs() -> dict[str, str]:
    """The shared Cramer's-rule expression strings — built ONCE and used
    verbatim in BOTH engines so every float op has identical operands and
    fold order (the repo's inlined-literal recipe applied to algebra)."""
    a11, a12, a13 = "CAST(n AS DOUBLE)", "CAST(s1 AS DOUBLE)", "CAST(s2 AS DOUBLE)"
    a22 = f"CAST(s11 + {_RIDGE_L} AS DOUBLE)"
    a23 = "CAST(s12 AS DOUBLE)"
    a33 = f"CAST(s22 + {_RIDGE_L} AS DOUBLE)"
    by, b1, b2 = "CAST(sy AS DOUBLE)", "CAST(s1y AS DOUBLE)", "CAST(s2y AS DOUBLE)"
    det = (
        f"{a11}*({a22}*{a33} - {a23}*{a23})"
        f" - {a12}*({a12}*{a33} - {a23}*{a13})"
        f" + {a13}*({a12}*{a23} - {a22}*{a13})"
    )
    d0 = (
        f"{by}*({a22}*{a33} - {a23}*{a23})"
        f" - {a12}*({b1}*{a33} - {a23}*{b2})"
        f" + {a13}*({b1}*{a23} - {a22}*{b2})"
    )
    d1 = (
        f"{a11}*({b1}*{a33} - {a23}*{b2})"
        f" - {by}*({a12}*{a33} - {a23}*{a13})"
        f" + {a13}*({a12}*{b2} - {b1}*{a13})"
    )
    d2 = (
        f"{a11}*({a22}*{b2} - {b1}*{a23})"
        f" - {a12}*({a12}*{b2} - {b1}*{a13})"
        f" + {by}*({a12}*{a23} - {a22}*{a13})"
    )
    return {"det": det, "d0": d0, "d1": d1, "d2": d2}


_RIDGE_E = _ridge_exprs()

_RIDGE_SQL = f"""
WITH rows_r AS (
  SELECT CAST(ROUND(l_quantity, 0) AS BIGINT) AS x1,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS x2,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
  FROM lineitem),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1*x1) AS BIGINT) AS s11, CAST(SUM(x1*x2) AS BIGINT) AS s12,
         CAST(SUM(x2*x2) AS BIGINT) AS s22,
         CAST(SUM(x1*y) AS BIGINT) AS s1y, CAST(SUM(x2*y) AS BIGINT) AS s2y
  FROM rows_r)
SELECT n AS n_rows,
       ROUND(({_RIDGE_E["d0"]}) / NULLIF(({_RIDGE_E["det"]}), 0.0) / 100.0, 4)
         AS beta_intercept,
       ROUND(({_RIDGE_E["d1"]}) / NULLIF(({_RIDGE_E["det"]}), 0.0) / 100.0, 6)
         AS beta_quantity,
       ROUND(({_RIDGE_E["d2"]}) / NULLIF(({_RIDGE_E["det"]}), 0.0) / 100.0, 6)
         AS beta_discount
FROM m
"""


@register(
    "ml_ridge_closed_form",
    _RIDGE_SQL,
    doc=f"Ridge regression (lambda={_RIDGE_L} on the feature diagonal, "
    "intercept unpenalized) of line price on quantity and discount, fit "
    "in CLOSED FORM: the normal equations (X'X + lambda*I) beta = X'y "
    "are solved by Cramer's rule as a fixed arithmetic expression over "
    "nine exact BIGINT moments — supervised training as ONE map-side-"
    "combined aggregate, zero iterations, zero driver math (the "
    "complement to ml_logreg_gd's iterative fit). Cross-engine "
    "determinism: the 3x3 determinants are generated ONCE as expression "
    "strings and inlined VERBATIM into both engines, so every float "
    "product has identical operands and fold order; moments are exact "
    "integer sums (quantity*price products bound int64 to ~3e9 rows; "
    "DECIMAL(38,0) accumulators past that); the three divisions are "
    "NULLIF-guarded. At 100 TB: one scan, one 1-row aggregate — the "
    "cheapest possible model fit.",
)
def ml_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    r = li.select(
        F.round("l_quantity", 0).cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    m = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
    )
    det = F.expr(_RIDGE_E["det"])
    return m.select(
        F.col("n").alias("n_rows"),
        F.round(
            F.expr(_RIDGE_E["d0"]) / F.nullif(det, F.lit(0.0)) / 100.0, 4
        ).alias("beta_intercept"),
        F.round(
            F.expr(_RIDGE_E["d1"]) / F.nullif(det, F.lit(0.0)) / 100.0, 6
        ).alias("beta_quantity"),
        F.round(
            F.expr(_RIDGE_E["d2"]) / F.nullif(det, F.lit(0.0)) / 100.0, 6
        ).alias("beta_discount"),
    )


# --------------------------------------------------------------------------
# k-NN majority-vote classification over the embedding corpus — the
# lazy-learning baseline every embedding-quality audit starts from.
# --------------------------------------------------------------------------

_KNNC_Q = 50  # held-out query set size (bounded, broadcastable)
_KNNC_K = 5


_KNNC_SQL: str


def _knnc_pred_ctes() -> str:
    """The shared k-NN prediction CTE chain (ends at ``pred``: one row per
    held-out query with true label ``yt`` and majority-vote ``yp``) — the
    confusion matrix and the per-class P/R/F1 report both build on it."""
    from logflow.queries.llm import _dd_sim

    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS qid, embedding AS qv, label AS yt
  FROM embeddings ORDER BY vec_id LIMIT {_KNNC_Q}),
c AS (SELECT vec_id, embedding, label FROM embeddings
      WHERE vec_id NOT IN (SELECT qid FROM q)),
sims AS (
  SELECT qid, yt, yc, rn FROM (
    SELECT q.qid, q.yt, c.label AS yc,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {_dd_sim("c.embedding", "q.qv")} DESC,
                                       c.vec_id) AS rn
    FROM q CROSS JOIN c)
  WHERE rn <= {_KNNC_K}),
votes AS (SELECT qid, yt, yc, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM sims GROUP BY qid, yt, yc),
pred AS (
  SELECT qid, yt, yc AS yp FROM (
    SELECT qid, yt, yc,
           row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, yc) AS vr
    FROM votes)
  WHERE vr = 1)"""


def _knnc_sql() -> str:
    return f"""{_knnc_pred_ctes()}
SELECT CAST(yt AS BIGINT) AS label_true, CAST(yp AS BIGINT) AS label_pred,
       CAST(COUNT(*) AS BIGINT) AS n_queries
FROM pred GROUP BY yt, yp
ORDER BY label_true, label_pred
"""


def _knnc_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_knnc_pred_ctes`: the (qid, yt, yp) frame."""
    from logflow.operators.cache import track
    from logflow.operators.similarity import _dot, _norm

    emb = load_table(spark, "embeddings", sf_dir)
    q = track(
        emb.orderBy("vec_id")
        .limit(_KNNC_Q)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("yt"),
        )
        .coalesce(1)
        .persist()
    )
    q.count()
    c = emb.join(q.select(F.col("qid").alias("vec_id")), "vec_id", "left_anti")
    sim = F.round(
        _dot(F.col("embedding"), F.col("qv"))
        / (_norm(F.col("embedding")) * _norm(F.col("qv"))),
        6,
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    sims = (
        c.crossJoin(F.broadcast(q))
        .select(
            "qid",
            "yt",
            F.col("label").alias("yc"),
            "vec_id",
            sim.alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNNC_K)
    )
    votes = sims.groupBy("qid", "yt", "yc").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("cnt"), "yc")
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("qid", "yt", F.col("yc").alias("yp"))
    )


@register(
    "ml_knn_classifier",
    _knnc_sql(),
    doc=f"k-NN classification (k={_KNNC_K}) of {_KNNC_Q} held-out "
    "embedding vectors against the rest of the corpus, majority vote "
    "with deterministic ties (vote count DESC, then smallest label), "
    "reported as a confusion matrix — the lazy-learning baseline an "
    "embedding-quality audit runs before trusting vectors in any "
    "downstream model (the supervised twin of knn_recall_eval). "
    "Neighbor ranking uses the repo's fold-order-identical rounded "
    "cosine with the unique vec_id tiebreak; votes are exact counts. "
    "At 100 TB: the query set is a BOUNDED broadcast (the "
    "knn_cosine_brute contract) so the scan is one map-side pass over "
    "the corpus — never corpus×corpus; per-query state is k rows. "
    "Scaling the query side swaps in the IVF route (knn_ivf_kmeans) "
    "with identical vote semantics.",
)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _knnc_pred(spark, sf_dir)
    return (
        pred.groupBy(
            F.col("yt").cast("long").alias("label_true"),
            F.col("yp").cast("long").alias("label_pred"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
        .orderBy("label_true", "label_pred")
    )


def _prf1_sql() -> str:
    return f"""{_knnc_pred_ctes()},
a AS (SELECT CAST(yt AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_true,
             CAST(SUM(CASE WHEN yt = yp THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM pred GROUP BY yt),
b AS (SELECT CAST(yp AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_pred
      FROM pred GROUP BY yp),
cm AS (
  SELECT COALESCE(a.label, b.label) AS label,
         COALESCE(a.n_true, 0) AS n_true,
         COALESCE(b.n_pred, 0) AS n_pred,
         COALESCE(a.tp, 0) AS tp
  FROM a FULL OUTER JOIN b ON a.label = b.label),
cls AS (
  SELECT label, n_true, n_pred, tp,
         CAST(tp AS DOUBLE) / CAST(NULLIF(n_pred, 0) AS DOUBLE) AS prec,
         CAST(tp AS DOUBLE) / CAST(NULLIF(n_true, 0) AS DOUBLE) AS rec,
         CAST(2 * tp AS DOUBLE) / CAST(NULLIF(n_true + n_pred, 0) AS DOUBLE) AS f1
  FROM cm)
SELECT 'class' AS scope, label, n_true, n_pred, tp, prec, rec, f1 FROM cls
UNION ALL
SELECT 'macro' AS scope, CAST(-1 AS BIGINT) AS label,
       CAST(SUM(n_true) AS BIGINT) AS n_true,
       CAST(SUM(n_pred) AS BIGINT) AS n_pred,
       CAST(SUM(tp) AS BIGINT) AS tp,
       CAST(SUM(CAST(ROUND(COALESCE(prec, 0) * 1000000, 0) AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) * 1000000 AS DOUBLE) AS prec,
       CAST(SUM(CAST(ROUND(COALESCE(rec, 0) * 1000000, 0) AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) * 1000000 AS DOUBLE) AS rec,
       CAST(SUM(CAST(ROUND(COALESCE(f1, 0) * 1000000, 0) AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) * 1000000 AS DOUBLE) AS f1
FROM cls
UNION ALL
SELECT 'micro' AS scope, CAST(-1 AS BIGINT) AS label,
       CAST(SUM(n_true) AS BIGINT) AS n_true,
       CAST(SUM(n_pred) AS BIGINT) AS n_pred,
       CAST(SUM(tp) AS BIGINT) AS tp,
       CAST(SUM(tp) AS DOUBLE) / CAST(SUM(n_true) AS DOUBLE) AS prec,
       CAST(SUM(tp) AS DOUBLE) / CAST(SUM(n_true) AS DOUBLE) AS rec,
       CAST(SUM(tp) AS DOUBLE) / CAST(SUM(n_true) AS DOUBLE) AS f1
FROM cls
ORDER BY scope, label
"""


@register(
    "ml_class_prf1_report",
    _prf1_sql(),
    doc="Per-class precision / recall / F1 plus macro- and micro-averaged "
    "rollups from the k-NN classifier's prediction frame (shared with "
    "ml_knn_classifier via _knnc_pred — one classifier, two reports): "
    "the standard classification scorecard. Per-class rows derive every "
    "metric from exact integer counts in ONE division each (F1 as "
    "2*tp/(n_true+n_pred), never 2PR/(P+R) float chains); undefined "
    "ratios (class never predicted) are NULL via NULLIF, and macro "
    "averaging follows sklearn's zero_division=0 by COALESCEing them to "
    "0. Macro averages round each per-class metric to fixed-point "
    "micros and integer-sum (float-sum order is engine-chosen); micro "
    "P=R=F1=accuracy for single-label problems, one exact-count "
    "division. At 100 TB: the corpus scan is the bounded-broadcast "
    "k-NN pass (never corpus x corpus); everything after ``pred`` is "
    "label-cardinality-scale (a handful of rows), so the report costs "
    "the same one scan the confusion matrix already pays.",
)
def ml_class_prf1_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # localCheckpoint (eager), not persist: persist keeps the full kNN
    # lineage in the STATIC plan, so every downstream branch re-embeds the
    # ~35-exchange scoring subtree (the r9 verdict counted 207 Exchange
    # nodes); checkpointing the query-sample-scale prediction frame
    # truncates the lineage at a leaf. Fixed-iteration single-action
    # consumers -> eager=True per the CLAUDE.md checkpoint rule.
    pred = _knnc_pred(spark, sf_dir).localCheckpoint(eager=True)
    # ONE pass over pred: each prediction contributes a true-role row
    # (label = yt, carrying the tp flag) and a pred-role row (label = yp),
    # then a single groupBy(label) with conditional sums builds the whole
    # per-class count frame — no two-groupBy full-outer join, so the
    # static plan carries pred's lineage once here instead of twice (the
    # r9 verdict flagged 207 Exchange nodes from the branchy form; the
    # oracle keeps the readable a/b/FULL OUTER shape, values identical).
    roles = pred.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("yt").cast("long").alias("label"),
                    F.lit(1).alias("is_t"),
                    F.when(F.col("yt") == F.col("yp"), 1).otherwise(0).alias("is_tp"),
                ),
                F.struct(
                    F.col("yp").cast("long").alias("label"),
                    F.lit(0).alias("is_t"),
                    F.lit(0).alias("is_tp"),
                ),
            )
        ).alias("r")
    )
    cm = roles.groupBy(F.col("r.label").alias("label")).agg(
        F.sum("r.is_t").cast("long").alias("n_true"),
        F.sum(1 - F.col("r.is_t")).cast("long").alias("n_pred"),
        F.sum("r.is_tp").cast("long").alias("tp"),
    )
    cls = cm.select(
        "label",
        "n_true",
        "n_pred",
        "tp",
        F.expr("cast(tp as double) / cast(nullif(n_pred, 0) as double)").alias(
            "prec"
        ),
        F.expr("cast(tp as double) / cast(nullif(n_true, 0) as double)").alias(
            "rec"
        ),
        F.expr(
            "cast(2 * tp as double) / cast(nullif(n_true + n_pred, 0) as double)"
        ).alias("f1"),
    ).localCheckpoint(eager=True)

    per_class = cls.select(
        F.lit("class").alias("scope"), "label", "n_true", "n_pred", "tp",
        "prec", "rec", "f1",
    )
    # macro + micro from ONE conditional aggregate over the persisted class
    # frame, reshaped with stack() — the r9 diag_vif lesson: N scope
    # branches re-embed the upstream lineage N times in the static plan.
    fp = lambda c: F.sum(  # noqa: E731
        F.round(F.coalesce(F.col(c), F.lit(0.0)) * 1000000, 0).cast("long")
    ).alias(f"s_{c}")
    roll = cls.agg(
        F.sum("n_true").cast("long").alias("n_true"),
        F.sum("n_pred").cast("long").alias("n_pred"),
        F.sum("tp").cast("long").alias("tp"),
        fp("prec"),
        fp("rec"),
        fp("f1"),
        F.count(F.lit(1)).alias("k"),
    )
    rollups = roll.select(
        F.expr(
            "stack(2,"
            " 'macro', cast(s_prec as double) / cast(k * 1000000 as double),"
            "          cast(s_rec as double) / cast(k * 1000000 as double),"
            "          cast(s_f1 as double) / cast(k * 1000000 as double),"
            " 'micro', cast(tp as double) / cast(n_true as double),"
            "          cast(tp as double) / cast(n_true as double),"
            "          cast(tp as double) / cast(n_true as double)"
            ") as (scope, prec, rec, f1)"
        ),
        F.lit(-1).cast("long").alias("label"),
        "n_true",
        "n_pred",
        "tp",
    ).select("scope", "label", "n_true", "n_pred", "tp", "prec", "rec", "f1")
    return per_class.unionAll(rollups).orderBy("scope", "label")


# --------------------------------------------------------------------------
# Decile lift / gains table for the GD classifier — the campaign-targeting
# view of score quality: rank by score, cut into 10 equal-count buckets,
# report per-decile lift over the base rate and cumulative gain.
# --------------------------------------------------------------------------

_LIFT_TILES = 10
_LIFT_SCALE = 1_000_000  # fixed-point lift scale


_LIFT_SQL = (
    "WITH "
    + _lr_feat_sql()
    + ",\nw0_t AS (SELECT "
    + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(5))
    + "),"
    + ",".join(_lr_iter_sql(f"w{i}_t", f"w{i + 1}_t") for i in range(_LR_ITERS))
    + f""",
final_scored AS (
  SELECT f.vec_id, f.y,
         {_P6.format(zsum=" + ".join(f"w.w{j} * f.x{j}" for j in range(5)))} AS p6
  FROM feat f CROSS JOIN w{_LR_ITERS}_t w),
ranked AS (
  SELECT y, CAST(ntile({_LIFT_TILES}) OVER (ORDER BY p6 DESC, vec_id)
               AS BIGINT) AS decile
  FROM final_scored),
d AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM ranked GROUP BY decile),
t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS tot_n,
             CAST(SUM(n_pos) AS BIGINT) AS tot_pos FROM d)
SELECT decile, n_rows, n_pos,
       CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
       CAST((n_pos * tot_n * {_LIFT_SCALE}) // NULLIF(n_rows * tot_pos, 0)
            AS BIGINT) AS lift_fp,
       ROUND((CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE))
             / NULLIF(CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE), 0.0),
             6) AS lift,
       ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile) AS DOUBLE)
             / NULLIF(CAST(tot_pos AS DOUBLE), 0.0), 6) AS cum_gain
FROM d CROSS JOIN t
ORDER BY decile
"""
)


@register(
    "ml_decile_lift",
    _LIFT_SQL,
    doc=f"Decile lift / cumulative-gains table for the hard-sigmoid GD "
    "classifier (shares ml_logreg_gd's exact integer fit -> identical "
    "p6 scores both engines): rank rows by score descending, cut into "
    f"{_LIFT_TILES} equal-count deciles, report per-decile positive "
    "counts, lift over the base rate, and cumulative gain — the "
    "campaign-targeting / model-triage view ROC's threshold grid "
    "doesn't give. Determinism: the decile cut is exact ntile over "
    "(p6 DESC, vec_id) — a unique composite, so tile boundaries are "
    "identical cross-engine; lift_fp = (pos*N*1e6) DIV (n*P) is a pure "
    "BIGINT function, and the double lift/gain columns are identical "
    "IEEE divisions of exact integers. Spark side avoids the oracle's "
    "single-partition ntile window with operators/packing.global_ntile "
    "(driver-collected quantile edges -> range buckets -> per-bucket "
    "row_number + broadcast prefix offsets, the SQL-standard q/r tile "
    "formula) — plan-independent and shardable at any scale. The "
    "10-row decile frame then aggregates exactly. At 100 TB: scoring "
    "is map-side (broadcast weights); the only shuffle is the range "
    "bucketing that replaces the global sort.",
)
def ml_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.packing import global_ntile

    feat, w, p6_col = _lr_fit(spark, sf_dir)
    scored = (
        feat.crossJoin(F.broadcast(w))
        .withColumn("p6", p6_col())
        .select("vec_id", "y", "p6", (-F.col("p6")).alias("neg_p6"))
    )
    # EAGER localCheckpoint: scored feeds 3+ plan branches (the quantile-
    # edge probe, the per-bucket offsets aggregate, and the main bucketed
    # branch) — without a cut each branch re-runs the whole GD weight
    # chain above it (measured 8.8 -> ~2 s at sf0.01, the HITS lesson).
    # Checkpoint, not persist (the r10 bounded-frame rule): persist does
    # not truncate the LOGICAL plan, so every ntile branch re-embedded the
    # full GD lineage in the static plan (346 Exchange nodes measured r12)
    scored = scored.coalesce(4).localCheckpoint(eager=True)
    tiled = global_ntile(scored, ["neg_p6", "vec_id"], _LIFT_TILES, "decile")
    d = tiled.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    # 10-row frame feeding both the totals aggregate and the main select
    d = d.coalesce(1).localCheckpoint(eager=True)
    t = d.agg(
        F.sum("n_rows").cast("long").alias("tot_n"),
        F.sum("n_pos").cast("long").alias("tot_pos"),
    )
    cum_w = Window.orderBy("decile")  # 10-row frame: the window is bounded
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        d.crossJoin(F.broadcast(t))
        .withColumn("cum_pos", F.sum("n_pos").over(cum_w).cast("long"))
        .select(
            "decile",
            "n_rows",
            "n_pos",
            "cum_pos",
            F.expr(
                f"CAST((n_pos * tot_n * {_LIFT_SCALE})"
                " DIV NULLIF(n_rows * tot_pos, 0) AS BIGINT)"
            ).alias("lift_fp"),
            F.round(
                (dd("n_pos") / dd("n_rows"))
                / F.nullif(dd("tot_pos") / dd("tot_n"), F.lit(0.0)),
                6,
            ).alias("lift"),
            F.round(
                dd("cum_pos") / F.nullif(dd("tot_pos"), F.lit(0.0)), 6
            ).alias("cum_gain"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# Learning-curve evaluation — the "is more data still buying accuracy?"
# audit: train the NB language classifier on nested deterministic-hash
# fractions of the training fold and score each model on one fixed
# held-out fold.
# --------------------------------------------------------------------------

_LC_FRACS = [25, 50, 75, 100]
_LC_KEY = "'lc:' || cast(doc_id as string)"  # tier hash of a training doc


def _lc_sql() -> str:
    tiers = (
        "CASE WHEN h < 25 THEN 25 WHEN h < 50 THEN 50 "
        "WHEN h < 75 THEN 75 ELSE 100 END"
    )
    fracs = ", ".join(f"({f})" for f in _LC_FRACS)
    return f"""
WITH train0 AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
tr AS (
  SELECT doc_id, lang, text, {tiers} AS tier
  FROM (SELECT *, {md5_int(_LC_KEY, duck=True)} % 100 AS h FROM train0)),
fr AS (SELECT * FROM (VALUES {fracs}) AS t(frac)),
ttok AS (SELECT tier, lang, unnest({TOKS}) AS tok FROM tr),
cwt AS (SELECT tier, lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ttok GROUP BY tier, lang, tok),
cwf AS (SELECT f.frac, lang, tok, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM cwt JOIN fr f ON cwt.tier <= f.frac GROUP BY f.frac, lang, tok),
ncf AS (SELECT frac, lang, CAST(SUM(cnt) AS BIGINT) AS n_c
        FROM cwf GROUP BY frac, lang),
vf AS (SELECT frac, CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsize
       FROM cwf GROUP BY frac),
clsf AS (SELECT f.frac, lang, CAST(COUNT(*) AS BIGINT) AS d_c
         FROM tr JOIN fr f ON tr.tier <= f.frac GROUP BY f.frac, lang),
dtotf AS (SELECT frac, CAST(SUM(d_c) AS BIGINT) AS d_all
          FROM clsf GROUP BY frac),
priorf AS (
  SELECT clsf.frac, clsf.lang,
         CAST(ROUND(log2(CAST(d_c AS DOUBLE) / CAST(d_all AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lp0
  FROM clsf JOIN dtotf ON clsf.frac = dtotf.frac),
modelf AS (
  SELECT cwf.frac, cwf.lang, cwf.tok,
         CAST(ROUND(log2(CAST(cwf.cnt + 1 AS DOUBLE)
                         / CAST(ncf.n_c + vf.vsize AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lp
  FROM cwf JOIN ncf ON cwf.frac = ncf.frac AND cwf.lang = ncf.lang
  JOIN vf ON vf.frac = cwf.frac),
unkf AS (
  SELECT ncf.frac, ncf.lang,
         CAST(ROUND(log2(1.0 / CAST(ncf.n_c + vf.vsize AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lpu
  FROM ncf JOIN vf ON vf.frac = ncf.frac),
tetok AS (SELECT doc_id, lang AS lang_true, unnest({TOKS}) AS tok FROM test),
st AS (
  SELECT u.frac, t.doc_id, t.lang_true, u.lang AS lang_pred,
         COALESCE(m.lp, u.lpu) AS lp
  FROM tetok t
  CROSS JOIN unkf u
  LEFT JOIN modelf m ON m.frac = u.frac AND m.tok = t.tok AND m.lang = u.lang),
ds AS (SELECT frac, doc_id, lang_true, lang_pred, SUM(lp) AS tok_score
       FROM st GROUP BY frac, doc_id, lang_true, lang_pred),
fs AS (
  SELECT d.frac, d.doc_id, d.lang_true, d.lang_pred, d.tok_score + p.lp0 AS score
  FROM ds d JOIN priorf p ON p.frac = d.frac AND p.lang = d.lang_pred),
pr AS (
  SELECT frac, doc_id, lang_true, lang_pred,
         ROW_NUMBER() OVER (PARTITION BY frac, doc_id
                            ORDER BY score DESC, lang_pred) AS rk
  FROM fs),
acc AS (
  SELECT frac, CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN lang_pred = lang_true THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM pr WHERE rk = 1 GROUP BY frac)
SELECT CAST(acc.frac AS BIGINT) AS train_pct,
       d.d_all AS n_train_docs,
       v.vsize AS vocab_size,
       acc.n_test, acc.n_correct,
       ROUND(CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE), 6) AS accuracy
FROM acc JOIN dtotf d ON d.frac = acc.frac JOIN vf v ON v.frac = acc.frac
ORDER BY train_pct
"""


@register(
    "ml_learning_curve",
    _lc_sql(),
    doc="Learning-curve evaluation of the in-engine NB language "
    "classifier: four NESTED training subsets (25/50/75/100% of the "
    "doc_id%5<>0 fold, membership by deterministic md5 hash bucket so "
    "each subset contains the smaller ones — the curve is monotone in "
    "DATA, not re-shuffled), each scored on the SAME held-out fold "
    "(doc_id%5=0), reported as accuracy vs training size — the audit "
    "that says whether the next 10 TB of labels buys anything. "
    "Computed in ONE pass: token counts roll up per (tier, lang, tok) "
    "where tier = smallest containing fraction, fraction models derive "
    "by tier<=frac rollup (never four training passes), and scoring "
    "fans the test token stream out over the 4-fraction model "
    "dimension. Same log2-round-6dp/DECIMAL-sum determinism recipe as "
    "ml_nb_lang_confusion (identical argmax both engines, class-name "
    "tiebreak). At 100 TB: the token stream shuffles ONCE (tiered "
    "counts); models stay vocab-scale x 4 and broadcast; test scoring "
    "is one map-side fan-out + one doc-keyed rollup.",
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    h = F.expr(md5_int(_LC_KEY)) % 100
    tier = (
        F.when(F.col("h") < 25, 25)
        .when(F.col("h") < 50, 50)
        .when(F.col("h") < 75, 75)
        .otherwise(100)
    )
    tr = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .withColumn("h", h)
        .withColumn("tier", tier)
    )
    test = docs.filter(F.col("doc_id") % 5 == 0)
    fr = spark.createDataFrame([(f,) for f in _LC_FRACS], "frac long")

    ttok = tr.select("tier", "lang", F.explode(tokenize("text")).alias("tok"))
    cwt = ttok.groupBy("tier", "lang", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # eager localCheckpoint above the fork: the per-fraction count frame
    # (vocab x 4 scale) feeds the class totals, the vocab rollup, and the
    # model projection — checkpointing truncates the tokenize lineage so
    # the three branches don't re-embed it in the static plan (the
    # ml_class_prf1_report lesson).
    cwf = (
        cwt.join(F.broadcast(fr), cwt["tier"] <= fr["frac"])
        .groupBy("frac", "lang", "tok")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    ncf = cwf.groupBy("frac", "lang").agg(F.sum("cnt").cast("long").alias("n_c"))
    vf = cwf.groupBy("frac").agg(F.countDistinct("tok").cast("long").alias("vsize"))
    clsf = (
        tr.join(F.broadcast(fr), tr["tier"] <= fr["frac"])
        .groupBy("frac", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("d_c"))
    )
    dtotf = clsf.groupBy("frac").agg(F.sum("d_c").cast("long").alias("d_all"))
    priorf = clsf.join(F.broadcast(dtotf), "frac").select(
        "frac",
        "lang",
        F.round(F.log2(F.col("d_c").cast("double") / F.col("d_all").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("lp0"),
    )
    modelf = (
        cwf.join(F.broadcast(ncf), ["frac", "lang"])
        .join(F.broadcast(vf), "frac")
        .select(
            "frac",
            "lang",
            "tok",
            F.round(
                F.log2(
                    (F.col("cnt") + 1).cast("double")
                    / (F.col("n_c") + F.col("vsize")).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    unkf = ncf.join(F.broadcast(vf), "frac").select(
        "frac",
        "lang",
        F.round(
            F.log2(F.lit(1.0) / (F.col("n_c") + F.col("vsize")).cast("double")), 6
        )
        .cast("decimal(18,6)")
        .alias("lpu"),
    )

    tetok = test.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        F.explode(tokenize("text")).alias("tok"),
    )
    st = (
        tetok.crossJoin(F.broadcast(unkf.withColumnRenamed("lang", "lang_pred")))
        .join(
            F.broadcast(modelf.withColumnRenamed("lang", "lang_pred")),
            ["frac", "tok", "lang_pred"],
            "left",
        )
        .select(
            "frac",
            "doc_id",
            "lang_true",
            "lang_pred",
            F.coalesce(F.col("lp"), F.col("lpu")).alias("lp"),
        )
    )
    ds = st.groupBy("frac", "doc_id", "lang_true", "lang_pred").agg(
        F.sum("lp").alias("tok_score")
    )
    fs = ds.join(
        F.broadcast(priorf.withColumnRenamed("lang", "lang_pred")),
        ["frac", "lang_pred"],
    ).select(
        "frac",
        "doc_id",
        "lang_true",
        "lang_pred",
        (F.col("tok_score") + F.col("lp0")).alias("score"),
    )
    w = Window.partitionBy("frac", "doc_id").orderBy(
        F.col("score").desc(), F.col("lang_pred")
    )
    pr = fs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    acc = pr.groupBy("frac").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(F.when(F.col("lang_pred") == F.col("lang_true"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )
    return (
        acc.join(F.broadcast(dtotf), "frac")
        .join(F.broadcast(vf), "frac")
        .select(
            F.col("frac").cast("long").alias("train_pct"),
            F.col("d_all").alias("n_train_docs"),
            F.col("vsize").alias("vocab_size"),
            "n_test",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_test").cast("double"), 6
            ).alias("accuracy"),
        )
        .orderBy("train_pct")
    )


# --------------------------------------------------------------------------
# Depth-2 classification tree — the decision stump RECURSED once: pick the
# best root split, then the best split inside each child, all with the
# same histogram trick (never a per-threshold data scan).
# --------------------------------------------------------------------------


def _gini_sql() -> str:
    """Weighted-Gini expression over (n, pos, n_left, pos_left) — the
    identical parenthesized IEEE sequence as ml_decision_stump."""
    return """
         (CAST(n_left AS DOUBLE) / CAST(n AS DOUBLE))
           * (1 - (CAST(pos_left AS DOUBLE) / CAST(n_left AS DOUBLE))
                   * (CAST(pos_left AS DOUBLE) / CAST(n_left AS DOUBLE))
                 - (CAST(n_left - pos_left AS DOUBLE) / CAST(n_left AS DOUBLE))
                   * (CAST(n_left - pos_left AS DOUBLE) / CAST(n_left AS DOUBLE)))
         + (CAST(n - n_left AS DOUBLE) / CAST(n AS DOUBLE))
           * (1 - (CAST(pos - pos_left AS DOUBLE) / CAST(n - n_left AS DOUBLE))
                   * (CAST(pos - pos_left AS DOUBLE) / CAST(n - n_left AS DOUBLE))
                 - (CAST((n - n_left) - (pos - pos_left) AS DOUBLE)
                    / CAST(n - n_left AS DOUBLE))
                   * (CAST((n - n_left) - (pos - pos_left) AS DOUBLE)
                      / CAST(n - n_left AS DOUBLE)))
"""


@register(
    "ml_tree_depth2",
    f"""
WITH ev AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
         user_id % 10 AS uid_mod,
         CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
  FROM events),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos FROM ev),
feat AS (
  SELECT 'hour' AS feature, hour AS fv, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(y) AS BIGINT) AS p FROM ev GROUP BY hour
  UNION ALL
  SELECT 'uid_mod', uid_mod, CAST(COUNT(*) AS BIGINT), CAST(SUM(y) AS BIGINT)
  FROM ev GROUP BY uid_mod),
cum AS (
  SELECT feature, fv AS threshold,
         CAST(SUM(cnt) OVER w AS BIGINT) AS n_left,
         CAST(SUM(p) OVER w AS BIGINT) AS pos_left
  FROM feat
  WINDOW w AS (PARTITION BY feature ORDER BY fv
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
scored AS (
  SELECT feature, threshold, n_left, pos_left,
         n - n_left AS n_right, pos - pos_left AS pos_right,
         {_gini_sql()} AS gini
  FROM cum CROSS JOIN tot
  WHERE n_left > 0 AND n - n_left > 0),
best AS (
  SELECT feature, threshold, n_left, pos_left, n_right, pos_right,
         ROUND(gini, 6) AS gini_split
  FROM scored ORDER BY ROUND(gini, 6), feature, threshold LIMIT 1),
ev2 AS (
  SELECT ev.*, CASE WHEN (b.feature = 'hour' AND ev.hour <= b.threshold)
                      OR (b.feature = 'uid_mod' AND ev.uid_mod <= b.threshold)
               THEN 'left' ELSE 'right' END AS side
  FROM ev CROSS JOIN best b),
tot2 AS (SELECT side, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(y) AS BIGINT) AS pos FROM ev2 GROUP BY side),
feat2 AS (
  SELECT side, 'hour' AS feature, hour AS fv, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(y) AS BIGINT) AS p FROM ev2 GROUP BY side, hour
  UNION ALL
  SELECT side, 'uid_mod', uid_mod, CAST(COUNT(*) AS BIGINT),
         CAST(SUM(y) AS BIGINT) FROM ev2 GROUP BY side, uid_mod),
cum2 AS (
  SELECT side, feature, fv AS threshold,
         CAST(SUM(cnt) OVER w AS BIGINT) AS n_left,
         CAST(SUM(p) OVER w AS BIGINT) AS pos_left
  FROM feat2
  WINDOW w AS (PARTITION BY side, feature ORDER BY fv
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
scored2 AS (
  SELECT side, feature, threshold, n_left, pos_left,
         n - n_left AS n_right, pos - pos_left AS pos_right,
         {_gini_sql()} AS gini
  FROM cum2 JOIN tot2 USING (side)
  WHERE n_left > 0 AND n - n_left > 0),
best2 AS (
  SELECT side, feature, threshold, n_left, pos_left, n_right, pos_right,
         gini_split
  FROM (SELECT s.*, ROUND(gini, 6) AS gini_split,
               ROW_NUMBER() OVER (PARTITION BY side
                                  ORDER BY ROUND(gini, 6), feature, threshold)
                 AS rk
        FROM scored2 s) WHERE rk = 1)
SELECT 'root' AS node, feature, threshold, n_left, pos_left, n_right,
       pos_right, gini_split
FROM best
UNION ALL
SELECT side AS node, feature, threshold, n_left, pos_left, n_right,
       pos_right, gini_split
FROM best2
ORDER BY node
""",
    doc="Depth-2 classification tree trained in-engine: the "
    "ml_decision_stump split search run at the root, then AGAIN inside "
    "each child (same two integer features, same weighted-Gini "
    "criterion) — the one-level recursion that turns the stump into the "
    "histogram-based tree grower every GBDT library uses. Each level is "
    "the XGBoost histogram trick: per-(side, feature) value histograms "
    "in one shuffle, every candidate split's counts from a cumulative "
    "window — O(distinct values), never a per-threshold data scan. The "
    "root choice is data-dependent, so determinism leans on the "
    "rank-on-ROUNDED-gini rule with (feature, threshold) tiebreaks at "
    "BOTH levels: both engines provably pick the same tree. All counts "
    "exact BIGINTs; the Gini expression is the stump's identical "
    "parenthesized IEEE sequence. At 100 TB: two histogram passes over "
    "the pruned event scan (one per level) + constant-size broadcasts "
    "of the chosen splits; the model is a 3-row frame.",
)
def ml_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        F.hour("ts").cast("long").alias("hour"),
        (F.col("user_id") % 10).alias("uid_mod"),
        F.when(F.col("value") > 50, 1).otherwise(0).alias("y"),
    )

    def hist(src: DataFrame, keys: list) -> DataFrame:
        out = None
        for fname in ("hour", "uid_mod"):
            g = src.groupBy(
                *keys, F.lit(fname).alias("feature"), F.col(fname).alias("fv")
            ).agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.sum("y").cast("long").alias("p"),
            )
            out = g if out is None else out.unionByName(g)
        return out

    def gini_cols():
        d = F.col("n").cast("double")
        nl = F.col("n_left").cast("double")
        pl = F.col("pos_left").cast("double")
        nr = (F.col("n") - F.col("n_left")).cast("double")
        pr = (F.col("pos") - F.col("pos_left")).cast("double")
        return (nl / d) * (
            1 - (pl / nl) * (pl / nl) - ((nl - pl) / nl) * ((nl - pl) / nl)
        ) + (nr / d) * (
            1 - (pr / nr) * (pr / nr) - ((nr - pr) / nr) * ((nr - pr) / nr)
        )

    def level(src: DataFrame, keys: list) -> DataFrame:
        """Best split per key group: (keys..., feature, threshold, counts,
        gini_split) via the histogram trick."""
        tot = src.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        ) if keys else src.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
        w = (
            Window.partitionBy(*(keys + ["feature"]))
            .orderBy("fv")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = hist(src, keys).select(
            *keys,
            "feature",
            F.col("fv").alias("threshold"),
            F.sum("cnt").over(w).cast("long").alias("n_left"),
            F.sum("p").over(w).cast("long").alias("pos_left"),
        )
        joined = (
            cum.join(F.broadcast(tot), keys) if keys else cum.crossJoin(F.broadcast(tot))
        )
        scored = joined.filter(
            (F.col("n_left") > 0) & (F.col("n") - F.col("n_left") > 0)
        ).select(
            *keys,
            "feature",
            "threshold",
            "n_left",
            "pos_left",
            (F.col("n") - F.col("n_left")).cast("long").alias("n_right"),
            (F.col("pos") - F.col("pos_left")).cast("long").alias("pos_right"),
            F.round(gini_cols(), 6).alias("gini_split"),
        )
        rw = Window.partitionBy(*keys).orderBy("gini_split", "feature", "threshold")
        return (
            scored.withColumn("rk", F.row_number().over(rw))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )

    # 1-row model frame feeding 3+ downstream branches: eager checkpoint
    # so the level-1 histogram search doesn't re-execute per branch
    best = level(ev, []).localCheckpoint(eager=True)
    side = F.when(
        ((F.col("feature") == "hour") & (F.col("hour") <= F.col("threshold")))
        | ((F.col("feature") == "uid_mod") & (F.col("uid_mod") <= F.col("threshold"))),
        "left",
    ).otherwise("right")
    ev2 = ev.crossJoin(
        F.broadcast(best.select("feature", "threshold"))
    ).select("hour", "uid_mod", "y", side.alias("side"))
    best2 = level(ev2, ["side"])
    root_row = best.select(
        F.lit("root").alias("node"), "feature", "threshold", "n_left",
        "pos_left", "n_right", "pos_right", "gini_split",
    )
    child_rows = best2.select(
        F.col("side").alias("node"), "feature", "threshold", "n_left",
        "pos_left", "n_right", "pos_right", "gini_split",
    )
    return root_row.unionByName(child_rows).orderBy("node")


# --------------------------------------------------------------------------
# k-fold cross-validated ridge — the generalization estimate for
# ml_ridge_closed_form WITHOUT a second data pass: per-fold moments in one
# aggregate, train moments by subtraction from the totals, and the test
# RMSE expanded ALGEBRAICALLY over the held-out fold's exact moments.
# --------------------------------------------------------------------------

_CV_FOLDS = 5

#: test-fold SSE of y - (b0 + b1*x1 + b2*x2), expanded over the fold's
#: exact moments: sum((y - yhat)^2) = syy + n*b0^2 + b1^2*s11 + b2^2*s22
#: - 2*b0*sy - 2*b1*s1y - 2*b2*s2y + 2*b0*b1*s1 + 2*b0*b2*s2 + 2*b1*b2*s12.
#: Inlined verbatim into both engines: no per-row float residuals exist,
#: so there is no engine-chosen summation order to drift.
_CV_SSE = (
    "CAST(syy AS DOUBLE) + CAST(n AS DOUBLE)*b0*b0"
    " + b1*b1*CAST(s11 AS DOUBLE) + b2*b2*CAST(s22 AS DOUBLE)"
    " - 2*b0*CAST(sy AS DOUBLE) - 2*b1*CAST(s1y AS DOUBLE)"
    " - 2*b2*CAST(s2y AS DOUBLE)"
    " + 2*b0*b1*CAST(s1 AS DOUBLE) + 2*b0*b2*CAST(s2 AS DOUBLE)"
    " + 2*b1*b2*CAST(s12 AS DOUBLE)"
)

_CV_MOMS = ["n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y", "syy"]


def _cv_sql() -> str:
    fold_moms = """
  SELECT (l_orderkey * 7 + l_linenumber) % {k} AS fold,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1*x1) AS BIGINT) AS s11, CAST(SUM(x1*x2) AS BIGINT) AS s12,
         CAST(SUM(x2*x2) AS BIGINT) AS s22,
         CAST(SUM(x1*y) AS BIGINT) AS s1y, CAST(SUM(x2*y) AS BIGINT) AS s2y,
         SUM(CAST(y AS DECIMAL(20,0)) * CAST(y AS DECIMAL(20,0))) AS syy
  FROM rows_r GROUP BY 1""".format(k=_CV_FOLDS)
    train = ", ".join(
        f"CAST(t.{m} - g.{m} AS {'DECIMAL(38,0)' if m == 'syy' else 'BIGINT'}) AS {m}"
        for m in _CV_MOMS
    )
    tots = ", ".join(f"SUM({m}) AS {m}" for m in _CV_MOMS)
    return f"""
WITH rows_r AS (
  SELECT l_orderkey, l_linenumber,
         CAST(ROUND(l_quantity, 0) AS BIGINT) AS x1,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS x2,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
  FROM lineitem),
g AS ({fold_moms}),
t AS (SELECT {tots} FROM g),
tm AS (SELECT g.fold, g.n AS n_test, {train} FROM g CROSS JOIN t),
b AS (
  SELECT fold, n_test, n AS n_train,
         ({_RIDGE_E["d0"]}) / NULLIF(({_RIDGE_E["det"]}), 0.0) AS b0,
         ({_RIDGE_E["d1"]}) / NULLIF(({_RIDGE_E["det"]}), 0.0) AS b1,
         ({_RIDGE_E["d2"]}) / NULLIF(({_RIDGE_E["det"]}), 0.0) AS b2
  FROM tm),
sse AS (
  SELECT b.fold, b.n_train, b.n_test, b.b1, b.b2,
         ({_CV_SSE}) AS test_sse
  FROM b JOIN g ON g.fold = b.fold)
SELECT CAST(fold AS BIGINT) AS fold, n_train, n_test,
       ROUND(b1 / 100.0, 6) AS beta_quantity,
       ROUND(b2 / 100.0, 6) AS beta_discount,
       ROUND(sqrt(test_sse / CAST(n_test AS DOUBLE)) / 100.0, 4) AS test_rmse
FROM sse
ORDER BY fold
"""


@register(
    "ml_ridge_kfold_cv",
    _cv_sql(),
    doc=f"{_CV_FOLDS}-fold cross-validated ridge regression (same model as "
    "ml_ridge_closed_form): folds are a pure integer function of the "
    "line key, per-fold moments come from ONE map-side-combined "
    "aggregate, each fold's TRAINING moments are total-minus-fold "
    "subtraction (exact BIGINTs — never a second scan), betas solve by "
    "the shared verbatim Cramer expressions, and the held-out RMSE is "
    "the algebraic expansion of sum((y-yhat)^2) over the test fold's "
    "exact moments — per-row residuals never exist, so there is no "
    "float summation order for engines to disagree on. syy widens to "
    "DECIMAL(20,0)-product sums (int128 in DuckDB per the width>18 "
    "rule: cents-squared sums cross int64 near sf0.1 already). The "
    "whole CV costs ONE scan + fold-count-scale arithmetic at any data "
    "size — the estimator every in-engine model fit should publish "
    "instead of train-set fit quality.",
)
def ml_ridge_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    r = li.select(
        ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % _CV_FOLDS).alias("fold"),
        F.round("l_quantity", 0).cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    g = r.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
        F.sum(
            F.col("y").cast("decimal(20,0)") * F.col("y").cast("decimal(20,0)")
        ).alias("syy"),
    )
    # fold-count-scale frame feeding the totals aggregate + two joins:
    # eager localCheckpoint truncates the scan lineage (prf1 lesson)
    g = g.localCheckpoint(eager=True)
    t = g.agg(*[F.sum(m).alias(m) for m in _CV_MOMS])
    train = [
        (F.col(f"t_{m}") - F.col(m)).cast(
            "decimal(38,0)" if m == "syy" else "long"
        ).alias(m)
        for m in _CV_MOMS
    ]
    tm = (
        g.select("fold", F.col("n").alias("n_test_"), *[F.col(m).alias(m) for m in _CV_MOMS])
        .crossJoin(F.broadcast(t.select(*[F.col(m).alias(f"t_{m}") for m in _CV_MOMS])))
        .select("fold", F.col("n_test_").alias("n_test"), *train)
    )
    det = F.expr(_RIDGE_E["det"])
    b = tm.select(
        "fold",
        "n_test",
        F.col("n").alias("n_train"),
        (F.expr(_RIDGE_E["d0"]) / F.nullif(det, F.lit(0.0))).alias("b0"),
        (F.expr(_RIDGE_E["d1"]) / F.nullif(det, F.lit(0.0))).alias("b1"),
        (F.expr(_RIDGE_E["d2"]) / F.nullif(det, F.lit(0.0))).alias("b2"),
    )
    sse = b.join(g, "fold").select(
        "fold", "n_train", "n_test", "b1", "b2", F.expr(_CV_SSE).alias("test_sse")
    )
    return sse.select(
        F.col("fold").cast("long").alias("fold"),
        "n_train",
        "n_test",
        F.round(F.col("b1") / 100.0, 6).alias("beta_quantity"),
        F.round(F.col("b2") / 100.0, 6).alias("beta_discount"),
        F.round(
            F.sqrt(F.col("test_sse") / F.col("n_test").cast("double")) / 100.0, 4
        ).alias("test_rmse"),
    ).orderBy("fold")


# --------------------------------------------------------------------------
# Simplified (centroid-based) silhouette of the trained IVF quantizer —
# the standard clustering-quality score, computed against the SAME
# exact-decimal Lloyd centroids as knn_ivf_kmeans so index quality and
# retrieval quality are judged on one model.
# --------------------------------------------------------------------------


def _silhouette_sql() -> str:
    from logflow.queries.llm import _KM_CTES, _KM_FINAL, _dd_sim

    return f"""
WITH cent0 AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
{_KM_CTES}
cent AS (SELECT * FROM {_KM_FINAL}),
scored AS (
  SELECT v.vec_id, c.cid, {_dd_sim('v.embedding', 'c.cvec')} AS sim,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
                            ORDER BY {_dd_sim('v.embedding', 'c.cvec')} DESC,
                                     c.cid) AS rn
  FROM corpus v, cent c),
pairs AS (
  SELECT a.vec_id, a.cid,
         1.0 - a.sim AS da, 1.0 - b.sim AS db
  FROM scored a JOIN scored b ON a.vec_id = b.vec_id
  WHERE a.rn = 1 AND b.rn = 2),
s AS (
  SELECT vec_id, cid,
         CAST(ROUND(((db - da) / NULLIF(greatest(da, db), 0.0)) * 1000000, 0)
              AS BIGINT) AS s_fp
  FROM pairs)
SELECT cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(s_fp) AS BIGINT) AS s_fp_sum,
       ROUND(CAST(SUM(s_fp) AS DOUBLE) / 1000000.0
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_silhouette
FROM s GROUP BY cid
ORDER BY cid
"""


@register(
    "ml_silhouette_ivf",
    _silhouette_sql(),
    doc="Simplified (centroid-distance) silhouette score per cluster of "
    "the trained IVF quantizer — a(i) = cosine distance to the OWN "
    "(nearest) trained centroid, b(i) = distance to the second-"
    "nearest, s(i) = (b-a)/max(a,b): the standard clustering-quality "
    "readout at corpus scale, where full silhouette's O(n²) pairwise "
    "term is replaced by the centroid approximation (the at-scale "
    "form). Same exact-decimal Lloyd centroids as knn_ivf_kmeans "
    "(hash-identical model cross-engine); sims are rounded at 6dp "
    "before ranking (the knn rule), s is rounded to 1e-6 fixed point "
    "and summed as exact BIGINT (float mean order never exists). "
    "At 100 TB: one broadcast-assign pass over the corpus (k·d model "
    "broadcast), one cluster-scale rollup.",
)
def ml_silhouette_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.similarity import _dot, _norm
    from logflow.queries.llm import _trained_centroids

    corpus, cent = _trained_centroids(spark, sf_dir)
    # model-scale: checkpoint truncates the 2-iteration Lloyd lineage
    # (unchecked, this query planned 62 Exchange nodes / 12 s at sf0.1)
    cent = cent.coalesce(1).localCheckpoint(eager=True)
    c = cent.select("cid", "cvec", _norm(F.col("cvec")).alias("cnorm"))
    v = corpus.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("vnorm")
    )
    sim = F.round(
        _dot(F.col("embedding"), F.col("cvec")) / (F.col("vnorm") * F.col("cnorm")),
        6,
    )
    scored = v.crossJoin(F.broadcast(c)).select(
        "vec_id", "cid", sim.alias("sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cid")
    ranked = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 2
    )
    # ONE conditional aggregate, not an own/other self-join: two filter
    # branches over the ranked frame would re-run the crossJoin + window
    # per branch (the ROC stack lesson)
    s = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cid"))).alias("cid"),
        (F.lit(1.0) - F.max(F.when(F.col("rn") == 1, F.col("sim")))).alias("da"),
        (F.lit(1.0) - F.max(F.when(F.col("rn") == 2, F.col("sim")))).alias("db"),
    ).select(
        "cid",
        F.expr(
            "CAST(ROUND(((db - da) / NULLIF(greatest(da, db), 0.0)) * 1000000, 0)"
            " AS BIGINT)"
        ).alias("s_fp"),
    )
    return (
        s.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("s_fp").cast("long").alias("s_fp_sum"),
        )
        .select(
            "cluster_id",
            "n_members",
            "s_fp_sum",
            F.round(
                F.col("s_fp_sum").cast("double")
                / 1000000.0
                / F.col("n_members").cast("double"),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# Rank-1 ALS (r12): alternating least squares on the customer x part count
# matrix, run entirely in fixed-point BIGINT so the alternation is
# bit-identical cross-engine (the graph.py PageRank contract applied to
# matrix factorization).
# --------------------------------------------------------------------------

_ALS_S = 10_000  # fixed-point scale of the latent factors

_ALS_ORACLE = f"""
WITH r AS (
  SELECT o_custkey AS i, l_partkey AS j, CAST(count(*) AS BIGINT) AS r
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2),
v1 AS (
  SELECT j,
         ({_ALS_S} * SUM(r * {_ALS_S}))
           // greatest(SUM(CAST({_ALS_S} AS BIGINT) * {_ALS_S}) // {_ALS_S}, 1)
           AS v
  FROM r GROUP BY j),
u1 AS (
  SELECT i,
         ({_ALS_S} * SUM(r.r * v1.v))
           // greatest(SUM(v1.v * v1.v) // {_ALS_S}, 1) AS u
  FROM r JOIN v1 ON r.j = v1.j GROUP BY i),
v2 AS (
  SELECT j,
         CAST(count(*) AS BIGINT) AS n_buyers,
         ({_ALS_S} * SUM(r.r * u1.u))
           // greatest(SUM(u1.u * u1.u) // {_ALS_S}, 1) AS v
  FROM r JOIN u1 ON r.i = u1.i GROUP BY j)
SELECT j AS p_partkey, n_buyers, CAST(v AS BIGINT) AS factor_fp,
       ROUND(CAST(v AS DOUBLE) / {_ALS_S}, 4) AS factor
FROM v2
ORDER BY p_partkey
"""


@register(
    "reco_als_rank1",
    _ALS_ORACLE,
    doc="Rank-1 implicit-feedback ALS over the customer x part purchase-"
    "count matrix: u0 = S, then two full alternations v = S*sum(r*u) DIV "
    "max(sum(u^2) DIV S, 1) and back — every factor an exact scaled "
    f"BIGINT (S = {_ALS_S}), every sum an exact integer sum, every "
    "division a truncating DIV (Spark DIV == DuckDB //), so the whole "
    "alternation is hash-checkable where float ALS drifts by summation "
    "order (the PageRank fixed-point contract applied to MF). The "
    "greatest(..., 1) guard keeps truncated-to-zero factors from "
    "dividing by zero in later steps. Spark: the ratings frame is "
    "persisted once (3 consumers) and each half-step is one partial-"
    "agg'd shuffle join against the previous BROADCAST factor table "
    "(factor tables are entity-scale, ratings corpus-scale). At 100 TB "
    "the ratings shuffle is the only data-scale move per half-step — "
    "the classic blocked-ALS layout with rank folded to 1.",
)
def reco_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.cache import track

    S = _ALS_S
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    # coalesced: the ratings frame is a few MB at these SFs, and every
    # half-step otherwise pays 32-task scheduling overhead (A/B: 2.4 s
    # vs 6.7 s at sf0.1); at production scale the partition count grows
    # with the data (the _copurchase_edges contract).
    r = track(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("i"), F.col("l_partkey").alias("j"))
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
        .coalesce(8)
        .persist()
    )
    # every half-step via F.expr so division is the truncating DIV
    # (Column "/" is float division)
    v1 = r.groupBy("j").agg(
        F.expr(
            f"({S} * SUM(r * {S}))"
            f" DIV greatest(SUM(CAST({S} AS BIGINT) * {S}) DIV {S}, 1)"
        ).alias("v")
    )
    u1 = (
        r.join(F.broadcast(v1), "j")
        .groupBy("i")
        .agg(
            F.expr(
                f"({S} * SUM(r * v)) DIV greatest(SUM(v * v) DIV {S}, 1)"
            ).alias("u")
        )
    )
    v2 = (
        r.join(F.broadcast(u1), "i")
        .groupBy("j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buyers"),
            F.expr(
                f"({S} * SUM(r * u)) DIV greatest(SUM(u * u) DIV {S}, 1)"
            ).alias("v"),
        )
    )
    return v2.select(
        F.col("j").alias("p_partkey"),
        "n_buyers",
        F.col("v").alias("factor_fp"),
        F.round(F.col("v").cast("double") / S, 4).alias("factor"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# Gradient-boosted stumps (r12): 3 rounds of depth-1 regression trees on
# the lineitem price signal — the boosting extension of ml_tree_depth2's
# histogram split search, exact integer state end-to-end.
# --------------------------------------------------------------------------

_GBT_ROUNDS = 3


def _gbt_round_ctes(m: int, prev: str) -> str:
    """One boosting round as oracle CTEs: two per-feature histograms with
    cumulative windows, candidate union, double-scored winner (inputs are
    identical exact integers in both engines, so the raw IEEE score
    comparison is deterministic), MATERIALIZED residual update (each
    residual CTE is referenced by two histograms + the next round — the
    r8 multi-reference inlining rule)."""
    return f"""
h{m} AS (
  SELECT feat, thr, nl, sl, nt, st FROM (
    SELECT 'quantity' AS feat, q AS thr,
           CAST(SUM(COUNT(*)) OVER (ORDER BY q) AS BIGINT) AS nl,
           CAST(SUM(SUM(r)) OVER (ORDER BY q) AS BIGINT) AS sl,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS nt,
           CAST(SUM(SUM(r)) OVER () AS BIGINT) AS st
    FROM {prev} GROUP BY q
    UNION ALL
    SELECT 'discount' AS feat, disc AS thr,
           CAST(SUM(COUNT(*)) OVER (ORDER BY disc) AS BIGINT),
           CAST(SUM(SUM(r)) OVER (ORDER BY disc) AS BIGINT),
           CAST(SUM(COUNT(*)) OVER () AS BIGINT),
           CAST(SUM(SUM(r)) OVER () AS BIGINT)
    FROM {prev} GROUP BY disc
  ) WHERE nl < nt),
w{m} AS (
  SELECT {m} AS round, feat, thr, nl AS n_l, nt - nl AS n_r,
         sl // nl AS leaf_l, (st - sl) // (nt - nl) AS leaf_r
  FROM (
    SELECT *,
           ROW_NUMBER() OVER (
             ORDER BY CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl
                      + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
                        / (nt - nl) DESC,
                      feat, thr) AS rn
    FROM h{m}
  ) WHERE rn = 1),
r{m} AS MATERIALIZED (
  SELECT q, disc,
         r - CASE WHEN (w{m}.feat = 'quantity' AND q <= w{m}.thr)
                    OR (w{m}.feat = 'discount' AND disc <= w{m}.thr)
                  THEN w{m}.leaf_l ELSE w{m}.leaf_r END AS r
  FROM {prev} CROSS JOIN w{m})"""


def _gbt_sql() -> str:
    ctes = [
        """rows_g AS MATERIALIZED (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS disc,
         CAST(ROUND(l_extendedprice) AS BIGINT) AS y
  FROM lineitem),
t0 AS (SELECT CAST(SUM(y) AS BIGINT) // COUNT(*) AS f0 FROM rows_g),
r0 AS MATERIALIZED (
  SELECT q, disc, y - t0.f0 AS r FROM rows_g CROSS JOIN t0)"""
    ]
    for m in range(1, _GBT_ROUNDS + 1):
        ctes.append(_gbt_round_ctes(m, f"r{m - 1}").strip())
    selects = [
        f"""SELECT w{m}.round, w{m}.feat, w{m}.thr, w{m}.n_l, w{m}.n_r,
       w{m}.leaf_l, w{m}.leaf_r,
       (SELECT CAST(ROUND(CAST(CAST(SUM(r * r) AS BIGINT) AS DOUBLE), 0)
               AS DOUBLE) FROM r{m}) AS sse_after
FROM w{m}"""
        for m in range(1, _GBT_ROUNDS + 1)
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY round"
    )


@register(
    "ml_gbt_stumps",
    _gbt_sql(),
    doc=f"Gradient-boosted regression stumps ({_GBT_ROUNDS} rounds, "
    "squared loss, lr=1) predicting lineitem price dollars from quantity "
    "and discount: each round's split search is the ml_tree_depth2 "
    "histogram form — per-feature value-domain aggregates + cumulative "
    "windows give (n_l, sum_l) for every threshold in one pass, never a "
    "per-threshold scan — and the winning stump's leaf means update the "
    "residuals exactly (integer dollars; sl DIV nl leaves; truncating "
    "DIV matches // per the module contract). The variance-reduction "
    "score is computed in doubles, but from IDENTICAL exact integers on "
    "both engines, so the argmax (score DESC, feat, thr tiebreak) is "
    "deterministic; every reported value (thr, leaf, per-round SSE) is "
    "an exact integer. Oracle: unrolled CTE chain with MATERIALIZED "
    "residual steps (each referenced by two histograms + the next round "
    "— the r8 2^n inlining rule). Spark: the base rows persist once; "
    "per round two value-domain shuffles + a 1-row eager-checkpointed "
    "winner broadcast (two consumers — re-running the histogram lineage "
    "per consumer is the r10 static-plan trap). At 100 TB: split search "
    "cost is O(value domain), residual updates are map-side; the layout "
    "XGBoost-style histogram boosting uses, rank folded to depth 1.",
)
def ml_gbt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.cache import track

    li = load_table(spark, "lineitem", sf_dir)
    # coalesced persists: the row/residual frames are a few MB at these
    # SFs and every round's histogram + update stage otherwise pays the
    # 32-task scheduling floor (the reco_als_rank1 A/B, same fix)
    rows = track(
        li.select(
            F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("q"),
            F.expr("CAST(ROUND(l_discount * 100) AS BIGINT)").alias("disc"),
            F.expr("CAST(ROUND(l_extendedprice) AS BIGINT)").alias("y"),
        ).coalesce(8).persist()
    )
    f0 = rows.agg(
        F.expr("CAST(SUM(y) AS BIGINT) DIV COUNT(*)").alias("f0")
    )
    resid = track(
        rows.crossJoin(F.broadcast(f0))
        .select("q", "disc", (F.col("y") - F.col("f0")).alias("r"))
        .persist()
    )
    out_rows = []
    for m in range(1, _GBT_ROUNDS + 1):
        cands = []
        for feat, col in (("quantity", "q"), ("discount", "disc")):
            h = resid.groupBy(F.col(col).alias("thr")).agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.sum("r").cast("long").alias("s"),
            )
            wcum = Window.orderBy("thr").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            wall = Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            cands.append(
                h.select(
                    F.lit(feat).alias("feat"),
                    "thr",
                    F.sum("cnt").over(wcum).cast("long").alias("nl"),
                    F.sum("s").over(wcum).cast("long").alias("sl"),
                    F.sum("cnt").over(wall).cast("long").alias("nt"),
                    F.sum("s").over(wall).cast("long").alias("st"),
                )
            )
        cand = cands[0].unionByName(cands[1]).filter(F.col("nl") < F.col("nt"))
        score = (
            F.col("sl").cast("double") * F.col("sl").cast("double") / F.col("nl")
            + (F.col("st") - F.col("sl")).cast("double")
            * (F.col("st") - F.col("sl")).cast("double")
            / (F.col("nt") - F.col("nl"))
        )
        wr = Window.orderBy(score.desc(), "feat", "thr")
        # 1-row winner feeds the residual update AND the output row:
        # eager-checkpoint to truncate the histogram lineage (r10 rule)
        w = (
            cand.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select(
                F.lit(m).cast("long").alias("round"),
                "feat",
                "thr",
                F.col("nl").alias("n_l"),
                (F.col("nt") - F.col("nl")).alias("n_r"),
                F.expr("sl DIV nl").alias("leaf_l"),
                F.expr("(st - sl) DIV (nt - nl)").alias("leaf_r"),
            )
            .localCheckpoint(eager=True)
        )
        resid = track(
            resid.crossJoin(F.broadcast(w.select("feat", "thr", "leaf_l", "leaf_r")))
            .select(
                "q",
                "disc",
                (
                    F.col("r")
                    - F.when(
                        ((F.col("feat") == "quantity") & (F.col("q") <= F.col("thr")))
                        | ((F.col("feat") == "discount") & (F.col("disc") <= F.col("thr"))),
                        F.col("leaf_l"),
                    ).otherwise(F.col("leaf_r"))
                ).alias("r"),
            )
            .coalesce(8)
            .persist()
        )
        sse = resid.agg(
            F.round(F.expr("CAST(CAST(SUM(r * r) AS BIGINT) AS DOUBLE)"), 0).alias(
                "sse_after"
            )
        )
        out_rows.append(w.crossJoin(F.broadcast(sse)))
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out.orderBy("round")


# --------------------------------------------------------------------------
# kNN label classifier (r12): supervised evaluation over the embedding
# corpus's label column — majority vote of the 5 nearest train vectors.
# --------------------------------------------------------------------------

_KNN_CLS_K = 5
_KNN_CLS_TEST = 50  # vec_id < 50 -> held-out queries; rest -> train


def _knn_cls_sql() -> str:
    from logflow.queries.llm import _dd_sim

    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS true_label
           FROM embeddings WHERE vec_id < {_KNN_CLS_TEST}),
c AS (SELECT vec_id, embedding, label FROM embeddings
      WHERE vec_id >= {_KNN_CLS_TEST}),
top AS (
  SELECT qid, true_label, label FROM (
    SELECT q.qid, q.true_label, c.label,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {_dd_sim('c.embedding', 'q.qvec')} DESC,
                                       c.vec_id) AS rn
    FROM c, q
  ) WHERE rn <= {_KNN_CLS_K}),
votes AS (
  SELECT qid, true_label, label, count(*) AS cnt
  FROM top GROUP BY 1, 2, 3),
pred AS (
  SELECT qid, true_label, label AS pred_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cnt DESC, label) AS rn
    FROM votes
  ) WHERE rn = 1)
SELECT CAST(true_label AS BIGINT) AS true_label,
       CAST(pred_label AS BIGINT) AS pred_label,
       CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "ml_knn_label_classifier",
    _knn_cls_sql(),
    doc=f"kNN classification eval: each of the {_KNN_CLS_TEST} held-out "
    f"embeddings is labeled by majority vote of its {_KNN_CLS_K} nearest "
    "train vectors (rounded-cosine ranking with vec_id tiebreaks — the "
    "knn_cosine_brute determinism contract — and count DESC, label ASC "
    "vote tiebreaks), reported as the confusion matrix against the "
    "corpus's true labels. This is the op that exercises the embedding "
    "table's LABEL column end-to-end. Spark: cosine_topk broadcasts the "
    "bounded query set so the train corpus never shuffles; votes and "
    "confusion are two label-domain aggregates. At 100 TB: identical "
    "shape to serving brute-force eval — swap cosine_topk for the IVF/"
    "PQ operators in this module for the indexed path.",
)
def ml_knn_label_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.similarity import cosine_topk

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < _KNN_CLS_TEST).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("true_label"),
    )
    train = emb.filter(F.col("vec_id") >= _KNN_CLS_TEST)
    top = cosine_topk(
        train.select("vec_id", "embedding"),
        q.select("qid", "qvec"),
        "vec_id",
        "embedding",
        k=_KNN_CLS_K,
    )
    labeled = top.join(
        train.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )
    votes = labeled.groupBy("qid", "label").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.partitionBy("qid").orderBy(F.desc("cnt"), "label")
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("label").alias("pred_label"))
    )
    out = pred.join(F.broadcast(q.select("qid", "true_label")), "qid")
    return (
        out.groupBy(
            F.col("true_label").cast("long").alias("true_label"),
            F.col("pred_label").cast("long").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_label", "pred_label")
    )


# --------------------------------------------------------------------------
# Multinomial naive Bayes (r12): train-on-4/5, confusion matrix on 1/5 —
# the classic bag-of-words text classifier, fixed-point ln weights.
# --------------------------------------------------------------------------


def _nb_sql() -> str:
    from logflow.queries.llm import TOKS

    return f"""
WITH t AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
tr AS (SELECT * FROM t WHERE doc_id % 5 <> 0),
te AS (SELECT * FROM t WHERE doc_id % 5 = 0),
trtok AS (SELECT source, unnest(toks) AS tok FROM tr),
cnts AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
         FROM trtok GROUP BY 1, 2),
tots AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot FROM cnts GROUP BY 1),
vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM trtok),
priors AS (
  SELECT source,
         CAST(ROUND(ln(CAST(nd AS DOUBLE) / ntot) * 1000000, 0) AS BIGINT)
           AS prior
  FROM (SELECT source, count(*) AS nd, SUM(count(*)) OVER () AS ntot
        FROM tr GROUP BY source)),
w AS (
  SELECT c.source, c.tok,
         CAST(ROUND(ln(CAST(c.cnt + 1 AS DOUBLE) / (t.tot + v.v)) * 1000000,
                    0) AS BIGINT) AS w
  FROM cnts c JOIN tots t USING (source) CROSS JOIN vocab v),
defs AS (
  SELECT t.source,
         CAST(ROUND(ln(1.0 / (t.tot + v.v)) * 1000000, 0) AS BIGINT) AS dflt
  FROM tots t CROSS JOIN vocab v),
tetok AS (SELECT doc_id, unnest(toks) AS tok FROM te),
ten AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tetok GROUP BY 1),
m AS (
  SELECT k.doc_id, w.source, CAST(SUM(w.w) AS BIGINT) AS msum,
         CAST(count(*) AS BIGINT) AS mcnt
  FROM tetok k JOIN w ON k.tok = w.tok GROUP BY 1, 2),
scored AS (
  SELECT te.doc_id, te.source AS true_source, p.source,
         p.prior + COALESCE(m.msum, 0)
           + (COALESCE(n.n, 0) - COALESCE(m.mcnt, 0)) * d.dflt AS score
  FROM te
  LEFT JOIN ten n ON n.doc_id = te.doc_id
  CROSS JOIN priors p
  JOIN defs d ON d.source = p.source
  LEFT JOIN m ON m.doc_id = te.doc_id AND m.source = p.source),
pred AS (
  SELECT doc_id, true_source, source AS pred_source FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, source) AS rn
    FROM scored
  ) WHERE rn = 1)
SELECT true_source, pred_source, CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "ml_naive_bayes_text",
    _nb_sql(),
    doc="Multinomial naive Bayes with Laplace smoothing (alpha=1) "
    "predicting each held-out document's SOURCE from its bag of words "
    "(doc_id %% 5 == 0 held out): per-(source, token) ln weights are "
    "fixed-point — ln of an exactly-derived double ratio, rounded to "
    "1e-6 immediately (the module's ln rule, held every round) — so "
    "document scores are exact BIGINT sums: prior + matched weights + "
    "(n - matched) * unseen-token default, argmax with source tiebreak. "
    "Output is the source confusion matrix. Spark: the weight table is "
    "vocabulary x sources scale and BROADCASTS into the test-token "
    "join; the 5-row prior/default model cross-joins per test doc (the "
    "broadcast-the-model pattern). At 100 TB: training is one (source, "
    "token) partial-agg'd count; scoring is map-side against the "
    "broadcast model — the exact layout production NB scoring uses.",
)
def ml_naive_bayes_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", tokenize(F.col("text")).alias("toks")
    )
    tr = docs.filter(F.col("doc_id") % 5 != 0)
    te = docs.filter(F.col("doc_id") % 5 == 0)
    from logflow.operators.cache import track

    # token frames feed two branches each (counts+vocab / doc-lengths+
    # scoring join): persist once, coalesced per the 32-task-floor rule
    trtok = track(
        tr.select("source", F.explode_outer("toks").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .coalesce(8)
        .persist()
    )
    cnts = trtok.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tots = cnts.groupBy("source").agg(F.sum("cnt").cast("long").alias("tot"))
    vocab = trtok.agg(F.countDistinct("tok").cast("long").alias("v"))
    ndocs = tr.groupBy("source").agg(F.count(F.lit(1)).alias("nd"))
    ntot = ndocs.agg(F.sum("nd").alias("ntot"))
    priors = ndocs.crossJoin(F.broadcast(ntot)).select(
        "source",
        F.expr(
            "CAST(ROUND(ln(CAST(nd AS DOUBLE) / ntot) * 1000000, 0) AS BIGINT)"
        ).alias("prior"),
    )
    w = (
        cnts.join(F.broadcast(tots), "source")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            "tok",
            F.expr(
                "CAST(ROUND(ln(CAST(cnt + 1 AS DOUBLE) / (tot + v)) * 1000000, 0)"
                " AS BIGINT)"
            ).alias("w"),
        )
    )
    defs = tots.crossJoin(F.broadcast(vocab)).select(
        "source",
        F.expr("CAST(ROUND(ln(1.0 / (tot + v)) * 1000000, 0) AS BIGINT)").alias(
            "dflt"
        ),
    )
    tetok = track(
        te.select("doc_id", F.explode_outer("toks").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .coalesce(8)
        .persist()
    )
    ten = tetok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    m = (
        tetok.join(F.broadcast(w), "tok")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("w").cast("long").alias("msum"),
            F.count(F.lit(1)).cast("long").alias("mcnt"),
        )
    )
    model = priors.join(defs, "source")
    scored = (
        te.select("doc_id", F.col("source").alias("true_source"))
        .join(ten, "doc_id", "left")
        .crossJoin(F.broadcast(model))
        .join(m, ["doc_id", "source"], "left")
        .select(
            "doc_id",
            "true_source",
            "source",
            (
                F.col("prior")
                + F.coalesce("msum", F.lit(0).cast("long"))
                + (
                    F.coalesce("n", F.lit(0).cast("long"))
                    - F.coalesce("mcnt", F.lit(0).cast("long"))
                )
                * F.col("dflt")
            ).alias("score"),
        )
    )
    wp = Window.partitionBy("doc_id").orderBy(F.desc("score"), "source")
    pred = (
        scored.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("doc_id", "true_source", F.col("source").alias("pred_source"))
    )
    return (
        pred.groupBy("true_source", "pred_source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_source", "pred_source")
    )
