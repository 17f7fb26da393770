"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each algorithm):

* **exact**: one hash-shuffle on ``md5(text)`` — group sizes are tiny, no
  skew concern; at 100 TB this is the cheapest possible full-corpus dedup.
* **MinHash+LSH**: per-doc signatures are embarrassingly parallel array
  expressions (no shuffle); the only shuffles are the band-bucket
  self-join (keys are md5 buckets → uniformly distributed, no skew) and
  the final pair→shingle join.  Candidate count, not corpus size, drives
  the join cost — the property that makes LSH viable at 100 TB where
  all-pairs (O(n²)) is not.
* **SimHash**: explode(tokens) → 16 conditional sums per doc — a single
  partial-aggregated shuffle on doc_id.
* **n-gram Jaccard**: exact verification; only ever run on a bounded
  candidate set (LSH output or an explicit subset), never all-pairs.

All hashing is md5 (string min = uniform minhash) so the DuckDB oracle
reproduces signatures exactly; no RNG anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from logflow.functions.hashing import md5_int
from logflow.functions.text import char_ngrams, tokenize, word_shingles
from logflow.operators.cache import track

# Default operating point (demo scale). With b bands of r = num_hashes/b
# rows, P(candidate | jaccard=s) = 1 - (1 - s^r)^b — an s-curve with
# threshold ~ (1/b)^(1/r). The defaults (r=2, b=4 → ~0.5) keep the oracle
# cheap at test scale; a REAL corpus run wants 128 hashes / 32 bands
# (r=4 → ~0.42 threshold with a much sharper knee): measured on the
# documents table, both points recall 100% of true j>=0.6 pairs, but
# 128/32 emits ZERO j<0.25 false candidates where 8/4 emits several
# (tests/test_llm.py::test_minhash_operating_points_recall_precision).
# Both knobs are plumbed through minhash_lsh_pairs as arguments.
NUM_HASHES = 8
BANDS = 4  # rows-per-band = NUM_HASHES // BANDS = 2


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct text: content hash, keeper id (min), copy count."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_md5"))
        .agg(
            F.min(id_col).cast("long").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signature(shingles: Column, i: int) -> Column:
    """i-th minhash: lexicographic min of ``md5("{i}:" + shingle)``.

    md5 output is uniform, so the min over hex strings is a valid minhash
    permutation; seeded by prefix ``i:`` per hash function.
    """
    return F.array_min(F.transform(shingles, lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))))


def minhash_signatures_exploded(
    exploded: DataFrame, num_hashes: int = NUM_HASHES
) -> DataFrame:
    """All minhash signatures from (doc_id, s) shingle rows.

    Semantically identical to ``minhash_signature`` per column, but the
    md5s run inside whole-stage codegen over exploded rows instead of
    interpreted higher-order lambdas, and the per-doc min is a hash
    aggregate with map-side combine — the shape that scales (and is
    measurably ~20× faster than the array-transform path at sf0.1).
    """
    return exploded.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"s{i}")
            for i in range(num_hashes)
        ],
        # rebuild the (distinct) shingle set so downstream verification
        # never has to re-derive it — rows are distinct by construction
        F.collect_set("s").alias("sh"),
    )


def shingle_explode(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(doc_id, shingle) rows — distinct word-k-shingles exploded.

    Tokens are materialized in their own projection so the shingle lambda
    references a computed array (not the re-inlined tokenize expression),
    and there is deliberately NO ``filter(size(sh) > 0)``: explode already
    drops empty arrays, and an explicit size filter gets predicate-pushed
    below the scan-rebalance repartition with the ENTIRE interpreted
    shingle expression re-inlined into the filter condition (plus an
    inferred isnotnull twin) — measured as the whole corpus being
    shingled 2× extra on one task (~18 s of a 20 s stage at sf0.1).
    """
    toks = df.select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks"))
    sh = F.array_distinct(word_shingles(F.col("toks"), k))
    return toks.select("doc_id", F.explode(sh).alias("s"))


def shingled_docs(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, distinct word-k-shingles), docs with <k words dropped."""
    sh = F.array_distinct(word_shingles(tokenize(F.col(text_col)), k))
    return df.select(F.col(id_col).alias("doc_id"), sh.alias("sh")).filter(F.size("sh") > 0)


def band_buckets(
    sigs: DataFrame, num_hashes: int = NUM_HASHES, bands: int = BANDS
) -> DataFrame:
    """(doc_id, band, bucket) rows: md5 over each band's signature slice.

    The bucket id is md5 of the concatenated rows-per-band signature slice —
    a uniform key, so a band-bucket equi-join never skews.
    """
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"s{b * rows_per_band + r}") for r in range(rows_per_band)]
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("doc_id", F.inline(band_structs))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """LSH candidate pairs with exact Jaccard over distinct shingle sets.

    Returns (doc_a, doc_b, jaccard) for every pair sharing ≥1 band bucket.
    """
    # The signature table feeds four plan branches (both sides of the
    # bucket self-join, both sides of the pair join), so it is
    # materialized EAGERLY before the join phase is built: a lazily
    # filled persist() races — parallel stages hit the uncached subtree
    # simultaneously and recompute the md5 storm per branch (measured
    # 4× cost at sf0.1).  The count() is the in-session equivalent of
    # writing signatures to an intermediate table, which is exactly what
    # a 100 TB run would do between the signature and join phases.
    sigs = track(minhash_signatures_exploded(
        shingle_explode(df, id_col, text_col, k), num_hashes
    ).persist())
    sigs.count()
    buckets = band_buckets(sigs, num_hashes, bands)
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    da = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter).cast("double")
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
    )


def minhash_lsh_pairs_incremental(
    indexed: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """Cross-batch LSH: candidates between an INCOMING batch and the
    already-INDEXED corpus — (doc_old, doc_new, jaccard).

    The incremental-ingest shape of near-dup dedup: at 100 TB the corpus's
    signature + band-bucket tables are materialized once (here simulated by
    computing them; in production they are the stored index), and each
    incoming batch pays signature cost proportional to the BATCH only, then
    one bucket equi-join against the index — never a full-corpus rescan,
    and never batch×corpus pairs.  Within-batch duplicates are a separate
    (batch-sized) ``minhash_lsh_pairs`` call; this operator covers the
    batch→corpus direction that incremental ingestion adds.
    """
    sig_old = track(minhash_signatures_exploded(
        shingle_explode(indexed, id_col, text_col, k), num_hashes
    ).persist())
    sig_old.count()  # the materialized index (see minhash_lsh_pairs)
    sig_new = track(minhash_signatures_exploded(
        shingle_explode(batch, id_col, text_col, k), num_hashes
    ).persist())
    sig_new.count()
    bo = band_buckets(sig_old, num_hashes, bands).alias("o")
    bn = band_buckets(sig_new, num_hashes, bands).alias("n")
    pairs = (
        bo.join(
            bn,
            (F.col("o.band") == F.col("n.band")) & (F.col("o.bucket") == F.col("n.bucket")),
        )
        .select(F.col("o.doc_id").alias("doc_old"), F.col("n.doc_id").alias("doc_new"))
        .distinct()
    )
    da = sig_old.select(F.col("doc_id").alias("doc_old"), F.col("sh").alias("sh_a"))
    db = sig_new.select(F.col("doc_id").alias("doc_new"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter).cast("double")
    return (
        pairs.join(da, "doc_old")
        .join(db, "doc_new")
        .select("doc_old", "doc_new", F.round(jacc, 4).alias("jaccard"))
    )


def simhash_16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash per doc (token-frequency weighted).

    Token hash = first 16 bits of md5; per bit j, sum ±1 over tokens;
    bit set when the sum ≥ 0.  Returns (doc_id, simhash, n_bucket).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("tok"),
    )
    h16 = F.expr(md5_int("tok", digits=4)).cast("int")
    sums = toks.withColumn("h16", h16).groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("h16").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)).alias(
                f"b{j}"
            )
            for j in range(16)
        ]
    )
    simhash = sum(
        [F.when(F.col(f"b{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(16)],
        start=F.lit(0),
    ).cast("long")
    from pyspark.sql import Window

    out = sums.select("doc_id", simhash.alias("simhash"))
    return out.withColumn(
        "n_bucket", F.count(F.lit(1)).over(Window.partitionBy("simhash")).cast("long")
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 4, threshold: float = 0.0
) -> DataFrame:
    """Exact char-n-gram Jaccard over all pairs of ``df`` — caller bounds
    the input (this is the verification step, not the discovery step)."""
    lowered = df.select(F.col(id_col).alias("doc_id"), F.lower(F.col(text_col)).alias("lt"))
    grams = lowered.select(
        "doc_id",
        F.array_distinct(char_ngrams(F.col("lt"), n, pre_lowered=True)).alias("g"),
    ).filter(F.size("g") > 0)
    a = grams.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("g_a"))
    b = grams.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    jacc = inter.cast("double") / (F.size("g_a") + F.size("g_b") - inter).cast("double")
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    src: str = "vec_a",
    dst: str = "vec_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (node, component) where
    ``component`` is the minimum node id reachable from ``node``.

    The dedup endgame: pair emitters (MinHash/SimHash/embedding LSH) give
    edges; keeping one canonical doc per *transitive* group needs connected
    components, not pairs.  Implemented as iterative min-label propagation:
    each round every node takes the min of its own and its neighbors'
    labels, via a shuffle-join on the edge list — converges in O(cluster
    diameter) rounds.  Near-dup clusters are dense and shallow (diameter
    ≲ 5 in practice), so this beats the log-round large-star/small-star
    scheme that rewrites (and re-shuffles) the whole edge list each round.

    Per-round mechanics that matter at scale: `localCheckpoint` truncates
    the lineage (otherwise plan depth grows linearly and Catalyst re-
    analysis dominates); convergence is detected with a changed-label
    count, so iteration stops as soon as the data says so.  Raises if not
    converged within ``max_iterations`` (a diameter that large means the
    threshold is merging everything — a data problem to surface, not mask).
    """
    fwd = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
    und = und.localCheckpoint(eager=True)
    # Right-size the edge list's partitioning: pair emitters leave one
    # near-empty partition per shuffle reducer, and every propagation round
    # would inherit that task count.  Narrow coalesce after the checkpoint;
    # ~100k edges per task keeps rounds one-task-per-core at real scale.
    # The target comes from the edge COUNT alone (the count() action is
    # needed for sizing anyway) — no .rdd.getNumPartitions(), which forces
    # a DataFrame→RDD plan conversion; coalesce never raises partitions,
    # so min() against the current count is redundant.
    n_parts = max(1, und.count() // 100_000 + 1)
    und = und.coalesce(n_parts)
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
        .coalesce(n_parts)
    )
    for _ in range(max_iterations):
        nbr_min = (
            und.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("a", "node")
        )
        # Carry old_comp through the step so convergence detection is a
        # filter over the (already materialized) checkpoint, not an extra
        # join; the lazy checkpoint is materialized exactly once, by the
        # changed-count action.
        stepped = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("comp").alias("old_comp"),
                F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter(F.col("comp") != F.col("old_comp")).count()
        labels = stepped.select("node", "comp")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT token-set Jaccard similarity self-join via prefix filtering
    (the PPJoin family) — the complement to MinHash+LSH: no probabilistic
    recall, every pair with jaccard >= num/den is returned, guaranteed.

    Principle: order every doc's distinct tokens by GLOBAL rarity (document
    frequency asc, token asc — a total order shared by all docs). For
    Jaccard >= t a pair must share at least one token within each side's
    first ``sz - ceil(t*sz) + 1`` tokens, so joining on prefix tokens only
    — the rarest ones — yields a candidate set with zero false negatives
    and (because prefixes hold rare tokens) few false positives.

    Exactness: the threshold is a RATIONAL (num/den), and both the prefix
    length ``sz - (num*sz + num - 1) DIV den`` [+1] and the final filter
    ``inter*den >= num*(sza+szb-inter)`` are integer arithmetic — IEEE
    ``ceil(0.8*sz)`` over-ceils when t*sz is an exact integer (0.8*5 →
    4.0000000000000002 → 5), which would SHORTEN the prefix and silently
    drop true pairs. No float touches any pruning decision.

    100 TB story: df-counts are one partial-agg'd shuffle; the rarity sort
    is a per-doc window on the doc key; the candidate join keys on PREFIX
    tokens whose frequency is low by construction (the common-token skew
    that kills a naive token self-join never reaches the join); the verify
    step joins candidates (not corpus²) back to token sets. Cost tracks
    candidate count — the same scaling argument as LSH, but exact.
    """
    toks = F.array_distinct(tokenize(text_col))
    # persisted: read 4x (df-counts, rarity ranking, both verify joins) —
    # without it Catalyst re-tokenizes the corpus per consumer (6 scans);
    # the "write the token table once" phase of a real 100 TB run.
    e = track(
        df.select(F.col(id_col).alias("doc"), F.explode_outer(toks).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc")))
        .persist()
    )
    dfc = e.groupBy("tok").agg(F.count(F.lit(1)).alias("dfc"))
    rarity = Window.partitionBy("doc").orderBy("dfc", "tok")
    # minimum required overlap = ceil(num*sz/den), computed exactly:
    # ceil(a/b) == (a + b - 1) DIV b for positive ints. Spark DIV and
    # DuckDB // are both truncating integer division — never `/` here
    # (Spark `/` is ALWAYS double division; see CLAUDE.md fixed-point rule).
    min_overlap = F.expr(
        f"(sz * {threshold_num} + {threshold_den - 1}) DIV {threshold_den}"
    )
    prefix_len = F.col("sz") - min_overlap + 1
    r = e.join(dfc, "tok").withColumn("rn", F.row_number().over(rarity))
    # persisted: the candidate self-join reads it twice (sides a and b).
    pfx = track(r.filter(F.col("rn") <= prefix_len).select("doc", "tok", "sz").persist())
    a = pfx.select(
        F.col("doc").alias("da"), F.col("tok").alias("tok_a"), F.col("sz").alias("sza")
    )
    b = pfx.select(
        F.col("doc").alias("db"), F.col("tok").alias("tok_b"), F.col("sz").alias("szb")
    )
    cand = (
        a.join(b, (a.tok_a == b.tok_b) & (a.da < b.db))
        .select("da", "db", "sza", "szb")
        .distinct()
    )
    toks_only = e.select("doc", "tok")
    ca = cand.join(toks_only, cand.da == toks_only.doc).select("da", "db", "sza", "szb", "tok")
    inter = (
        ca.join(
            toks_only.select(F.col("doc").alias("doc_b"), F.col("tok").alias("tok_b2")),
            (F.col("doc_b") == F.col("db")) & (F.col("tok_b2") == F.col("tok")),
        )
        .groupBy("da", "db", "sza", "szb")
        .agg(F.count(F.lit(1)).alias("ix"))
    )
    union_sz = F.col("sza") + F.col("szb") - F.col("ix")
    return (
        inter.filter(
            F.col("ix") * F.lit(threshold_den) >= F.lit(threshold_num) * union_sz
        )
        .select(
            F.col("da").cast("long").alias("doc_a"),
            F.col("db").cast("long").alias("doc_b"),
            F.round(F.col("ix").cast("double") / union_sz.cast("double"), 6).alias(
                "jaccard"
            ),
        )
    )
