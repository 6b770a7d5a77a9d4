"""Text-analysis + dedup workload over the `documents` fixture.

Oracle-parity notes:
- DuckDB `regexp_replace` replaces the FIRST match unless passed the
  'g' flag; Spark replaces all — every oracle regex uses 'g'.
- `string_split(text, ' ')` (DuckDB) and `split(text, ' ')` (Spark)
  both keep trailing empty fields — pinned by tests.
- All ratio arithmetic is division of exact ints → identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from steel_energy_consumption_prediction_using_pyspark_spark.functions.scalar import (
    histogram,
)
from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
    dedup as D,
)
from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
    text as X,
)
from steel_energy_consumption_prediction_using_pyspark_spark.operators.arrow import (
    gram_windows,
    list_parts,
)
from steel_energy_consumption_prediction_using_pyspark_spark.sources.readers import (
    read_parquet,
)
from steel_energy_consumption_prediction_using_pyspark_spark.workload.util import (
    T,
    fixture_fingerprint,
    fs_key_lock,
    is_published,
    key_lock,
    once_per_key,
    publish_dir,
)

STOPWORDS = X.DEFAULT_STOPWORDS
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
_WORD_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg(F.length("text")), 4).alias("avg_len"),
            F.round(F.avg(X.token_count("text")), 4).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex word/number/symbol token counting (the BPE-ish estimator)."""
    d = T(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.sum(F.size(X.word_tokens("text"))).alias("total_word_tokens"),
            F.round(F.avg(F.size(X.word_tokens("text"))), 4).alias("avg_word_tokens"),
        )
        .orderBy("source")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score (length/stopword/word-length gates)."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        F.round(X.stopword_ratio("text", STOPWORDS), 6).alias("stop_ratio"),
        F.round(X.quality_score("text"), 2).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language guess vs the labeled lang column."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("lang", X.lang_guess("text").alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("lang", "guess")
    )


def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup audit per source: doc count vs distinct normalized
    fingerprints, plus the deterministic survivor count."""
    d = T(spark, sf_dir, "documents")
    fps = d.select("source", X.fingerprint("text").alias("fp"), "doc_id")
    return (
        fps.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source")
    )


def q_dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact_dedup as a row-level operator: survivors of min-id-per-
    fingerprint, aggregated for a stable small output."""
    d = T(spark, sf_dir, "documents")
    kept = D.exact_dedup(d, "text", "doc_id")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
    ).orderBy("lang")


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram op (A9) applied to a derived column: token counts."""
    d = T(spark, sf_dir, "documents").select(
        X.token_count("text").alias("n_toks")
    )
    return histogram(d, "n_toks", nbins=10)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard pairs within same-source blocks."""
    d = T(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "text", "doc_id", block_col="source", shingle_n=3, threshold=0.03
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment within same-source blocks
    (operators/dedup.py::ngram_containment_pairs): quote/excerpt/
    boilerplate-inclusion detection, the asymmetric measure Jaccard
    misses."""
    d = T(spark, sf_dir, "documents")
    pairs = D.ngram_containment_pairs(
        d, "text", "doc_id", block_col="source", shingle_n=3, threshold=0.05
    )
    return pairs.select(
        "id_a", "id_b", F.round("containment", 4).alias("containment")
    )


def _with_planted_dups(d: DataFrame, n: int = 10, offset: int = 10_000_000) -> DataFrame:
    """Deterministic near-dup test harness: re-inject the first `n`
    docs (by id) with offset ids so sketch-based dedup has guaranteed
    positives to find."""
    clones = (
        d.orderBy("doc_id")
        .limit(n)
        .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
    )
    return d.unionByName(clones)


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pipeline in one plan:
    score (quality + language) → filter → exact-dedup (min-id per
    fingerprint) → per-language corpus stats. Every stage is built-in
    Catalyst expressions, so the whole pipeline is one logical plan —
    filters push into the scan, the dedup is one shuffle, the final
    agg a second."""
    d = T(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        X.token_count("text").alias("n_tokens"),
        X.quality_score("text").alias("quality"),
        X.fingerprint("text").alias("fp"),
    ).filter((F.col("quality") >= 0.7) & (F.col("n_tokens") >= 20))
    kept = scored.join(
        scored.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang")
    )


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sketch (operators/text.py, Schleimer et
    al. 2003) summarized per language: docs, avg fingerprints/doc,
    corpus-distinct fingerprints. md5 gram hashes keep the sketch
    engine-portable, so unlike minhash/simhash this sketch IS
    DuckDB-oracle-checked."""
    d = T(spark, sf_dir, "documents")
    fps = X.with_winnow_fingerprints(
        d.select("doc_id", "lang", "text"), "text", k=3, w=4, drop_text=True
    )
    # The persist is a CORRECTNESS-OF-PLAN barrier, not a cache nicety:
    # the explode below makes the optimizer infer `size(fps) > 0` and
    # push it beneath the staged projections, substituting the whole
    # winnow pipeline into one inline filter expression whose nested
    # HOF lambdas re-evaluate each other per element — O(windows ×
    # grams × tokens) per doc, measured 90 s vs 0.7 s on sf0.01. The
    # cache boundary stops the pushdown (and the two aggregation
    # branches share one evaluation). At 100 TB the same role is
    # played by materializing the fingerprint table.
    fps = fps.persist()
    per_lang = fps.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.size("fps")), 4).alias("avg_fps"),
    )
    distinct_fps = (
        fps.select("lang", F.explode("fps").alias("fp"))
        .groupBy("lang")
        .agg(
            F.countDistinct("fp").alias("n_distinct_fps"),
            F.min("fp").alias("min_fp"),
        )
    )
    return per_lang.join(distinct_fps, "lang").orderBy("lang")


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval via POSITIONAL posting lists — the IR
    capability a bag-of-words inverted index can't express: find the
    corpus' most frequent bigram (deterministic count/tiebreak), then
    locate every occurrence by joining the two terms' postings on
    (doc, pos+1 = pos) — adjacency, not co-occurrence. Output: the
    phrase, how many docs contain it, total occurrences, and docs
    where it appears more than once. Scale shape: postings shuffle
    once on the term; the adjacency join only touches the two query
    terms' lists (term-pruned, never the full index)."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(X.tokens(X.normalize_text(F.col("text")))).alias(
            "pos", "tok"
        ),
    )
    toks = toks.persist()  # feeds both posting sides of the lookup
    # Bigram mining stays per-row zip_with (no positional self-join —
    # the keyword_pagerank rule); the adjacency JOIN below is reserved
    # for the phrase LOOKUP, where it touches only the query terms'
    # postings.
    tkarr = d.select(X.tokens(X.normalize_text(F.col("text"))).alias("w"))
    n = F.size("w")
    grams = tkarr.filter(n >= 2).select(
        F.explode(
            F.zip_with(
                F.slice(F.col("w"), 1, n - 1),
                F.slice(F.col("w"), 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("g")
    )
    bigrams = grams.groupBy(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = bigrams.orderBy(
        F.desc("cnt"), F.asc("w1"), F.asc("w2")
    ).limit(1)
    hits = (
        toks.alias("p1")
        .join(F.broadcast(top), F.col("p1.tok") == F.col("w1"))
        .join(
            toks.alias("p2"),
            (F.col("p2.doc_id") == F.col("p1.doc_id"))
            & (F.col("p2.pos") == F.col("p1.pos") + 1)
            & (F.col("p2.tok") == F.col("w2")),
        )
        .select("w1", "w2", F.col("p1.doc_id").alias("doc_id"))
    )
    per_doc = hits.groupBy("w1", "w2", "doc_id").agg(
        F.count(F.lit(1)).alias("occ")
    )
    return per_doc.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("occ").cast("bigint").alias("n_occurrences"),
        F.sum((F.col("occ") > 1).cast("long")).alias("n_docs_repeat"),
    )


# Document-frequency cap for winnow_pairs' fingerprint posting lists
# (round 8, VERDICT r7 #1). A fingerprint shared by L documents emits
# L·(L−1)/2 candidate pairs in the inverted-index self-join — without
# a cap, one boilerplate fingerprint (a phrase every template repeats)
# makes the join quadratic in corpus size (measured ~101× box-adjusted
# growth on the 10× sf1→sf10 doc rung). Fingerprints with df > CAP are
# DROPPED before pairing: they are the stop-grams of the fingerprint
# domain — shared so widely they no longer discriminate pairs (the
# MOSS/plagiarism-detection "common code elimination" move, and the
# same df-band idea passage_scrub uses in the other direction). True
# near-dup clusters stay far under the cap (the sf10 fixture's clone
# families have df ≈ 11), so planted-clone recall is unchanged —
# pinned by tests/test_text_dedup.py::test_winnow_pairs_df_cap_recall.
# With the cap, candidates ≤ n_fingerprints · C(CAP, 2): LINEAR in
# corpus size — the 100 TB contract.
WINNOW_DF_CAP = 50


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIR MINING from winnowing fingerprints — the
    inverted-index tier between exact dedup and minhash banding:
    explode each doc's fingerprint set, drop boilerplate fingerprints
    (document frequency > WINNOW_DF_CAP — see the constant's comment:
    this is what keeps the self-join linear in corpus size), equi-join
    on the fingerprint (only docs sharing a surviving fingerprint ever
    meet — bucketed by construction, never all-pairs), count shared
    prints per pair, keep pairs sharing ≥ 2. The winnowing guarantee
    makes this positional: any shared token run ≥ k+w−1 (= 6) surfaces
    at least one shared fingerprint, so copied PASSAGES are caught
    even when whole-document similarity is negligible (the
    plagiarism-detection shape, vs minhash's whole-set resemblance).
    Top-20 by shared count with id tiebreaks. Same md5 portability and
    plan-barrier persist as q_winnowing."""
    d = T(spark, sf_dir, "documents")
    fps = X.with_winnow_fingerprints(
        d.select("doc_id", "text"), "text", k=3, w=4, drop_text=True
    )
    fps = fps.persist()  # plan barrier — see q_winnowing's comment
    pairs = X.winnow_pair_counts(
        fps, "doc_id", "fps", df_cap=WINNOW_DF_CAP, min_shared=2
    )
    return pairs.orderBy(
        F.desc("shared_fps"), F.asc("id_a"), F.asc("id_b")
    ).limit(20)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates — FULL SQL oracle since round 3:
    the signature family is 32 affine permutations (aᵢ·h + bᵢ) mod
    (2⁶¹−1) over a portable md5-derived 32-bit gram hash
    (operators/dedup.py::_minhash_params / gram_hash32 — replaced the
    Spark-internal seeded xxhash64), and band keys are the literal
    signature slices, so DuckDB re-derives signatures, banding, the
    bucket join AND the exact-Jaccard verification — the entire LSH
    tier value-checked end to end (the ann_lsh treatment, applied to
    dedup). Planted exact clones guarantee recall>0; pytest pins that
    every planted pair is found."""
    d = _with_planted_dups(T(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=32, bands=8, jaccard_threshold=0.5
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (no SQL oracle: xxhash64-based)."""
    d = _with_planted_dups(T(spark, sf_dir, "documents"))
    pairs = D.simhash_pairs(d, "text", "doc_id", max_hamming=4, block_col="lang")
    return pairs


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → transitive dedup CLUSTERS: connected components
    over the 3-shingle Jaccard graph by iterative min-label propagation
    (operators/dedup.py::connected_components). Pairwise dedup alone
    under-removes (a~b and b~c must collapse {a,b,c} even when a~c is
    below threshold); this is the step that turns a pair list into
    dedup groups. Two planted clone generations guarantee size-3
    clusters so the closure is exercised on both engines. Oracle:
    recursive-CTE transitive closure with min-reachable-label."""
    d = T(spark, sf_dir, "documents")
    aug = _with_planted_dups(
        _with_planted_dups(d, 10, 10_000_000), 10, 20_000_000
    )
    pairs = D.ngram_jaccard_pairs(
        aug, "text", "doc_id", block_col="source", shingle_n=3, threshold=0.03
    )
    comp = D.connected_components(
        pairs, aug.select("doc_id"), id_col="doc_id", src_col="id_a", dst_col="id_b"
    )
    sizes = comp.groupBy("cluster").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.min("cluster").alias("min_cluster"),
        )
        .orderBy("size")
    )


def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'which copy do we keep' decision after transitive dedup:
    one canonical document per near-dup cluster, chosen by best
    quality score with a doc_id tiebreak — selected via struct-max
    (max(struct(q, −doc_id))): a map-side-combinable hash aggregate,
    no per-cluster window sort (the er_match lesson). Same planted-
    clone cluster machinery as dedup_clusters, so singleton clusters
    keep their only doc and clone clusters resolve to the ORIGINAL
    (clones share the text hence the quality; the id tiebreak picks
    the pre-augmentation id). Output: per-source representative
    stats."""
    d = T(spark, sf_dir, "documents")
    aug = _with_planted_dups(
        _with_planted_dups(d, 10, 10_000_000), 10, 20_000_000
    )
    pairs = D.ngram_jaccard_pairs(
        aug, "text", "doc_id", block_col="source", shingle_n=3, threshold=0.03
    )
    comp = D.connected_components(
        pairs, aug.select("doc_id"), id_col="doc_id", src_col="id_a", dst_col="id_b"
    )
    scored = aug.select(
        "doc_id", "source", X.quality_score("text").alias("q")
    ).join(comp, F.col("doc_id") == F.col("id")).drop("id")
    best = scored.groupBy("cluster").agg(
        F.max(F.struct(F.col("q"), (-F.col("doc_id")).alias("_nid"))).alias("m"),
        F.count(F.lit(1)).alias("size"),
    )
    reps = best.select(
        (-F.col("m._nid")).alias("doc_id"),
        F.col("m.q").alias("rep_q"),
        "size",
    )
    return (
        reps.join(aug.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum((F.col("size") > 1).cast("long")).alias("n_multi"),
            F.round(F.avg("rep_q"), 4).alias("avg_rep_quality"),
            F.sum("doc_id").cast("bigint").alias("rep_id_sum"),
        )
        .orderBy("source")
    )


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring over the corpus, top-20 (term, doc) pairs:
    tokenize → (doc, term) tf agg → df agg over the tf table (already
    distinct per doc) → smoothed idf ln((N+1)/(df+1))+1 (the sklearn
    formulation, fixed explicitly so both engines compute the same
    expression) → weight, total-order tiebreak on (term, doc).
    Plan shape: two hash aggs + one shuffle join on term + a top-k
    sort of the scored pairs; N broadcasts from a 1-row agg. The
    corpus-frequency join is the same shape MinHash banding uses —
    nothing here exceeds two shuffles of (doc, term) pairs."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", X.tokens(X.normalize_text("text")).alias("tk")
    )
    tok = d.select("doc_id", F.explode("tk").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = T(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    idf = F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    return (
        tf.join(dfx, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            "doc_id",
            "tf",
            "df",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
        .orderBy(F.desc("tfidf"), "term", "doc_id")
        .limit(20)
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing by deterministic stratified sampling
    (operators/relational.py::stratified_hash_sample): downsample the
    over-represented language hard (en→10%), mid languages to 50%,
    keep the rest whole. The hash-threshold scheme makes samples
    nested — the 10% set is a subset of the 50% set — which is what
    reproducible scaling-law ablations need. Pure filter, pushed to
    the scan; no shuffle before the audit aggregate."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.relational import (
        stratified_hash_sample,
    )

    d = T(spark, sf_dir, "documents")
    sampled = stratified_hash_sample(
        d, "lang", {"en": 0.1, "es": 0.5, "zh": 0.5}, "doc_id", default_rate=1.0
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("lang")
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/text.py::chunk_text): 128-char
    chunks, 32 overlap. md5 of every chunk makes the oracle compare
    content-exact, not just lengths."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.text import (
        chunk_text,
    )

    d = T(spark, sf_dir, "documents")
    chunks = chunk_text(d, "text", size=128, overlap=32)
    return chunks.select(
        "doc_id", "chunk_idx", "chunk_len", F.md5("chunk_text").alias("chunk_md5")
    ).orderBy("doc_id", "chunk_idx")


def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-shingle Jaccard ≥ 0.5 by prefix filtering
    (operators/dedup.py::prefix_jaccard_pairs) over an 800-doc slice
    plus 10 planted clones — the candidate join touches only
    rarest-shingle prefix rows, never the cross product. The DuckDB
    oracle IS the brute-force O(n²) verification, so the hash match
    proves exactness, not just plausibility."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 800).select(
        "doc_id", "text"
    )
    clones = (
        d.orderBy("doc_id")
        .limit(10)
        .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    )
    u = d.unionByName(clones)
    pairs = D.prefix_jaccard_pairs(u, threshold=0.5, shingle_n=3)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (Robertson-Spärck Jones; k1=1.2, b=0.75)
    of the whole corpus against the 3 highest-df terms, top-15 docs.
    Everything derives from integer counts (tf, df, N, doc lengths —
    all exactly representable), so the float expression sequence is
    bit-identical across engines; per-term scores are rounded to 6
    BEFORE the per-doc sum, making the 3-term sum a near-multiple of
    1e-6 that summation order cannot push across a rounding boundary.
    Plan: the tf/df aggregations of tfidf + a broadcast of the 3-term
    query + one shuffle join on doc_id for length normalization —
    scoring touches only the query terms' postings, never the full
    token table."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", X.tokens(X.normalize_text("text")).alias("tk")
    )
    dl = d.select("doc_id", F.size("tk").cast("double").alias("dl"))
    tok = d.select("doc_id", F.explode("tk").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    qterms = dfx.orderBy(F.desc("df"), F.asc("term")).limit(3)
    k1, b = 1.2, 0.75
    idf = F.log(
        (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    term_score = F.round(
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        ),
        6,
    )
    return (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("s"), 6).alias("bm25"),
            F.count(F.lit(1)).alias("terms_hit"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(15)
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining (Church & Hanks
    1990): which adjacent word pairs co-occur far above chance —
    PMI = ln(c(ab)·T / (c(a)·c(b))) over corpus-wide bigram/unigram
    counts, min support 5, top-20 by (PMI, pair). The multiword-
    expression detector of a tokenizer-prep pipeline. All counts are
    integers, so the PMI float sequence is engine-identical. Plan:
    one explode→agg for unigrams, one shingle→agg for bigrams, two
    broadcast-joinable lookups of the unigram table (its distinct-term
    cardinality is vocabulary-sized, not corpus-sized)."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", X.tokens(X.normalize_text("text")).alias("tk")
    )
    uni = (
        d.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    big = (
        # Arrow positional-gram kernel (round 10) — same rows as
        # explode(shingles_from(tk, 2)).
        X.pos_grams_arrow(d.select(F.col("tk").alias("_tk")), 2, [])
        .select(F.col("gram").alias("ab"))
        .groupBy("ab")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= 5)
    )
    tot = d.select(F.explode("tk").alias("w")).agg(
        F.count(F.lit(1)).cast("double").alias("t")
    )
    a = F.split_part(F.col("ab"), F.lit(" "), F.lit(1))
    b = F.split_part(F.col("ab"), F.lit(" "), F.lit(2))
    pmi = F.round(
        F.log(
            F.col("cab").cast("double")
            * F.col("t")
            / (F.col("ca").cast("double") * F.col("cb").cast("double"))
        ),
        6,
    )
    return (
        big.withColumn("wa", a)
        .withColumn("wb", b)
        .join(F.broadcast(uni.select(F.col("w").alias("wa"), F.col("cw").alias("ca"))), "wa")
        .join(F.broadcast(uni.select(F.col("w").alias("wb"), F.col("cw").alias("cb"))), "wb")
        .crossJoin(F.broadcast(tot))
        .select("ab", "cab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("ab"))
        .limit(20)
    )


def q_skipgram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts within a ±2
    window — the count table word2vec/GloVe training starts from.
    Pair generation is a per-row higher-order expression (sequence →
    nested transform over the 4 offsets → filter), so the 4n pairs per
    document materialize only in the explode feeding the count
    aggregation — no self-join on position, no shuffle before the
    (wa, wb) groupBy. Window edges are guarded with try_element_at
    (plain element_at throws on index 0). Top-20 pairs with full
    lexicographic tiebreak."""
    d = T(spark, sf_dir, "documents").select(
        X.tokens(X.normalize_text("text")).alias("_tk")
    )
    # The ±2-window pair multiset {(tk[i], tk[i+o]) : o ∈ ±1,±2, both
    # indices in range} equals, for o ∈ {1, 2}, the forward pairs
    # (tk[i], tk[i+o]) plus their mirrored (tk[i+o], tk[i]) — so one
    # Arrow kernel emits both directions from two shifted gathers
    # (round 10), replacing the interpreted sequence→transform→filter→
    # flatten HOF nest (4 lambdas per token). Pair ORDER is irrelevant
    # under the groupBy; rows with NULL/1-token arrays emit nothing,
    # exactly as the n≥2 filter + windows-in-range guards did. Parity
    # pinned by tests/test_text_dedup.py::
    # test_skipgram_kernel_matches_expression.
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [StructField("wa", StringType()), StructField("wb", StringType())]
    )

    def _pairs(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            nrows = b.num_rows
            if nrows == 0:
                continue
            offs, valid, vals = list_parts(b.column("_tk"))
            sizes = offs[1:] - offs[:-1]
            out_a, out_b = [], []
            for o in (1, 2):
                idx, _ = gram_windows(
                    offs, np.where(valid, np.maximum(sizes - o, 0), 0)
                )
                a = vals.take(pa.array(idx))
                bb = vals.take(pa.array(idx + o))
                out_a += [a, bb]
                out_b += [bb, a]
            wa = pa.concat_arrays(out_a)
            if len(wa):
                yield pa.RecordBatch.from_arrays(
                    [wa, pa.concat_arrays(out_b)], ["wa", "wb"]
                )

    return (
        d.mapInArrow(_pairs, schema)
        .groupBy("wa", "wb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("wa"), F.asc("wb"))
        .limit(20)
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: term → sorted posting list, the
    storage layout of every search engine. Postings build as ONE
    aggregation per term (sort_array(collect_set(doc_id)) — set dedups
    multi-occurrence, sort makes the list canonical); the output keeps
    the 20 rarest indexable terms (df ≥ 5, the low-value tail cut) so
    the driver compares full posting lists, serialized to a string the
    engines render identically. At 100 TB posting lists for stop-words
    are the skew risk — the df band IS the mitigation (common terms
    route to the sketch/impact-ordered tier, not raw postings)."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", X.tokens(X.normalize_text("text")).alias("tk")
    )
    tok = d.select("doc_id", F.explode(F.array_distinct("tk")).alias("term"))
    postings = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.sort_array(F.collect_set("doc_id")), ","
        ).alias("postings"),
    )
    return (
        postings.filter(F.col("df") >= 5)
        .orderBy(F.asc("df"), F.asc("term"))
        .limit(20)
    )




def _content_word_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (src < dst) distinct co-occurrence pairs of content
    words (alphabetic, length ≥ 5) within a ±2-token window — the
    word-graph edge builder shared by keyword_pagerank and
    word_triangles. Pair generation is per-row zip_with over sliced
    token arrays (no positional self-join).

    The content-word projection is materialized (eager
    localCheckpoint) BEFORE the ≥3-word filter and the slice/zip_with
    consumers: filters and multiple column references over an
    interpreted HOF projection are substituted by Catalyst, so the
    lazy plan would re-run the per-token regexp chain once per slice /
    size / inferred-explode-filter occurrence (~8×) — the
    dedup-postings lesson (operators/dedup.py::_materialized_postings)
    applied to the word graph. The distinct pair set is checkpointed
    too: keyword_pagerank reads it twice (symmetrization) and
    word_triangles three times (wedge join)."""
    d = T(spark, sf_dir, "documents").select(
        X.tokens(X.normalize_text("text")).alias("_tk")
    )
    # The clean→filter→pair chain runs as ONE Arrow kernel (round 10):
    # the HOF form paid an interpreted regexp_replace lambda per token,
    # a length lambda per word, and a struct lambda per pair — plus an
    # eager checkpoint of the word projection solely to stop Catalyst
    # re-substituting that chain into every slice/size consumer
    # (~8×). The kernel is opaque (nothing to re-substitute), so that
    # barrier job disappears too; only the distinct-pair checkpoint
    # remains (consumers read it 2-3×). Exactness: Arrow's RE2
    # '[^a-z]' removes exactly the characters Java's does (single
    # codepoint class, no syntax divergence); cleaned words are pure
    # a-z so byte length == char length; least/greatest is the same
    # binary UTF-8 comparison; pair order is irrelevant under the
    # distinct. Parity pinned by tests/test_text_dedup.py::
    # test_content_pairs_kernel_matches_expression.
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [StructField("src", StringType()), StructField("dst", StringType())]
    )

    def _pairs(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            nrows = b.num_rows
            if nrows == 0:
                continue
            offs, valid, vals = list_parts(b.column("_tk"))
            sizes = offs[1:] - offs[:-1]
            pos, row_of = gram_windows(offs, np.where(valid, sizes, 0))
            cleaned = pc.replace_substring_regex(
                vals.take(pa.array(pos)), pattern="[^a-z]", replacement=""
            )
            keep = np.asarray(
                pc.greater_equal(pc.binary_length(cleaned), 5).to_numpy(
                    zero_copy_only=False
                ),
                dtype=bool,
            )
            W = cleaned.filter(pa.array(keep))
            wcnt = np.bincount(row_of[keep], minlength=nrows)
            woffs = np.zeros(nrows + 1, dtype=np.int64)
            np.cumsum(wcnt, out=woffs[1:])
            wcnt = np.where(wcnt >= 3, wcnt, 0)  # docs filter size(w)>=3
            out_a, out_b = [], []
            for k in (1, 2):
                idx, _ = gram_windows(woffs, np.maximum(wcnt - k, 0))
                a = W.take(pa.array(idx))
                bb = W.take(pa.array(idx + k))
                le = pc.less_equal(a, bb)
                out_a.append(pc.if_else(le, a, bb))
                out_b.append(pc.if_else(le, bb, a))
            src = pa.concat_arrays(out_a)
            dst = pa.concat_arrays(out_b)
            if len(src):
                ne = pc.not_equal(src, dst)
                yield pa.RecordBatch.from_arrays(
                    [src.filter(ne), dst.filter(ne)], ["src", "dst"]
                )

    return (
        d.mapInArrow(_pairs, schema)
        .distinct()
        .localCheckpoint(eager=True)
    )


def q_word_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the word co-occurrence graph — the
    clustering-structure primitive (community density, topical
    cohesion) alongside PageRank's centrality. Canonical-orientation
    wedge join: with every edge stored once as (a < b), a triangle
    {a<b<c} is counted exactly once by p1(a,b) ⋈ p2(b,c) ⋈ p3(a,c) —
    two self-equi-joins, no distinct needed. Per-word participation
    counts, top-20.

    Scale shape: the joins shuffle on single word keys; the wedge
    count Σ_b deg²(b) is the cost driver, and the production fix for
    hub-heavy graphs is degree orientation (point each edge from its
    lower-degree endpoint) which provably bounds wedges by O(E^1.5) —
    the lexicographic orientation here keeps the DuckDB twin trivial
    at fixture scale."""
    p = _content_word_pairs(spark, sf_dir)
    p1 = p.alias("p1")
    p2 = p.alias("p2")
    p3 = p.alias("p3")
    tri = (
        p1.join(p2, F.col("p1.dst") == F.col("p2.src"))
        .join(
            p3,
            (F.col("p3.src") == F.col("p1.src"))
            & (F.col("p3.dst") == F.col("p2.dst")),
        )
        .select(
            F.col("p1.src").alias("a"),
            F.col("p1.dst").alias("b"),
            F.col("p2.dst").alias("c"),
        )
    )
    pernode = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return pernode.orderBy(F.desc("n_triangles"), F.asc("word")).limit(20)


def q_keyword_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank-style keyword extraction (Mihalcea & Tarau 2004):
    PageRank over the word co-occurrence graph — the corpus-level
    keyword/topic surfacing step of curation pipelines, and a direct
    REUSE of operators/graph.py::pagerank on a text-derived graph.
    Content words (alphabetic, length ≥ 5) co-occurring within a
    ±2-token window become undirected edges (canonicalized
    least/greatest, distinct, then symmetrized — word pairs can recur
    in both orders, unlike the bipartite co-purchase graph); 5
    damped iterations; top-20 words by 6-decimal rank with word
    tiebreak. Pair generation is per-row zip_with over sliced token
    arrays (no position self-join); the oracle unrolls the recurrence
    into chained CTEs exactly like the graph workload."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
        graph as G,
    )

    pairs = _content_word_pairs(spark, sf_dir)
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = G.pagerank(
        edges, iterations=5, damping=0.85, every_node_emits=True
    )
    return (
        ranks.select(
            F.col("node").alias("word"), F.round("rank", 6).alias("rank")
        )
        .orderBy(F.desc("rank"), F.asc("word"))
        .limit(20)
    )


def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-passage mining (the Lee et al. 2022
    'Deduplicating Training Data' shape at word granularity): word
    5-gram shingles per document via staged-token HOFs (no re-split
    per gram, no positional self-join), DISTINCT within each doc, then
    ONE shuffle keyed on the gram counts how many documents share each
    passage. Top-20 most-shared passages with a gram tiebreak.

    100 TB shape: the per-doc shingle array never leaves its row until
    the explode, and the only shuffle carries (gram, doc) pairs — at
    web scale the gram would be xxhash64-packed before the shuffle and
    the winning strings re-derived for the top-k only; the fixture's
    grams are small enough to group directly, which keeps the DuckDB
    twin byte-identical."""
    d = T(spark, sf_dir, "documents")
    # distinct 5-gram sets via the Arrow shingle kernel (round 10) —
    # explode(array_distinct(shingles_from)) evaluated one interpreted
    # lambda per gram; shingled_sets' kernel emits the identical
    # first-occurrence-distinct sets (explode order is irrelevant to
    # the groupBy), and its ≥n-token pre-filter only drops rows that
    # exploded to nothing anyway.
    grams = D.shingled_sets(d, "text", "doc_id", shingle_n=5).select(
        F.col("_id").alias("doc_id"), F.explode("_sh").alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("gram"))
        .limit(20)
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring with a corpus-derived unigram
    LM (the KenLM-free tier of quality filtering): token probabilities
    from one corpus-wide count pass, then each document scored by its
    mean token log-probability — gibberish and boilerplate-free text
    separate cleanly on this axis. Per-lang envelope of the scores.

    Scale shape: the vocabulary is bounded (Heaps' law) so the
    token→probability lookup is a BROADCAST join against the exploded
    token stream — the same pattern as tfidf/bm25; no shuffle touches
    the corpus-sized side except the per-doc aggregation itself."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("w"),
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    total = vocab.agg(F.sum("cw").cast("double").alias("t"))
    per_doc = (
        toks.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(F.avg(F.log(F.col("cw") / F.col("t"))).alias("lp"))
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
            F.round(F.min("lp"), 4).alias("min_logprob"),
            F.round(F.max("lp"), 4).alias("max_logprob"),
        )
        .orderBy("lang")
    )


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring with add-k smoothing — the
    conditional tier above `unigram_logprob` (CCNet-style perplexity
    filtering without a vendored KenLM): p(w2|w1) = (c(w1,w2) + k) /
    (c(w1·) + k·V) from one corpus count pass, each document scored by
    its mean bigram log-probability, per-lang envelope.

    Scale shape: bigram vocabulary is bounded (Heaps' law on pairs), so
    the (gram → counts) lookup BROADCASTs against the exploded bigram
    stream exactly like unigram_logprob/tfidf; the only corpus-sized
    shuffle is the per-doc aggregation. All smoothing arithmetic is
    exact (int + 0.5, int + 0.5·V are binary-exact below 2^52), so the
    engines diverge only by ln/avg ulps — absorbed by the 4-dp round
    the same way the green unigram twin absorbs them."""
    k = 0.5
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        X.tokens(X.normalize_text(F.col("text"))).alias("_tk"),
    )
    # exploded bigram stream via the Arrow positional-gram kernel
    # (round 10) — same rows as explode(shingles_from(_tk, 2)).
    bigrams = X.pos_grams_arrow(toks, 2, ["doc_id", "lang"]).drop(
        "p"
    ).withColumn("w1", F.element_at(F.split(F.col("gram"), " "), 1))
    cb = bigrams.groupBy("gram").agg(F.count(F.lit(1)).alias("cb"))
    cw = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("cw"))
    vocab = (
        toks.select(F.explode("_tk").alias("w"))
        .agg(F.count_distinct("w").cast("double").alias("vs"))
    )
    per_doc = (
        bigrams.join(F.broadcast(cb), "gram")
        .join(F.broadcast(cw), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(
            F.avg(
                F.log((F.col("cb") + k) / (F.col("cw") + k * F.col("vs")))
            ).alias("lp")
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
            F.round(F.min("lp"), 4).alias("min_logprob"),
            F.round(F.max("lp"), 4).alias("max_logprob"),
        )
        .orderBy("lang")
    )


def q_passage_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring boilerplate removal (the *removal* half of Lee
    et al. 2022 dedup, RefinedWeb/C4 style): word 5-grams shared by ≥3
    documents are 'boilerplate passages'; every token position covered
    by an occurrence of one is scrubbed. Reports per-source how much
    survives — the number a curation pipeline actually acts on.

    Scale shape: the boilerplate gram set is template-bounded, so the
    positional (gram, pos) stream joins it via BROADCAST — the corpus
    side never shuffles for the match. Covered-position expansion is a
    per-row sequence explode (+4 rows per hit), deduped per doc in the
    same aggregation shuffle that counts it. At 100 TB the gram key
    would be xxhash64-packed pre-broadcast; the fixture grams are small
    enough to carry verbatim, keeping the DuckDB twin byte-identical."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        X.tokens(X.normalize_text(F.col("text"))).alias("_tk"),
    ).withColumn("n_tok", F.size("_tk").cast("bigint"))
    # positional gram stream via the Arrow kernel (round 10) — the
    # interpreted shingles_from HOF + posexplode Generate was the
    # dominant per-row cost, and this query evaluates the stream TWICE
    # (boilerplate mining + coverage join below).
    grams = X.pos_grams_arrow(
        d.select(
            "doc_id", X.tokens(X.normalize_text(F.col("text"))).alias("_tk")
        ),
        5,
        ["doc_id"],
    )
    boiler = (
        grams.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 3)
        .select("gram")
    )
    covered = (
        grams.join(F.broadcast(boiler), "gram")
        # posexplode's p is 0-based; gram p covers 1-based tokens
        # p+1 .. p+5 (shingles_from: gram i = tokens i..i+4, 1-based).
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("p") + F.lit(1), F.col("p") + F.lit(5))
            ).alias("ti"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("removed"))
    )
    per_doc = toks.join(covered, "doc_id", "left").withColumn(
        "removed", F.coalesce(F.col("removed"), F.lit(0)).cast("bigint")
    )
    # floor recipe, not round(): integer-count quotients can land on
    # exact decimal halves where the engines' round() semantics differ.
    flr6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens_total"),
            F.sum("removed").alias("tokens_removed"),
            flr6(F.sum("removed") / F.sum("n_tok")).alias("removed_ratio"),
        )
        .orderBy("source")
    )


QUERIES = {
    "word_triangles": q_word_triangles,
    "dup_passages": q_dup_passages,
    "bigram_lm": q_bigram_lm,
    "passage_scrub": q_passage_scrub,
    "unigram_logprob": q_unigram_logprob,
    "inverted_index": q_inverted_index,
    "skipgram_counts": q_skipgram_counts,
    "keyword_pagerank": q_keyword_pagerank,
    "bm25": q_bm25,
    "pmi_collocations": q_pmi_collocations,
    "prefix_jaccard": q_prefix_jaccard,
    "chunk_documents": q_chunk_documents,
    "text_stats": q_text_stats,
    "token_count_bpe": q_token_count_bpe,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "fingerprint_dedup": q_fingerprint_dedup,
    "dedup_exact_survivors": q_dedup_exact_survivors,
    "corpus_curation": q_corpus_curation,
    "token_histogram": q_token_histogram,
    "winnowing": q_winnowing,
    "winnow_pairs": q_winnow_pairs,
    "phrase_search": q_phrase_search,
    "ngram_jaccard": q_ngram_jaccard,
    "containment_pairs": q_containment_pairs,
    "minhash_lsh": q_minhash_lsh,
    "simhash": q_simhash,
    "dedup_clusters": q_dedup_clusters,
    "cluster_representatives": q_cluster_representatives,
    "tfidf": q_tfidf,
    "stratified_sample": q_stratified_sample,
}

_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_TOKS = "string_split(text, ' ')"

_LANG_SCORE = {
    lang: f"len(list_filter({_TOKS}, w -> w IN ({', '.join(repr(m) for m in markers)})))"
    for lang, markers in X.LANG_MARKERS.items()
}

# Shared hashed-shingle list over a STAGED token column `tk` (the
# caller's previous CTE must compute tk = string_split(_NORM, ' ')
# once per row): the gram lambda references tk three times per gram,
# and DuckDB does not CSE lambda bodies, so inlining the
# regexp+split there costs O(tokens²) regexp evaluations per
# document — measured as a >10-minute single-threaded oracle at sf1
# (the 10k-row parquet is one row group, so DuckDB cannot even
# parallelize the scan). Same stage-the-tokens rule the engine's
# shingles_from docstring mandates. Grams are reduced to the
# portable 32-bit md5-prefix hash (identical to the engine's
# gram_hash32) BEFORE the quadratic pair join, so list_intersect
# runs on BIGINTs instead of ~25-byte strings.
_HASHED_SH = """list_distinct(
                       list_transform(
                           list_distinct(
                               list_transform(
                                   range(1, greatest(len(tk) - 1, 1)),
                                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                               )
                           ),
                           g -> CAST(CAST(concat('0x', substr(md5(g), 1, 8))
                                          AS UBIGINT) AS BIGINT)
                       )
                   )"""
_TK_STAGE = f"string_split({_NORM}, ' ')"

# shared transitive-closure CTE chain (planted clones -> 3-shingle
# Jaccard pairs -> symmetrized edges -> recursive min-label reach),
# used by the dedup_clusters AND cluster_representatives oracles
_CLUSTERS_CTE = f"""
        WITH RECURSIVE docs_aug AS (
            SELECT doc_id, text, source FROM documents
            UNION ALL
            SELECT doc_id + 10000000, text, source
            FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 10)
            UNION ALL
            SELECT doc_id + 20000000, text, source
            FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 10)
        ),
        tks AS (
            SELECT doc_id, source, {_TK_STAGE} AS tk FROM docs_aug
        ),
        sh AS MATERIALIZED (
            SELECT doc_id, source,
                   {_HASHED_SH} AS sh
            FROM tks
        ),
        pairs AS MATERIALIZED (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))
                  / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.03
        ),
        -- MATERIALIZED is load-bearing: edges is referenced inside the
        -- recursive term, and an inlined CTE would re-run the whole
        -- quadratic pair join on EVERY closure iteration (observed at
        -- sf1: ~30 iterations x ~2 min of pair join = a half-hour
        -- oracle for a graph whose largest component is 32 nodes).
        edges AS MATERIALIZED (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT doc_id AS id, doc_id AS lbl FROM docs_aug
            UNION
            SELECT e.d AS id, r.lbl FROM reach r JOIN edges e ON e.s = r.id
        ),
        comp AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)"""

_QUALITY_FRAG = f"""(
    (CASE WHEN len({_TOKS}) >= 20 AND len({_TOKS}) <= 5000
          THEN 1.0e0 ELSE 0.0e0 END) * 0.4e0
  + (CASE WHEN len(list_filter({_TOKS}, w -> w IN ({_STOP_SQL})))
               / CAST(len({_TOKS}) AS DOUBLE) >= 0.01e0
           AND len(list_filter({_TOKS}, w -> w IN ({_STOP_SQL})))
               / CAST(len({_TOKS}) AS DOUBLE) <= 0.7e0
          THEN 1.0e0 ELSE 0.0e0 END) * 0.3e0
  + (CASE WHEN CAST(list_sum(list_transform({_TOKS}, w -> length(w)))
                    AS DOUBLE) / len({_TOKS}) >= 2.0e0
           AND CAST(list_sum(list_transform({_TOKS}, w -> length(w)))
                    AS DOUBLE) / len({_TOKS}) <= 12.0e0
          THEN 1.0e0 ELSE 0.0e0 END) * 0.3e0
)"""

ORACLES = {
    "dup_passages": r"""
        WITH d AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(
                       list_slice(tk, CAST(i AS INT), CAST(i + 4 AS INT)), ' '
                   ) AS gram
            FROM d, UNNEST(range(1, len(tk) - 3)) AS r(i)
            WHERE len(tk) >= 5
        )
        SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
        FROM grams GROUP BY gram HAVING count(*) >= 2
        ORDER BY n_docs DESC, gram ASC LIMIT 20
    """,
    "unigram_logprob": r"""
        WITH d AS (
            SELECT doc_id, lang,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
            FROM documents
        ),
        tok AS (SELECT doc_id, lang, unnest(tk) AS w FROM d),
        vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM tok GROUP BY w),
        tot AS (SELECT CAST(sum(cw) AS DOUBLE) AS t FROM vocab),
        per_doc AS (
            SELECT doc_id, lang,
                   avg(ln(CAST(cw AS DOUBLE) / tot.t)) AS lp
            FROM tok JOIN vocab USING (w) CROSS JOIN tot
            GROUP BY doc_id, lang
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(lp), 4) AS avg_logprob,
               round(min(lp), 4) AS min_logprob,
               round(max(lp), 4) AS max_logprob
        FROM per_doc GROUP BY lang ORDER BY lang
    """,
    "inverted_index": r"""
        WITH d AS (
            SELECT doc_id,
                   list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tk
            FROM documents
        ),
        tok AS (SELECT doc_id, unnest(tk) AS term FROM d),
        p AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df,
                   string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
            FROM tok GROUP BY term
        )
        SELECT term, df, postings FROM p
        WHERE df >= 5 ORDER BY df ASC, term ASC LIMIT 20
    """,
    "skipgram_counts": r"""
        WITH w AS (
            SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
            FROM documents
        ),
        pairs AS (
            SELECT ws[CAST(i AS INT)] AS wa, ws[CAST(i + o AS INT)] AS wb
            FROM w,
                 UNNEST(range(1, len(ws) + 1)) AS r(i),
                 UNNEST([-2, -1, 1, 2]) AS t(o)
            WHERE len(ws) >= 2 AND i + o BETWEEN 1 AND len(ws)
        )
        SELECT wa, wb, CAST(count(*) AS BIGINT) AS cnt
        FROM pairs GROUP BY wa, wb
        ORDER BY cnt DESC, wa ASC, wb ASC LIMIT 20
    """,
    "pmi_collocations": r"""
        WITH d AS (
            SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
            FROM documents
        ),
        uni AS (
            SELECT w, CAST(count(*) AS BIGINT) AS cw
            FROM (SELECT unnest(tk) AS w FROM d) GROUP BY w
        ),
        tot AS (SELECT CAST(sum(cw) AS DOUBLE) AS t FROM uni),
        big AS (
            SELECT g AS ab, CAST(count(*) AS BIGINT) AS cab
            FROM (
                SELECT tk[CAST(i AS INT)] || ' ' || tk[CAST(i+1 AS INT)] AS g
                FROM d, UNNEST(range(1, len(tk))) AS r(i)
            ) GROUP BY g HAVING count(*) >= 5
        )
        SELECT ab, cab,
               round(ln(CAST(cab AS DOUBLE) * tot.t
                        / (CAST(ua.cw AS DOUBLE) * CAST(ub.cw AS DOUBLE))), 6) AS pmi
        FROM big
        JOIN uni ua ON ua.w = split_part(ab, ' ', 1)
        JOIN uni ub ON ub.w = split_part(ab, ' ', 2)
        CROSS JOIN tot
        ORDER BY pmi DESC, ab ASC LIMIT 20
    """,
    "bm25": r"""
        WITH d AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
            FROM documents
        ),
        dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM d),
        tok AS (SELECT doc_id, unnest(tk) AS term FROM d),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM tok GROUP BY doc_id, term),
        dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY term),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                         sum(dl) / count(*) AS avgdl
                  FROM dl),
        qterms AS (SELECT term, df FROM dfx ORDER BY df DESC, term ASC LIMIT 3),
        scored AS (
            SELECT tf.doc_id,
                   round(
                       ln((stats.n - qterms.df + 0.5e0) / (qterms.df + 0.5e0) + 1e0)
                       * (tf.tf * 2.2e0)
                       / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * dl.dl / stats.avgdl)),
                       6) AS s
            FROM tf
            JOIN qterms USING (term)
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN stats
        )
        SELECT doc_id, round(sum(s), 6) AS bm25,
               CAST(count(*) AS BIGINT) AS terms_hit
        FROM scored GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id ASC LIMIT 15
    """,
    "prefix_jaccard": r"""
        WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id < 800),
        clones AS (
            SELECT doc_id + 10000000 AS doc_id, text
            FROM (SELECT * FROM sub ORDER BY doc_id LIMIT 10)
        ),
        u AS (SELECT * FROM sub UNION ALL SELECT * FROM clones),
        w AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
            FROM u
        ),
        s AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(ws) - 1),
                       i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)]
                            || ' ' || ws[CAST(i+2 AS INT)])) AS tk
            FROM w WHERE len(ws) >= 3
        ),
        p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                       / len(list_distinct(list_concat(a.tk, b.tk))) AS j
            FROM s a JOIN s b ON a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, round(j, 4) AS jaccard
        FROM p WHERE j >= 0.5 ORDER BY id_a, id_b
    """,
    "chunk_documents": """
        WITH starts AS (
            SELECT doc_id, text,
                   unnest(generate_series(0, greatest(length(text) - 1, 0), 96))
                       AS start
            FROM documents
        )
        SELECT doc_id,
               CAST(start / 96 AS INTEGER) AS chunk_idx,
               CAST(length(substr(text, start + 1, 128)) AS INTEGER) AS chunk_len,
               md5(substr(text, start + 1, 128)) AS chunk_md5
        FROM starts ORDER BY doc_id, chunk_idx
    """,
    "stratified_sample": """
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM documents
        WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 <
              CASE lang WHEN 'en' THEN 429496729
                        WHEN 'es' THEN 2147483648
                        WHEN 'zh' THEN 2147483648
                        ELSE 4294967296 END
        GROUP BY lang ORDER BY lang
    """,
    "tfidf": f"""
        WITH d AS (
            SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents
        ),
        tok AS (SELECT doc_id, unnest(tk) AS term FROM d),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM tok GROUP BY doc_id, term
        ),
        dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
        SELECT term, doc_id, tf, df,
               round(tf * (ln((n + 1e0) / (df + 1e0)) + 1e0), 6) AS tfidf
        FROM tf JOIN dfx USING (term), n
        ORDER BY tfidf DESC, term, doc_id LIMIT 20
    """,
    "text_stats": f"""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               round(avg(length(text)), 4) AS avg_len,
               round(avg(len({_TOKS})), 4) AS avg_tokens
        FROM documents GROUP BY lang ORDER BY lang
    """,
    "token_count_bpe": f"""
        SELECT source,
               CAST(sum(len(regexp_extract_all(text, '{_WORD_TOKEN_RE}'))) AS BIGINT)
                   AS total_word_tokens,
               round(avg(len(regexp_extract_all(text, '{_WORD_TOKEN_RE}'))), 4)
                   AS avg_word_tokens
        FROM documents GROUP BY source ORDER BY source
    """,
    "text_quality": f"""
        WITH t AS (
            SELECT doc_id,
                   len({_TOKS}) AS nt,
                   len(list_filter({_TOKS}, w -> w IN ({_STOP_SQL}))) AS stop_hits,
                   CAST(list_sum(list_transform({_TOKS}, w -> length(w))) AS DOUBLE) AS char_sum
            FROM documents
        )
        SELECT doc_id,
               CAST(nt AS INTEGER) AS n_tokens,
               round(stop_hits / CAST(nt AS DOUBLE), 6) AS stop_ratio,
               -- e0-suffixed literals force DOUBLE (plain 1.0 is DECIMAL in
               -- DuckDB, and decimal arithmetic would change the result type)
               round(
                   (CASE WHEN nt >= 20 AND nt <= 5000 THEN 1.0e0 ELSE 0.0e0 END) * 0.4e0
                 + (CASE WHEN stop_hits / CAST(nt AS DOUBLE) >= 0.01e0
                          AND stop_hits / CAST(nt AS DOUBLE) <= 0.7e0 THEN 1.0e0 ELSE 0.0e0 END) * 0.3e0
                 + (CASE WHEN char_sum / nt >= 2.0e0 AND char_sum / nt <= 12.0e0
                         THEN 1.0e0 ELSE 0.0e0 END) * 0.3e0
               , 2) AS quality
        FROM t
    """,
    "lang_id": f"""
        WITH s AS (
            SELECT lang,
                   {_LANG_SCORE['de']} AS s_de,
                   {_LANG_SCORE['en']} AS s_en,
                   {_LANG_SCORE['es']} AS s_es,
                   {_LANG_SCORE['fr']} AS s_fr,
                   {_LANG_SCORE['zh']} AS s_zh
            FROM documents
        )
        SELECT lang,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) < 1 THEN 'und'
                    WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                    WHEN s_en = greatest(s_en, s_es, s_fr, s_zh) THEN 'en'
                    WHEN s_es = greatest(s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_fr = greatest(s_fr, s_zh) THEN 'fr'
                    ELSE 'zh' END AS guess,
               count(*) AS cnt
        FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "fingerprint_dedup": f"""
        SELECT source,
               count(*) AS n_docs,
               count(DISTINCT md5({_NORM})) AS n_unique,
               min(doc_id) AS first_doc
        FROM documents GROUP BY source ORDER BY source
    """,
    "dedup_exact_survivors": f"""
        WITH keep AS (
            SELECT min(doc_id) AS doc_id
            FROM documents GROUP BY md5({_NORM})
        )
        SELECT lang, count(*) AS n_kept, CAST(sum(d.doc_id) AS BIGINT) AS id_sum
        FROM documents d JOIN keep USING (doc_id)
        GROUP BY lang ORDER BY lang
    """,
    "corpus_curation": f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   len({_TOKS}) AS n_tokens,
                   (CASE WHEN len({_TOKS}) >= 20 AND len({_TOKS}) <= 5000
                         THEN 1.0e0 ELSE 0.0e0 END) * 0.4e0
                 + (CASE WHEN len(list_filter({_TOKS}, w -> w IN ({_STOP_SQL})))
                              / CAST(len({_TOKS}) AS DOUBLE) >= 0.01e0
                          AND len(list_filter({_TOKS}, w -> w IN ({_STOP_SQL})))
                              / CAST(len({_TOKS}) AS DOUBLE) <= 0.7e0
                         THEN 1.0e0 ELSE 0.0e0 END) * 0.3e0
                 + (CASE WHEN CAST(list_sum(list_transform({_TOKS}, w -> length(w))) AS DOUBLE)
                              / len({_TOKS}) >= 2.0e0
                          AND CAST(list_sum(list_transform({_TOKS}, w -> length(w))) AS DOUBLE)
                              / len({_TOKS}) <= 12.0e0
                         THEN 1.0e0 ELSE 0.0e0 END) * 0.3e0 AS quality,
                   md5({_NORM}) AS fp
            FROM documents
        ), filtered AS (
            SELECT * FROM scored WHERE quality >= 0.7e0 AND n_tokens >= 20
        ), kept AS (
            SELECT f.* FROM filtered f
            JOIN (SELECT min(doc_id) AS doc_id FROM filtered GROUP BY fp) k
              USING (doc_id)
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(avg(quality), 4) AS avg_quality,
               min(doc_id) AS first_doc
        FROM kept GROUP BY lang ORDER BY lang
    """,
    "winnowing": f"""
        WITH tks AS (
            SELECT doc_id, lang, {_TK_STAGE} AS tk FROM documents
        ), g AS (
            SELECT doc_id, lang,
                   list_transform(
                       list_transform(
                           range(1, greatest(len(tk) - 1, 1)),
                           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                       ),
                       s -> md5(s)
                   ) AS h
            FROM tks
        ), f AS (
            SELECT doc_id, lang,
                   list_distinct(
                       list_transform(
                           range(1, greatest(len(h) - 2, 1)),
                           i -> list_min(h[i:i+3])
                       )
                   ) AS fps
            FROM g
        ), a1 AS (
            SELECT lang, count(*) AS n_docs,
                   round(avg(len(fps)), 4) AS avg_fps
            FROM f GROUP BY lang
        ), a2 AS (
            SELECT lang,
                   count(DISTINCT fp) AS n_distinct_fps,
                   min(fp) AS min_fp
            FROM (SELECT lang, unnest(fps) AS fp FROM f)
            GROUP BY lang
        )
        SELECT lang, n_docs, avg_fps, n_distinct_fps, min_fp
        FROM a1 JOIN a2 USING (lang) ORDER BY lang
    """,
    "winnow_pairs": f"""
        WITH tks AS (
            SELECT doc_id, {_TK_STAGE} AS tk FROM documents
        ), g AS (
            SELECT doc_id,
                   list_transform(
                       list_transform(
                           range(1, greatest(len(tk) - 1, 1)),
                           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                       ),
                       s -> md5(s)
                   ) AS h
            FROM tks
        ), f AS (
            SELECT doc_id,
                   list_distinct(
                       list_transform(
                           range(1, greatest(len(h) - 2, 1)),
                           i -> list_min(h[i:i+3])
                       )
                   ) AS fps
            FROM g
        ), ex0 AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        -- df cap mirrors WINNOW_DF_CAP (workload/text.py): boilerplate
        -- fingerprints shared by > 50 docs are dropped before pairing.
        ex AS (
            SELECT doc_id, fp FROM ex0
            QUALIFY count(*) OVER (PARTITION BY fp) <= 50
        ),
        p AS (
            SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS shared_fps
            FROM ex x JOIN ex y
              ON x.fp = y.fp AND x.doc_id < y.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT id_a, id_b, shared_fps
        FROM p ORDER BY shared_fps DESC, id_a, id_b LIMIT 20
    """,
    "token_histogram": f"""
        WITH t AS (SELECT len({_TOKS}) AS v FROM documents),
             s AS (SELECT min(v) AS mn, max(v) AS mx FROM t)
        SELECT CASE WHEN mx = mn THEN 1
                    ELSE least(CAST(floor((v - mn) / ((mx - mn) / 10.0)) AS INTEGER) + 1, 10)
               END AS bin,
               count(*) AS cnt
        FROM t, s GROUP BY 1 ORDER BY 1
    """,
    "containment_pairs": f"""
        WITH tks AS (
            SELECT doc_id, source, {_TK_STAGE} AS tk FROM documents
        ),
        sh AS (
            SELECT doc_id, source,
                   {_HASHED_SH} AS sh
            FROM tks
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.sh, b.sh))
                     / CAST(len(a.sh) AS DOUBLE), 4) AS containment
        FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id <> b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))
              / CAST(len(a.sh) AS DOUBLE) >= 0.05
    """,
    "ngram_jaccard": f"""
        WITH tks AS (
            SELECT doc_id, source, {_TK_STAGE} AS tk FROM documents
        ),
        sh AS (
            SELECT doc_id, source,
                   {_HASHED_SH} AS sh
            FROM tks
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.sh, b.sh))
                     / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4)
                   AS jaccard
        FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))
              / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.03
    """,
    "dedup_clusters": _CLUSTERS_CTE + f""",
        sizes AS (
            SELECT cluster, CAST(count(*) AS BIGINT) AS size
            FROM comp GROUP BY cluster
        )
        SELECT size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               min(cluster) AS min_cluster
        FROM sizes GROUP BY size ORDER BY size
    """,
}

from steel_energy_consumption_prediction_using_pyspark_spark.workload.graph import (  # noqa: E402
    _pr_step,
)

_WORD_PAIRS_SQL = r"""
    WITH doks AS (
        SELECT list_filter(
                   list_transform(
                       string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                       t -> regexp_replace(t, '[^a-z]', '', 'g')),
                   t -> length(t) >= 5) AS w
        FROM documents
    ),
    d2 AS (SELECT w, len(w) AS n FROM doks WHERE len(w) >= 3),
    dp AS (
        SELECT least(w[CAST(i AS INT)], w[CAST(i + o AS INT)]) AS src,
               greatest(w[CAST(i AS INT)], w[CAST(i + o AS INT)]) AS dst
        FROM d2, UNNEST(range(1, n + 1)) AS r(i), UNNEST([1, 2]) AS t(o)
        WHERE i + o <= n
    ),
    p AS (SELECT DISTINCT src, dst FROM dp WHERE src <> dst)"""

ORACLES["word_triangles"] = (
    _WORD_PAIRS_SQL
    + """,
    tri AS (
        SELECT p1.src AS a, p1.dst AS b, p2.dst AS c
        FROM p p1
        JOIN p p2 ON p1.dst = p2.src
        JOIN p p3 ON p3.src = p1.src AND p3.dst = p2.dst
    ),
    pernode AS (
        SELECT word, count(*) AS n_triangles
        FROM (
            SELECT a AS word FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY word
    )
    SELECT word, CAST(n_triangles AS BIGINT) AS n_triangles
    FROM pernode ORDER BY n_triangles DESC, word ASC LIMIT 20
"""
)

ORACLES["keyword_pagerank"] = (
    r"""
    WITH doks AS (
        SELECT list_filter(
                   list_transform(
                       string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                       t -> regexp_replace(t, '[^a-z]', '', 'g')),
                   t -> length(t) >= 5) AS w
        FROM documents
    ),
    d2 AS (SELECT w, len(w) AS n FROM doks WHERE len(w) >= 3),
    dp AS (
        SELECT least(w[CAST(i AS INT)], w[CAST(i + o AS INT)]) AS src,
               greatest(w[CAST(i AS INT)], w[CAST(i + o AS INT)]) AS dst
        FROM d2, UNNEST(range(1, n + 1)) AS r(i), UNNEST([1, 2]) AS t(o)
        WHERE i + o <= n
    ),
    p AS (SELECT DISTINCT src, dst FROM dp WHERE src <> dst),
    edges AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    contrib AS (
        SELECT src, dst,
               1e0 / CAST(count(*) OVER (PARTITION BY src) AS DOUBLE) AS w
        FROM edges
    ),
    it0 AS (SELECT node, (SELECT 1e0 / n FROM nn) AS r FROM nodes),"""
    + ",".join(_pr_step(k) for k in range(1, 6))
    + """
    SELECT node AS word, round(r, 6) AS rank FROM it5
    ORDER BY rank DESC, word ASC LIMIT 20
"""
)

ORACLES["cluster_representatives"] = (
    _CLUSTERS_CTE
    + f""",
    scored AS (
        SELECT d.doc_id, d.source, {_QUALITY_FRAG} AS q, c.cluster
        FROM docs_aug d JOIN comp c ON c.id = d.doc_id
    ),
    ranked AS (
        SELECT cluster, doc_id, q,
               count(*) OVER (PARTITION BY cluster) AS size,
               row_number() OVER (
                   PARTITION BY cluster ORDER BY q DESC, doc_id
               ) AS rn
        FROM scored
    ),
    best AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN b.size > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi,
           round(avg(b.q), 4) AS avg_rep_quality,
           CAST(sum(b.doc_id) AS BIGINT) AS rep_id_sum
    FROM best b JOIN docs_aug d ON d.doc_id = b.doc_id
    GROUP BY d.source ORDER BY d.source
"""
)

from steel_energy_consumption_prediction_using_pyspark_spark.operators.dedup import (  # noqa: E402
    MERSENNE61 as _MH_M61,
)
from steel_energy_consumption_prediction_using_pyspark_spark.operators.dedup import (  # noqa: E402
    _minhash_params,
)

_MH_SIG_TERMS = ",\n                   ".join(
    f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {_MH_M61}))"
    for a, b in _minhash_params(32)
)
_MH_BAND_KEY = " || ',' || ".join(
    f"CAST(sig[b * 4 + {i}] AS VARCHAR)" for i in range(1, 5)
)

ORACLES["minhash_lsh"] = f"""
    WITH docs_aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000, text
        FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 10)
    ),
    tks AS (
        SELECT doc_id, {_TK_STAGE} AS tk FROM docs_aug
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(
                       range(1, greatest(len(tk) - 1, 1)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                   )
               ) AS sh
        FROM tks
    ),
    nz AS (SELECT * FROM sh WHERE len(sh) > 0),
    hashed AS (
        SELECT doc_id, sh,
               list_transform(
                   sh,
                   g -> CAST(CAST(concat('0x', substr(md5(g), 1, 8))
                                  AS UBIGINT) AS BIGINT)
               ) AS hs
        FROM nz
    ),
    sig AS (
        SELECT doc_id, sh,
               [{_MH_SIG_TERMS}] AS sig
        FROM hashed
    ),
    banded AS (
        SELECT doc_id, sh, b AS band, {_MH_BAND_KEY} AS bkey
        FROM sig, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    ),
    ver AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(a.sh, b.sh))
               / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
                   AS j
        FROM cand c
        JOIN nz a ON a.doc_id = c.id_a
        JOIN nz b ON b.doc_id = c.id_b
    )
    SELECT id_a, id_b, round(j, 4) AS jaccard FROM ver WHERE j >= 0.5e0
"""

# SimHash oracle: re-derives the md5-halves token hashes, the 64
# per-bit sign sums, the two uint32 signature halves, and half-wise
# Hamming (bit_count(xor(lo))+bit_count(xor(hi)) ≡ 64-bit Hamming).
# The left join keeps zero-token docs with all-zero signatures,
# matching simhash64's empty-fold result.
ORACLES["simhash"] = f"""
    WITH docs_aug AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + 10000000, text, lang
        FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 10)
    ),
    tk AS (
        SELECT doc_id, lang,
               list_filter(list_distinct(string_split({_NORM}, ' ')),
                           w -> length(w) > 0) AS toks
        FROM docs_aug
    ),
    th AS (SELECT doc_id, lang, unnest(toks) AS t FROM tk),
    h AS (
        SELECT doc_id, lang,
               CAST(CAST(concat('0x', substr(md5(t), 1, 8)) AS UBIGINT)
                    AS BIGINT) AS lo,
               CAST(CAST(concat('0x', substr(md5(t), 9, 8)) AS UBIGINT)
                    AS BIGINT) AS hi
        FROM th
    ),
    bits AS (
        SELECT doc_id, lang, b,
               CAST(sum(CASE WHEN b < 32 THEN (lo >> b) & 1
                             ELSE (hi >> (b - 32)) & 1 END) * 2
                    - count(*) AS BIGINT) AS s
        FROM h, UNNEST(range(0, 64)) AS r(b)
        GROUP BY doc_id, lang, b
    ),
    sig0 AS (
        SELECT doc_id, lang,
               CAST(sum(CASE WHEN s > 0 AND b < 32
                             THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
                             ELSE 0 END) AS BIGINT) AS slo,
               CAST(sum(CASE WHEN s > 0 AND b >= 32
                             THEN CAST(1 AS BIGINT) << CAST(b - 32 AS INTEGER)
                             ELSE 0 END) AS BIGINT) AS shi
        FROM bits GROUP BY doc_id, lang
    ),
    sig AS (
        SELECT d.doc_id, d.lang,
               coalesce(s.slo, 0) AS slo, coalesce(s.shi, 0) AS shi
        FROM docs_aug d LEFT JOIN sig0 s USING (doc_id, lang)
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.slo, b.slo))
                    + bit_count(xor(a.shi, b.shi)) AS INTEGER) AS hamming
        FROM sig a JOIN sig b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 4
"""

ORACLES["phrase_search"] = f"""
    WITH tk AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
    ),
    pos AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[CAST(i AS INT)] AS tok
        FROM tk, UNNEST(range(1, len(toks) + 1)) AS r(i)
    ),
    bigrams AS (
        SELECT a.tok AS w1, b.tok AS w2, count(*) AS cnt
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2
    ),
    top AS (
        SELECT w1, w2 FROM bigrams
        ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 1
    ),
    hits AS (
        SELECT t.w1, t.w2, p1.doc_id
        FROM pos p1 JOIN top t ON p1.tok = t.w1
        JOIN pos p2 ON p2.doc_id = p1.doc_id
                   AND p2.pos = p1.pos + 1 AND p2.tok = t.w2
    ),
    per_doc AS (
        SELECT w1, w2, doc_id, count(*) AS occ FROM hits GROUP BY 1, 2, 3
    )
    SELECT w1, w2,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(occ) AS BIGINT) AS n_occurrences,
           CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_repeat
    FROM per_doc GROUP BY w1, w2
"""


ORACLES["bigram_lm"] = r"""
    WITH d AS (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
        FROM documents
    ),
    bg AS (
        SELECT doc_id, lang,
               tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)] AS gram,
               tk[CAST(i AS INT)] AS w1
        FROM d, UNNEST(range(1, len(tk))) AS r(i)
        WHERE len(tk) >= 2
    ),
    cb AS (SELECT gram, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY gram),
    cw AS (SELECT w1, CAST(count(*) AS BIGINT) AS cw FROM bg GROUP BY w1),
    v AS (
        SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs
        FROM (SELECT unnest(tk) AS w FROM d)
    ),
    per_doc AS (
        SELECT doc_id, lang,
               avg(ln((cb + 0.5e0) / (cw + 0.5e0 * v.vs))) AS lp
        FROM bg JOIN cb USING (gram) JOIN cw USING (w1) CROSS JOIN v
        GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(lp), 4) AS avg_logprob,
           round(min(lp), 4) AS min_logprob,
           round(max(lp), 4) AS max_logprob
    FROM per_doc GROUP BY lang ORDER BY lang
"""

ORACLES["passage_scrub"] = r"""
    WITH d AS (
        SELECT doc_id, source,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
        FROM documents
    ),
    grams AS (
        SELECT doc_id, CAST(i AS BIGINT) AS p,
               array_to_string(
                   list_slice(tk, CAST(i AS INT), CAST(i + 4 AS INT)), ' '
               ) AS gram
        FROM d, UNNEST(range(1, len(tk) - 3)) AS r(i)
        WHERE len(tk) >= 5
    ),
    boiler AS (
        SELECT gram FROM (
            SELECT gram, count(DISTINCT doc_id) AS df FROM grams GROUP BY gram
        ) WHERE df >= 3
    ),
    covered AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS removed FROM (
            SELECT DISTINCT g.doc_id, g.p + o.o AS ti
            FROM grams g JOIN boiler USING (gram),
                 UNNEST([0, 1, 2, 3, 4]) AS o(o)
        ) GROUP BY doc_id
    ),
    per_doc AS (
        SELECT d.source, CAST(len(d.tk) AS BIGINT) AS n_tok,
               COALESCE(c.removed, 0) AS removed
        FROM d LEFT JOIN covered c USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens_total,
           CAST(sum(removed) AS BIGINT) AS tokens_removed,
           floor(CAST(sum(removed) AS DOUBLE) / sum(n_tok) * 1000000
                 + 0.5e0) / 1000000 AS removed_ratio
    FROM per_doc GROUP BY source ORDER BY source
"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 10 BPE merges over the corpus (Sennrich et al.
    2016 — the tokenizer-training step of an LLM data pipeline):
    corpus-weighted character-pair counts over the word vocabulary,
    arg-max with lexicographic tie-break, greedy left-to-right merge,
    repeat. FULL SQL oracle: operators/text.py::bpe_learn is exact
    integer arithmetic end to end, so the DuckDB twin unrolls all 10
    rounds — pair counts, arg-max, and the greedy merge as one
    recursive scan CTE per round (_bpe_oracle_sql). The corpus-sized
    token scan happens once (the word-count agg); every merge round
    touches only the Heaps-bounded vocabulary relation."""
    merges = _bpe_merges(spark, sf_dir)
    rows = [
        (t + 1, a, b, a + b, cnt) for t, (a, b, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "merge_rank int, lhs string, rhs string, merged string,"
        " pair_count bigint",
    ).orderBy("merge_rank")


# Learned merge tables per (session, sf_dir): tokenizer training is
# the expensive step and its product is a tiny ordered list — the same
# amortization pattern as workload/vector.py::_IVF_CACHE (train once,
# encode per batch). Keyed by applicationId, never id(spark).
_BPE_CACHE: dict[tuple[str, str], list[tuple[str, str, int]]] = {}


def _corpus_word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bpe_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, str, int]]:
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.text import (
        bpe_learn,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    return once_per_key(
        _BPE_CACHE, "bpe_merges", key,
        lambda: bpe_learn(_corpus_word_freqs(spark, sf_dir), n_merges=10),
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's ENCODE path: apply the learned merge table
    (trained once per session/sf, see _BPE_CACHE) to the corpus and
    report per-lang token accounting — words, subtokens, chars, and
    chars-per-subtoken (the compression the tokenizer actually buys).

    Scale shape: merges fold over the Heaps-bounded VOCABULARY
    relation only; the corpus-sized token stream joins the encoded
    vocabulary via BROADCAST — documents are never re-scanned per
    merge. FULL SQL oracle: the training-chain CTEs' final state w10
    is the encoded vocabulary (_bpe_encode_oracle_sql)."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.text import (
        bpe_apply,
    )

    merges = _bpe_merges(spark, sf_dir)
    vocab = bpe_apply(
        _corpus_word_freqs(spark, sf_dir), merges, out_col="bpe"
    ).select(
        "word",
        F.size("bpe").cast("bigint").alias("n_sub"),
        F.length("word").cast("bigint").alias("n_chars"),
    )
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("word"),
    ).filter(F.col("word") != "")
    flr6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        toks.join(F.broadcast(vocab), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_subtokens"),
            F.sum("n_chars").alias("n_chars"),
            flr6(F.sum("n_chars") / F.sum("n_sub")).alias(
                "chars_per_subtoken"
            ),
        )
        .orderBy("lang")
    )


QUERIES["bpe_train"] = q_bpe_train
QUERIES["bpe_encode"] = q_bpe_encode


def _bpe_chain_ctes(n_merges: int = 10) -> str:
    """Shared CTE chain replaying BPE training: w{t} is the
    vocabulary's symbol lists after t merges; pc{t+1} counts adjacent
    pairs, best{t+1} is the lexicographic-tie-broken arg-max, rec{t+1}
    replays the greedy left-to-right merge as a per-word positional
    scan (recursive CTE: consume 2 symbols on a match, 1 otherwise —
    the definition operators/text.py::merge_pair_greedy's fold is
    pinned equivalent to). AS MATERIALIZED on every non-recursive
    member is load-bearing: DuckDB inlines plain CTEs into recursive
    terms, re-evaluating the whole training history per scan step."""
    ctes = [
        r"""
    w0 AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq,
               list_transform(range(1, length(word) + 1),
                              i -> substr(word, CAST(i AS INT), 1)) AS s
        FROM (
            SELECT unnest(string_split(
                trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
            FROM documents
        )
        WHERE word <> '' GROUP BY word
    )"""
    ]
    for t in range(1, n_merges + 1):
        p = t - 1
        ctes.append(
            f"""
    pc{t} AS MATERIALIZED (
        SELECT s[CAST(i AS INT)] AS a, s[CAST(i + 1 AS INT)] AS b,
               CAST(sum(freq) AS BIGINT) AS cnt
        FROM w{p}, UNNEST(range(1, len(s))) AS r(i)
        GROUP BY 1, 2
    ),
    best{t} AS MATERIALIZED (
        SELECT a, b, cnt FROM pc{t} ORDER BY cnt DESC, a, b LIMIT 1),
    rec{t} AS (
        SELECT word, freq, s, 1 AS i, CAST([] AS VARCHAR[]) AS out FROM w{p}
        UNION ALL
        SELECT r.word, r.freq, r.s,
               CASE WHEN r.i < len(r.s) AND r.s[CAST(r.i AS INT)] = best{t}.a
                         AND r.s[CAST(r.i + 1 AS INT)] = best{t}.b
                    THEN r.i + 2 ELSE r.i + 1 END,
               list_append(r.out,
                   CASE WHEN r.i < len(r.s) AND r.s[CAST(r.i AS INT)] = best{t}.a
                             AND r.s[CAST(r.i + 1 AS INT)] = best{t}.b
                        THEN best{t}.a || best{t}.b
                        ELSE r.s[CAST(r.i AS INT)] END)
        FROM rec{t} r, best{t} WHERE r.i <= len(r.s)
    ),
    w{t} AS MATERIALIZED (
        SELECT word, freq, out AS s FROM rec{t} WHERE i = len(s) + 1)"""
        )
    return "WITH RECURSIVE " + ",".join(ctes)


def _bpe_oracle_sql(n_merges: int = 10) -> str:
    unions = " UNION ALL ".join(
        f"SELECT {t} AS merge_rank, a AS lhs, b AS rhs, a || b AS merged,"
        f" cnt AS pair_count FROM best{t}"
        for t in range(1, n_merges + 1)
    )
    return (
        _bpe_chain_ctes(n_merges)
        + f" SELECT CAST(merge_rank AS INTEGER) AS merge_rank, lhs, rhs,"
        f" merged, pair_count FROM ({unions}) ORDER BY merge_rank"
    )


def _bpe_encode_oracle_sql(n_merges: int = 10) -> str:
    """bpe_encode twin: the training chain's final vocabulary state
    w{N} already holds every word's subtoken list (the corpus and the
    training vocabulary are the same relation on both sides), so
    encoding is a vocabulary join + per-lang token accounting."""
    return (
        _bpe_chain_ctes(n_merges)
        + f""",
    vs AS MATERIALIZED (
        SELECT word, CAST(len(s) AS BIGINT) AS n_sub,
               CAST(length(word) AS BIGINT) AS n_chars
        FROM w{n_merges}),
    tok AS (
        SELECT lang, word FROM (
            SELECT lang, unnest(string_split(
                trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
            FROM documents
        ) WHERE word <> ''
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_sub) AS BIGINT) AS n_subtokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           floor(CAST(sum(n_chars) AS DOUBLE) / sum(n_sub) * 1000000
                 + 0.5e0) / 1000000 AS chars_per_subtoken
    FROM tok JOIN vs USING (word)
    GROUP BY lang ORDER BY lang"""
    )


ORACLES["bpe_train"] = _bpe_oracle_sql()
ORACLES["bpe_encode"] = _bpe_encode_oracle_sql()


EVAL_SAMPLE = 200  # lsh_quality's bounded evaluation sample size


def q_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-level evaluation of the MinHash-LSH tier: banding
    recall/precision against EXACT 3-shingle Jaccard ground truth on a
    bounded, deterministic evaluation sample (the EVAL_SAMPLE
    lowest-id docs + the planted clones). This is how a 100 TB
    pipeline certifies its dedup tier: ground truth is brute-forced on
    an O(1)-sized sample — never the corpus — while the banding runs
    exactly as in production (same signatures, bands, bucket join as
    `minhash_lsh`). The all-pairs truth join is justified by the
    fixed sample bound (44k pairs at ANY scale factor).

    Output: one row — truth/candidate/hit counts, recall (how much of
    the real near-dup mass banding surfaces) and precision (how much
    of the candidate volume survives verification)."""
    d = _with_planted_dups(
        T(spark, sf_dir, "documents").filter(F.col("doc_id") < EVAL_SAMPLE)
    )
    shingled, cand = D.minhash_stages(
        d, "text", "doc_id", num_hashes=32, bands=8
    )
    a = shingled.select(
        F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")
    )
    b = shingled.select(
        F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")
    )
    truth = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")).cast("double")
            >= 0.5
        )
        .select("id_a", "id_b", F.lit(1).alias("t"))
    )
    c = cand.select("id_a", "id_b", F.lit(1).alias("c"))
    full = truth.join(c, ["id_a", "id_b"], "full_outer")
    flr6 = lambda col: F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return full.agg(
        F.sum("t").cast("bigint").alias("n_truth"),
        F.sum("c").cast("bigint").alias("n_candidates"),
        F.sum(F.col("t") * F.col("c")).cast("bigint").alias("n_hit"),
        flr6(F.sum(F.col("t") * F.col("c")) / F.sum("t")).alias("recall"),
        flr6(F.sum(F.col("t") * F.col("c")) / F.sum("c")).alias("precision"),
    )


QUERIES["lsh_quality"] = q_lsh_quality

ORACLES["lsh_quality"] = f"""
    WITH docs_aug AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {EVAL_SAMPLE}
        UNION ALL
        SELECT doc_id + 10000000, text
        FROM (SELECT * FROM documents WHERE doc_id < {EVAL_SAMPLE}
              ORDER BY doc_id LIMIT 10)
    ),
    tks AS (
        SELECT doc_id, {_TK_STAGE} AS tk FROM docs_aug
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(
                       range(1, greatest(len(tk) - 1, 1)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                   )
               ) AS sh
        FROM tks
    ),
    nz AS MATERIALIZED (SELECT * FROM sh WHERE len(sh) > 0),
    hashed AS (
        SELECT doc_id, sh,
               list_transform(
                   sh,
                   g -> CAST(CAST(concat('0x', substr(md5(g), 1, 8))
                                  AS UBIGINT) AS BIGINT)
               ) AS hs
        FROM nz
    ),
    sig AS (
        SELECT doc_id, sh,
               [{_MH_SIG_TERMS}] AS sig
        FROM hashed
    ),
    banded AS (
        SELECT doc_id, b AS band, {_MH_BAND_KEY} AS bkey
        FROM sig, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, 1 AS c
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    ),
    truth AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1 AS t
        FROM nz a JOIN nz b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))
              / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
              >= 0.5e0
    ),
    full_j AS (
        SELECT COALESCE(t, 0) AS t, COALESCE(c, 0) AS c
        FROM truth FULL OUTER JOIN cand USING (id_a, id_b)
    )
    SELECT CAST(sum(t) AS BIGINT) AS n_truth,
           CAST(sum(c) AS BIGINT) AS n_candidates,
           CAST(sum(t * c) AS BIGINT) AS n_hit,
           floor(CAST(sum(t * c) AS DOUBLE) / sum(t) * 1000000 + 0.5e0)
               / 1000000 AS recall,
           floor(CAST(sum(t * c) AS DOUBLE) / sum(c) * 1000000 + 0.5e0)
               / 1000000 AS precision
    FROM full_j
"""


# --- incremental dedup against a persisted signature store (round 6) -------
#
# VERDICT r5 #2 / operators/dedup.py's own 100 TB doctrine made
# executable: the corpus signs ONCE (shingle sets + banded MinHash
# triples written to parquet — the signature store); each new ingest
# batch signs only itself and dedups against store + batch with zero
# corpus re-shingling (plan-pinned: the incremental query's plan
# contains NO documents scan at all — corpus signatures arrive from
# the store, the batch from its own parquet file, exactly the
# daily-ingest reality). The oracle is the FULL recompute over
# corpus ∪ batch filtered to pairs touching the batch — a hash match
# PROVES incremental ≡ full.

_SIG_STORE: set[tuple[str, str]] = set()
_BATCH_OFF_A = 10_000_000
_BATCH_OFF_B = 20_000_000


def _sig_store_base(sf_dir: str) -> str:
    import os
    import re

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    suffix = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.rstrip("/")).strip("_")
    return os.path.join(repo_root, ".scratch", "sig_store", suffix)


def materialized_sig_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-missing (the materialized_edges contract): write the
    corpus signature store — corpus_shingled (_id, _sh) and
    corpus_banded (_id, band, bhash), the banded triples derived from
    the RE-READ shingled parquet so the store certifies its own
    derivation chain — plus the new-ingest batch fixture: clones of
    the 10 lowest-id docs (+1e7) and of the 3 lowest (+2e7), which
    guarantee corpus×batch AND batch×batch near-dup pairs at any SF."""
    import os

    base = _sig_store_base(sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    fp = fixture_fingerprint(sf_dir, "documents")

    def _built() -> bool:
        return key in _SIG_STORE and is_published(base, fp)

    if _built():
        return base
    with key_lock("sig_store", key):
        if _built():
            return base
        # Invalidate before the write so no lock-free reader validates
        # a half-written store (see util.key_lock docstring). The build
        # itself is cross-process-exclusive and atomically published
        # (VERDICT r6 #2): fcntl lockfile + build-into-tmp + rename,
        # so a second driver process sharing .scratch reuses this
        # store instead of racing an overwrite into it.
        _SIG_STORE.discard(key)
        with fs_key_lock("sig_store", os.path.basename(base)):
            publish_dir(
                base,
                lambda tmp: _write_sig_store(spark, sf_dir, tmp),
                app_id=key[0],
                fingerprint=fp,
            )
        _SIG_STORE.add(key)
    return base


def _write_sig_store(spark: SparkSession, sf_dir: str, base: str) -> None:
    import os

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    D.shingled_sets(d).write.mode("overwrite").parquet(
        os.path.join(base, "corpus_shingled")
    )
    D.minhash_banded(
        read_parquet(spark, os.path.join(base, "corpus_shingled"))
    ).write.mode("overwrite").parquet(os.path.join(base, "corpus_banded"))
    c10 = (
        d.orderBy("doc_id")
        .limit(10)
        .withColumn("doc_id", F.col("doc_id") + F.lit(_BATCH_OFF_A))
    )
    c3 = (
        d.orderBy("doc_id")
        .limit(3)
        .withColumn("doc_id", F.col("doc_id") + F.lit(_BATCH_OFF_B))
    )
    # repartition(1) not coalesce(1): see _write_ann_index
    c10.unionByName(c3).repartition(1).write.mode("overwrite").parquet(
        os.path.join(base, "batch_docs")
    )


def q_signature_store_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build/refresh the signature store and emit its summary,
    aggregated over the JUST-WRITTEN parquet so the oracle hash
    certifies the persisted bytes: per band (row count, distinct
    bucket keys, doc-id sum) plus a band=-1 row for the shingle-set
    table (docs signed, total distinct shingles, doc-id sum). The
    DuckDB twin re-derives all of it from the documents table through
    the identical md5-gram → 32-permutation → 8-band chain."""
    import os

    base = materialized_sig_store(spark, sf_dir)
    sh = read_parquet(spark, os.path.join(base, "corpus_shingled"))
    banded = read_parquet(spark, os.path.join(base, "corpus_banded"))
    band_rows = banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("bhash").alias("n_distinct"),
        F.sum("_id").alias("id_sum"),
    )
    sh_row = sh.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.size("_sh")).cast("long").alias("n_distinct"),
        F.sum("_id").alias("id_sum"),
    ).select(F.lit(-1).alias("band"), "n_rows", "n_distinct", "id_sum")
    return (
        band_rows.select("band", "n_rows", "n_distinct", "id_sum")
        .unionByName(sh_row)
        .orderBy("band")
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a new ingest batch against the persisted corpus WITHOUT
    re-signing the corpus: batch docs (their own parquet file) are
    shingled and banded; candidates come from the batch-banded ⋈
    store-banded bucket join plus the batch self-join; exact-Jaccard
    verification joins shingle sets from the STORE on the corpus side.
    Zero documents-table scans in this plan (plan-pinned). Output
    matches minhash_lsh: (id_a, id_b, jaccard ≥ 0.5), id_a < id_b —
    and the oracle's full recompute over corpus ∪ batch filtered to
    batch-touching pairs must hash-match it exactly."""
    import os

    base = materialized_sig_store(spark, sf_dir)
    store_sh = read_parquet(spark, os.path.join(base, "corpus_shingled"))
    store_banded = read_parquet(spark, os.path.join(base, "corpus_banded"))
    batch = read_parquet(spark, os.path.join(base, "batch_docs"))

    b_sh = D.shingled_sets(batch).persist()
    b_banded = D.minhash_banded(b_sh)

    # corpus ids < 1e7 ≤ batch ids, so corpus×batch pairs are already
    # (id_a, id_b)-ordered; only the banded triples of the BATCH join
    # against the store — the corpus side is a bucket-key scan.
    cross = (
        store_banded.alias("x")
        .join(
            b_banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bhash") == F.col("y.bhash")),
        )
        .select(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
    )
    bb = (
        b_banded.alias("x")
        .join(
            b_banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bhash") == F.col("y.bhash"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
    )
    cand = cross.unionByName(bb).distinct()

    all_sh = store_sh.unionByName(b_sh)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = (F.size("sh_a") + F.size("sh_b") - inter).cast("double")
    return (
        cand.join(all_sh.withColumnsRenamed({"_id": "id_a", "_sh": "sh_a"}), "id_a")
        .join(all_sh.withColumnsRenamed({"_id": "id_b", "_sh": "sh_b"}), "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


QUERIES["signature_store_build"] = q_signature_store_build
QUERIES["incremental_dedup"] = q_incremental_dedup

_INC_DOCS = f"""
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_BATCH_OFF_A}, text
        FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 10)
        UNION ALL
        SELECT doc_id + {_BATCH_OFF_B}, text
        FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 3)"""

# Full recompute over corpus ∪ batch, filtered to batch-touching
# pairs (batch ids are the only ids ≥ 1e7 and pairs are id-ordered,
# so `id_b >= offset` selects exactly corpus×batch ∪ batch×batch):
# a hash match proves the incremental path ≡ the full recompute.
ORACLES["incremental_dedup"] = f"""
    WITH docs_aug AS ({_INC_DOCS}
    ),
    tks AS (
        SELECT doc_id, {_TK_STAGE} AS tk FROM docs_aug
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(
                       range(1, greatest(len(tk) - 1, 1)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                   )
               ) AS sh
        FROM tks
    ),
    nz AS (SELECT * FROM sh WHERE len(sh) > 0),
    hashed AS (
        SELECT doc_id, sh,
               list_transform(
                   sh,
                   g -> CAST(CAST(concat('0x', substr(md5(g), 1, 8))
                                  AS UBIGINT) AS BIGINT)
               ) AS hs
        FROM nz
    ),
    sig AS (
        SELECT doc_id, sh,
               [{_MH_SIG_TERMS}] AS sig
        FROM hashed
    ),
    banded AS (
        SELECT doc_id, sh, b AS band, {_MH_BAND_KEY} AS bkey
        FROM sig, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    ),
    ver AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(a.sh, b.sh))
               / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
                   AS j
        FROM cand c
        JOIN nz a ON a.doc_id = c.id_a
        JOIN nz b ON b.doc_id = c.id_b
    )
    SELECT id_a, id_b, round(j, 4) AS jaccard FROM ver
    WHERE j >= 0.5e0 AND id_b >= {_BATCH_OFF_A}
"""

# The store summary re-derived from raw documents through the same
# chain (no batch union — the store holds the CORPUS only).
ORACLES["signature_store_build"] = f"""
    WITH tks AS (
        SELECT doc_id, {_TK_STAGE} AS tk FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(
                       range(1, greatest(len(tk) - 1, 1)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                   )
               ) AS sh
        FROM tks
    ),
    nz AS (SELECT * FROM sh WHERE len(sh) > 0),
    hashed AS (
        SELECT doc_id, sh,
               list_transform(
                   sh,
                   g -> CAST(CAST(concat('0x', substr(md5(g), 1, 8))
                                  AS UBIGINT) AS BIGINT)
               ) AS hs
        FROM nz
    ),
    sig AS (
        SELECT doc_id,
               [{_MH_SIG_TERMS}] AS sig
        FROM hashed
    ),
    banded AS (
        SELECT doc_id, b AS band, {_MH_BAND_KEY} AS bkey
        FROM sig, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS t(b)
    ),
    band_rows AS (
        SELECT CAST(band AS INTEGER) AS band,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT bkey) AS BIGINT) AS n_distinct,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM banded GROUP BY band
    ),
    sh_row AS (
        SELECT -1 AS band, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(len(sh)) AS BIGINT) AS n_distinct,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM nz
    )
    SELECT * FROM band_rows UNION ALL SELECT * FROM sh_row
    ORDER BY band
"""
