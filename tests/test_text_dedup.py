"""Text operators + the dedup ladder: planted-duplicate recall and
semantic pins that the oracle queries rely on."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
    dedup as D,
)
from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
    text as X,
)
from steel_energy_consumption_prediction_using_pyspark_spark.workload.util import T

LARGE_VAR_TYPES = "spark.sql.execution.arrow.useLargeVarTypes"


@pytest.fixture(params=["false", "true"], ids=["arrow_string", "arrow_large_string"])
def arrow_var_types(request, spark):
    """Runs a kernel parity pin with Arrow's 32-bit and 64-bit string
    offsets: the kernels must read offsets at the declared width."""
    old = spark.conf.get(LARGE_VAR_TYPES)
    spark.conf.set(LARGE_VAR_TYPES, request.param)
    yield request.param
    spark.conf.set(LARGE_VAR_TYPES, old)


def test_split_keeps_trailing_empty(spark):
    """The oracle parity contract: split('a b ', ' ') has 3 elements in
    Spark AND DuckDB. If Spark ever changes limit semantics, every
    token-count oracle breaks — pin it."""
    df = spark.createDataFrame([Row(t="a b ")])
    assert df.select(F.size(X.tokens("t")).alias("n")).collect()[0].n == 3


def test_shingles_short_text_empty(spark):
    df = spark.createDataFrame([Row(t="one two")])
    out = df.select(X.shingles("t", 3).alias("s")).collect()[0].s
    assert out == []


def test_shingles_content(spark):
    df = spark.createDataFrame([Row(t="a b c d")])
    out = df.select(X.shingles("t", 3).alias("s")).collect()[0].s
    assert out == ["a b c", "b c d"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [Row(a="Hello   World", b="hello world "), Row(a="x", b="y")]
    )
    got = df.select(
        (X.fingerprint("a") == X.fingerprint("b")).alias("eq")
    ).collect()
    assert [r.eq for r in got] == [True, False]


def test_lang_guess_markers(spark):
    df = spark.createDataFrame(
        [
            Row(t="the cat sat of the mat and a dog is"),
            Row(t="el perro de la casa que los gatos"),
            Row(t="qqq zzz www"),
        ]
    )
    got = [r.g for r in df.select(X.lang_guess("t").alias("g")).collect()]
    assert got == ["en", "es", "und"]


def test_quality_score_range(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    stats = d.select(X.quality_score("text").alias("q")).agg(
        F.min("q"), F.max("q")
    ).collect()[0]
    assert 0.0 <= stats[0] <= stats[1] <= 1.0


def _planted(spark, sf_dir, n=5):
    d = T(spark, sf_dir, "documents")
    clones = d.orderBy("doc_id").limit(n).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    return d.unionByName(clones), n


def test_exact_dedup_removes_planted(spark, sf_dir):
    d, n = _planted(spark, sf_dir)
    kept = D.exact_dedup(d, "text", "doc_id")
    assert kept.count() == d.count() - n
    # survivors are the min ids — no clone id survives
    assert kept.filter(F.col("doc_id") >= 10_000_000).count() == 0


@pytest.fixture(scope="module")
def minhash_expression_triples(spark, sf_dir):
    """The minhash_signature EXPRESSION's banded triples over the
    fixture corpus. A pure JVM HOF expression: the Arrow string width
    cannot change it, so both kernel runs compare against one run."""
    r = 32 // 8
    d = T(spark, sf_dir, "documents")
    sig = d.select(
        F.col("doc_id").alias("_id"),
        D.minhash_signature("text", num_hashes=32, shingle_n=3).alias("_sig"),
    ).filter(
        F.size(D.tokens(D.normalize_text("text"))) >= 3
    )
    return sorted(
        (row._id, b, ",".join(str(row._sig[b * r + i]) for i in range(r)))
        for row in sig.collect()
        for b in range(8)
    )


def test_minhash_banding_kernel_matches_expression(
    spark, sf_dir, arrow_var_types, minhash_expression_triples
):
    """The Arrow numpy banding kernel (round 9) must reproduce the
    minhash_signature EXPRESSION's banded triples exactly: same affine
    params, same int64 (a·h+b) mod M61 arithmetic, same comma-joined
    band keys. Integer-only on both sides — any divergence is a
    flatten/offset or packing bug."""
    d = T(spark, sf_dir, "documents")
    sh = D.shingled_sets(d)
    kernel = sorted(map(tuple, D.minhash_banded(sh).collect()))
    assert kernel == minhash_expression_triples


def test_minhash_lsh_finds_planted(spark, sf_dir):
    d, n = _planted(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(d, "text", "doc_id", num_hashes=32, bands=8)
    found = {
        (r.id_a, r.id_b)
        for r in pairs.filter(F.col("id_b") >= 10_000_000).collect()
    }
    expected = {(i, i + 10_000_000) for i in range(n)}
    assert expected <= found  # exact clones MUST be found (jaccard 1.0)


def test_shingle_kernel_matches_expression(spark, sf_dir, arrow_var_types):
    """The Arrow shingle-set kernel (round 10, shingled_sets /
    _hashed_shingle_sets hot path) must reproduce the interpreted HOF
    chain element for element IN ORDER: same grams (concat_ws-joined
    UTF-8 bytes), same array_distinct first-occurrence order, same
    md5-prefix gram hashes, same outer distinct on the hash values.
    Crafted rows (null text, empty, sub-shingle length, repeated
    grams, unicode, trailing spaces) exercise the filter and the
    kernel's null/empty guards alongside the fixture corpus."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.text import (
        normalize_text,
        shingles_from,
        tokens,
    )

    crafted = spark.createDataFrame(
        [
            Row(doc_id=900_001, text=None),
            Row(doc_id=900_002, text=""),
            Row(doc_id=900_003, text="one two"),
            Row(doc_id=900_004, text="a b c a b c a b c"),
            Row(doc_id=900_005, text="héllo wörld ünïcode çafé naïve"),
            Row(doc_id=900_006, text="  pad   pad  pad pad   "),
        ],
        "doc_id long, text string",
    )
    d = T(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        crafted
    )
    staged = d.select(
        F.col("doc_id").alias("_id"),
        tokens(normalize_text("text")).alias("_tk"),
    ).filter(F.size("_tk") >= 3)
    plain_expr = {
        r._id: r._sh
        for r in staged.select(
            "_id", F.array_distinct(shingles_from("_tk", 3)).alias("_sh")
        ).collect()
    }
    plain_kern = {r._id: r._sh for r in D.shingled_sets(d).collect()}
    assert plain_kern == plain_expr
    hashed_expr = {
        r._id: r._sh
        for r in staged.select(
            "_id",
            F.array_distinct(
                F.transform(
                    F.array_distinct(shingles_from("_tk", 3)), D.gram_hash32
                )
            ).alias("_sh"),
        ).collect()
    }
    blocked = d.withColumn("blk", F.col("doc_id") % 7)
    hashed_kern = {
        r._id: (r._blk, r._sh)
        for r in D._hashed_shingle_sets(
            blocked, "text", "doc_id", "blk", 3
        ).collect()
    }
    assert {k: v[1] for k, v in hashed_kern.items()} == hashed_expr
    assert all(blk == _id % 7 for _id, (blk, _) in hashed_kern.items())


def test_simhash_identical_distance_zero(spark, sf_dir):
    d, _ = _planted(spark, sf_dir, n=3)
    sig = d.select("doc_id", D.simhash64("text").alias("sh")).collect()
    by_id = {r.doc_id: r.sh for r in sig}
    for i in range(3):
        assert by_id[i] == by_id[i + 10_000_000]


def test_simhash_kernel_matches_expression(spark, sf_dir, arrow_var_types):
    """The Arrow numpy SimHash kernel (round 9, simhash_pairs' hot
    path) must reproduce the simhash64 EXPRESSION bit for bit on every
    fixture doc — integer-only arithmetic on both sides, so any
    divergence is a packing/fold bug, not float noise."""
    d = T(spark, sf_dir, "documents")
    expr_sig = {
        r.doc_id: r.sh
        for r in d.select("doc_id", D.simhash64("text").alias("sh")).collect()
    }
    kern_sig = {
        r._id: r._sh
        for r in D._simhash64_arrow(d, "text", "doc_id").collect()
    }
    assert expr_sig == kern_sig


def test_simhash_pairs_planted(spark, sf_dir):
    d, n = _planted(spark, sf_dir, n=3)
    pairs = D.simhash_pairs(d, "text", "doc_id", max_hamming=0)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 10_000_000) for i in range(3)} <= got


def test_ngram_jaccard_clone_is_one(spark, sf_dir):
    d, n = _planted(spark, sf_dir, n=3)
    d = d.withColumn("blk", F.col("doc_id") % 10_000_000 % 1000)
    pairs = D.ngram_jaccard_pairs(
        d, "text", "doc_id", block_col=None, threshold=0.99
    )
    clones = pairs.filter(F.col("id_b") == F.col("id_a") + 10_000_000)
    rows = clones.collect()
    assert len(rows) >= 3
    assert all(abs(r.jaccard - 1.0) < 1e-12 for r in rows)


def test_simhash_consistent_with_exact_dedup(spark, sf_dir):
    """Cross-operator oracle: every pair the EXACT fingerprint dedup
    groups together must show up in simhash_pairs at Hamming 0 —
    identical NORMALIZED content cannot hash apart, so the two
    operators must share normalization semantics. Clones are planted
    byte-DIFFERENT (upper-cased + whitespace-mangled) so the check
    exercises the normalizer, not byte equality. (The converse is not
    required: distinct content may collide at distance 0.)"""
    base = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    variants = base.withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    ).withColumn(
        "text", F.regexp_replace(F.upper("text"), " ", "   ")
    )
    d = base.unionByName(variants)
    groups = (
        d.select(X.fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    expected = set()
    for g in groups:
        ids = sorted(g.ids)
        expected.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])
    assert expected, "normalized variants must fingerprint-collide"
    got = {
        (r.id_a, r.id_b)
        for r in D.simhash_pairs(d, "text", "doc_id", max_hamming=0).collect()
    }
    assert expected <= got


def test_winnowing_guarantee(spark):
    """Schleimer et al. guarantee: documents sharing a run of at least
    k + w - 1 = 6 tokens share at least one fingerprint; identical
    docs share all of them."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta iota kappa"),  # shared 6-run
        (3, "alpha beta gamma delta epsilon zeta eta theta"),   # clone of 1
        (4, "one two three four five six seven eight"),         # disjoint
    ]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: set(r.fps)
        for r in X.with_winnow_fingerprints(d, "text", k=3, w=4).collect()
    }
    assert out[1] == out[3]                 # identical → identical sketch
    assert out[1] & out[2]                  # shared run → shared fingerprint
    assert not (out[1] & out[4])            # disjoint text → disjoint sketch
    assert all(len(fp) == 32 for fp in out[1])  # md5 hex


def test_winnow_kernel_matches_expression(spark, sf_dir, arrow_var_types):
    """The Arrow winnowing kernel (round 10) must reproduce the
    interpreted HOF chain — transform(shingles_from, md5) →
    winnow_windows (array_min over w-slices + array_distinct) —
    element for element IN ORDER on the fixture corpus plus crafted
    edge rows (null text, empty, < k tokens, k..k+w-2 tokens with too
    few grams for one window, repeated grams, unicode)."""
    crafted = spark.createDataFrame(
        [
            Row(doc_id=900_001, text=None),
            Row(doc_id=900_002, text=""),
            Row(doc_id=900_003, text="one two"),
            Row(doc_id=900_004, text="a b c d"),  # 2 grams < w windows
            Row(doc_id=900_005, text="a b c a b c a b c a b c"),
            Row(doc_id=900_006, text="héllo wörld ünïcode çafé naïve ok"),
        ],
        "doc_id long, text string",
    )
    d = T(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        crafted
    )
    staged = d.withColumn(
        "_wf_t", X.tokens(X.normalize_text("text"))
    ).withColumn(
        "_wf_h",
        F.transform(X.shingles_from("_wf_t", n=3), lambda g: F.md5(g)),
    )
    expr = {
        r.doc_id: r.fps
        for r in staged.withColumn(
            "fps", X.winnow_windows("_wf_h", w=4)
        ).select("doc_id", "fps").collect()
    }
    kern = {
        r.doc_id: r.fps
        for r in X.with_winnow_fingerprints(
            d, "text", k=3, w=4, drop_text=True
        ).collect()
    }
    assert kern == expr


def test_pos_grams_kernel_matches_expression(spark, sf_dir, arrow_var_types):
    """The positional-gram Arrow kernel (round 10, passage_scrub's
    gram stream) must emit the exact (id, p, gram) multiset that
    posexplode(shingles_from(_tk, n)) emits — including dropping
    null/short-token rows entirely, 0-based positions, and
    duplicate grams kept (no distinct)."""
    crafted = spark.createDataFrame(
        [
            Row(doc_id=900_001, text=None),
            Row(doc_id=900_002, text=""),
            Row(doc_id=900_003, text="one two three four"),
            Row(doc_id=900_004, text="a b c d e a b c d e a b c d e"),
        ],
        "doc_id long, text string",
    )
    d = T(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        crafted
    )
    staged = d.select(
        "doc_id", X.tokens(X.normalize_text("text")).alias("_tk")
    )
    expr = sorted(
        map(
            tuple,
            staged.select(
                "doc_id",
                F.posexplode(X.shingles_from("_tk", 5)).alias("p", "gram"),
            ).collect(),
        )
    )
    kern = sorted(
        map(tuple, X.pos_grams_arrow(staged, 5, ["doc_id"]).collect())
    )
    assert kern == expr


def test_content_pairs_kernel_matches_expression(spark, sf_dir, tmp_path, arrow_var_types):
    """The Arrow content-word-pair kernel (round 10, keyword_pagerank /
    word_triangles edge builder) must emit the exact distinct canonical
    pair set the HOF chain emits: regexp-cleaned alphabetic words of
    length ≥ 5, docs with ≥ 3 such words, ±1/±2 co-occurrence pairs,
    least/greatest canonicalized, self-pairs dropped."""
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.text import (
        _content_word_pairs,
    )

    crafted = [
        Row(doc_id=900_001, source="x", lang="en", text=None),
        Row(doc_id=900_002, source="x", lang="en", text="short of it"),
        Row(
            doc_id=900_003,
            source="x",
            lang="en",
            text="alpha9wolf bravoteam bravoteam charlie12horse delta",
        ),
        Row(
            doc_id=900_004,
            source="x",
            lang="en",
            text="zebra7 ünïcodé grande grande grande wording",
        ),
    ]
    base = T(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    d = base.unionByName(
        spark.createDataFrame(
            crafted, "doc_id long, source string, lang string, text string"
        )
    )
    out = tmp_path / "docs.parquet"
    d.write.mode("overwrite").parquet(str(out))
    # expression twin, inline (the pre-round-10 form)
    toks = spark.read.parquet(str(out)).select(
        X.tokens(X.normalize_text("text")).alias("tk")
    )
    wcol = F.filter(
        F.transform(F.col("tk"), lambda t: F.regexp_replace(t, "[^a-z]", "")),
        lambda t: F.length(t) >= 5,
    )
    docs = toks.select(wcol.alias("w")).filter(F.size("w") >= 3)
    n = F.size("w")

    def off_pairs(k: int):
        return F.zip_with(
            F.slice(F.col("w"), 1, n - k),
            F.slice(F.col("w"), k + 1, n - k),
            lambda a, b: F.struct(
                F.least(a, b).alias("src"), F.greatest(a, b).alias("dst")
            ),
        )

    expr = {
        (r.src, r.dst)
        for r in docs.select(
            F.explode(F.concat(off_pairs(1), off_pairs(2))).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .collect()
    }
    import steel_energy_consumption_prediction_using_pyspark_spark.workload.util as U

    orig_t = U.T
    try:
        U.T = lambda sp, sd, name: (
            sp.read.parquet(str(out)) if name == "documents" else orig_t(sp, sd, name)
        )
        import steel_energy_consumption_prediction_using_pyspark_spark.workload.text as WT

        orig_wt_t = WT.T
        WT.T = U.T
        kern = {
            (r.src, r.dst)
            for r in _content_word_pairs(spark, sf_dir).collect()
        }
    finally:
        U.T = orig_t
        WT.T = orig_wt_t
    assert kern == expr


def test_skipgram_kernel_matches_expression(spark, sf_dir, arrow_var_types):
    """The Arrow skip-gram pair kernel (round 10) must emit the exact
    (wa, wb) pair MULTISET the sequence→transform→filter→flatten HOF
    nest emits — per-pair counts compared, not just the top-20."""
    crafted = spark.createDataFrame(
        [
            Row(doc_id=900_001, text=None),
            Row(doc_id=900_002, text=""),
            Row(doc_id=900_003, text="solo"),
            Row(doc_id=900_004, text="a b"),
            Row(doc_id=900_005, text="x y z x y z"),
        ],
        "doc_id long, text string",
    )
    d = T(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        crafted
    )
    toks = d.select(X.tokens(X.normalize_text("text")).alias("tk"))
    n = F.size("tk")
    offs = F.array(F.lit(-2), F.lit(-1), F.lit(1), F.lit(2))
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.filter(
                F.transform(
                    offs,
                    lambda o: F.struct(
                        F.element_at(F.col("tk"), i.cast("int")).alias("wa"),
                        F.when(
                            i + o >= 1,
                            F.try_element_at(F.col("tk"), (i + o).cast("int")),
                        ).alias("wb"),
                    ),
                ),
                lambda s: s["wb"].isNotNull(),
            ),
        )
    )
    expr = {
        (r.wa, r.wb, r.cnt)
        for r in toks.filter(n >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.wa").alias("wa"), F.col("p.wb").alias("wb"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }

    import steel_energy_consumption_prediction_using_pyspark_spark.workload.text as WT
    import steel_energy_consumption_prediction_using_pyspark_spark.workload.util as U

    # Drive the public query (kernel → groupBy → top-20 with full
    # lexicographic tiebreak) over the crafted union by redirecting T,
    # and compare against the expression's identically-tiebroken
    # top-20. The tiebreak is total, so top-20 equality pins the pair
    # counts it covers exactly; the full-multiset agreement is what
    # the groupBy consumes and the oracle hash checks corpus-wide.
    orig_t, orig_wt_t = U.T, WT.T
    try:
        U.T = WT.T = lambda sp, sd, name: (
            d if name == "documents" else orig_t(sp, sd, name)
        )
        kern_top = [
            (r.wa, r.wb, r.cnt)
            for r in WT.q_skipgram_counts(spark, sf_dir).collect()
        ]
    finally:
        U.T = orig_t
        WT.T = orig_wt_t
    expr_top = sorted(expr, key=lambda t: (-t[2], t[0], t[1]))[:20]
    assert kern_top == expr_top


def test_winnow_pairs_df_cap_recall(spark):
    """The winnow_pairs df cap (round 8, VERDICT r7 #1) must kill the
    boilerplate quadratic WITHOUT losing true near-dup pairs: 60 docs
    share one 16-token boilerplate run (its fingerprints have df=60 >
    cap → dropped; uncapped they flood C(60,2)=1770 candidate pairs),
    while a clone pair shares a long UNIQUE run (df=2 → kept)."""
    boiler = (
        "terms of service apply to all users of this site without any "
        "warranty of fitness"
    )  # 16 tokens — ≥2 winnow fingerprints land fully inside the run
    rows = [
        (
            i,
            f"{boiler} marker{i} alpha{i} beta{i} gamma{i} delta{i}",
        )
        for i in range(60)
    ]
    clone = (
        "quick brown fox jumps over the lazy dog again and again near "
        "the silent river"
    )
    rows.append((100, clone + " variant one ending"))
    rows.append((101, clone + " variant two closing"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    fps = X.with_winnow_fingerprints(d, "text", k=3, w=4)

    capped = {
        (r.id_a, r.id_b)
        for r in X.winnow_pair_counts(
            fps, "doc_id", "fps", df_cap=50, min_shared=2
        ).collect()
    }
    assert (100, 101) in capped  # true near-dup survives the cap
    # boilerplate-only docs share ONLY df>cap fingerprints → no pairs
    assert not any(a < 100 and b < 100 for a, b in capped)

    # Without the cap the boilerplate family floods quadratically.
    uncapped = X.winnow_pair_counts(
        fps, "doc_id", "fps", df_cap=10**9, min_shared=2
    ).count()
    assert uncapped >= 1770 + 1


def test_connected_components_chain(spark):
    """Min-label propagation must traverse chains, not just stars:
    1-2-3-4 needs three propagation rounds for node 4 to reach label
    1. Isolated nodes stay their own singleton cluster."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "id long")
    got = {r.id: r.cluster for r in connected_components(edges, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_stratified_sample_nested(spark, sf_dir):
    """Hash-threshold samples are nested: the 10% survivor set is a
    strict subset of the 50% set for the same stratum — the property
    that makes increasing-size corpus ablations comparable."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.relational import (
        stratified_hash_sample,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.util import T

    d = T(spark, sf_dir, "documents")
    small = {
        r.doc_id
        for r in stratified_hash_sample(d, "lang", {"en": 0.1}, "doc_id").collect()
        if r.lang == "en"
    }
    big = {
        r.doc_id
        for r in stratified_hash_sample(d, "lang", {"en": 0.5}, "doc_id").collect()
        if r.lang == "en"
    }
    assert small and small < big


def test_chunk_text_covers_and_overlaps(spark):
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.text import (
        chunk_text,
    )

    text = "abcdefghij" * 30  # 300 chars
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = chunk_text(df, "text", size=100, overlap=20).orderBy("chunk_idx").collect()
    # stride 80: starts 0,80,160,240 → lens 100,100,100,60
    assert [r.chunk_len for r in rows] == [100, 100, 100, 60]
    # consecutive chunks agree on the 20-char overlap
    for a, b in zip(rows, rows[1:]):
        assert a.chunk_text[-20:] == b.chunk_text[:20]
    # reconstruction: dropping each chunk's leading overlap re-yields the text
    rebuilt = rows[0].chunk_text + "".join(r.chunk_text[20:] for r in rows[1:])
    assert rebuilt == text


def test_prefix_jaccard_matches_bruteforce(spark, sf_dir):
    """Prefix filtering is EXACT: pair-for-pair identical to the
    unblocked O(n²) cross product at the same threshold, including
    the planted clones at J=1.0."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    d = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    clones = (
        d.orderBy("doc_id").limit(5).withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    )
    u = d.unionByName(clones)
    fast = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in prefix_jaccard_pairs(u, threshold=0.5, shingle_n=3).collect()
    }
    brute = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in ngram_jaccard_pairs(
            u, "text", "doc_id", block_col=None, shingle_n=3, threshold=0.5
        ).collect()
    }
    assert fast == brute
    assert sum(1 for (_, b, j) in fast if b >= 10_000_000 and j == 1.0) >= 5


def test_inverted_index_matches_bruteforce(spark, sf_dir):
    """The block-local inverted-index Jaccard (explode postings →
    gram equi-join → pair count) is a pure plan rewrite of the
    quadratic blocked self-join: any pair with jaccard ≥ threshold > 0
    shares ≥1 gram, so the index finds it, and |A∪B| = |A|+|B|−|A∩B|
    reproduces the same double. Pin pair-for-pair equality (ids AND
    jaccard) against a naive unsalted blocked join on the same inputs.
    Clones are planted so the pair set is guaranteed non-empty at
    every fixture SF (clone pairs land at J=1.0 in the clone's
    block)."""
    d, _ = _planted(spark, sf_dir, n=5)
    d = d.filter((F.col("doc_id") % 10_000_000) < 300)
    fast = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in D.ngram_jaccard_pairs(
            d, "text", "doc_id", block_col="source", threshold=0.03
        ).collect()
    }
    # naive twin: same hashed-shingle projection, plain blocked join
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.text import (
        normalize_text,
        shingles_from,
        tokens,
    )

    sh = (
        d.select(
            F.col("doc_id").alias("_id"),
            F.col("source").alias("_blk"),
            tokens(normalize_text("text")).alias("_tk"),
        )
        .select(
            "_id",
            "_blk",
            F.array_distinct(
                F.transform(
                    F.array_distinct(shingles_from("_tk", 3)), D.gram_hash32
                )
            ).alias("_sh"),
        )
        .filter(F.size("_sh") > 0)
    )
    inter = F.size(F.array_intersect(F.col("x._sh"), F.col("y._sh")))
    union = F.size(F.array_union(F.col("x._sh"), F.col("y._sh")))
    naive = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x._id") < F.col("y._id"))
            & (F.col("x._blk") == F.col("y._blk")),
        )
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            (inter / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.03)
        .collect()
    }
    assert fast == naive
    assert len(fast) > 0


def test_fanout_self_join_preserves_pair_set(spark, sf_dir):
    """The salted self-join (_fanout_self_join, now the simhash pair
    path) is a pure plan rewrite: every candidate pair is produced
    exactly once, at the x row's salt — pinned pair-for-pair against
    a naive unsalted blocked join over the same simhash signatures,
    with planted clones guaranteeing Hamming-0 pairs at every SF."""
    d, _ = _planted(spark, sf_dir, n=5)
    d = d.filter((F.col("doc_id") % 10_000_000) < 300)
    fast = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_pairs(
            d, "text", "doc_id", max_hamming=4, block_col="lang"
        ).collect()
    }
    sig = d.select(
        F.col("doc_id").alias("_id"),
        F.col("lang").alias("_blk"),
        D.simhash64("text").alias("_sh"),
    )
    naive = {
        (r.id_a, r.id_b, r.hamming)
        for r in sig.alias("x")
        .join(
            sig.alias("y"),
            (F.col("x._id") < F.col("y._id"))
            & (F.col("x._blk") == F.col("y._blk")),
        )
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            D.hamming64(F.col("x._sh"), F.col("y._sh")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 4)
        .collect()
    }
    assert fast == naive
    assert len(fast) > 0


def test_bigram_lm_templated_docs_score_higher(spark, sf_dir):
    """A document of corpus-frequent bigrams must out-score one made of
    bigrams the corpus has never seen (the axis the filter acts on)."""
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.text import (
        q_bigram_lm,
    )
    import pyspark.sql.functions as F
    from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
        text as X,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.util import T

    # per-lang envelope sanity: every lang present, min <= avg <= max
    out = q_bigram_lm(spark, sf_dir).collect()
    assert out, "no rows"
    for r in out:
        assert r.min_logprob <= r.avg_logprob <= r.max_logprob
        assert r.avg_logprob < 0.0  # log-probabilities

    # direct per-doc check on a controlled corpus
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "en") for i in range(9)]
        + [(9, "zz qq xx yy", "en")],
        "doc_id long, text string, lang string",
    )
    toks = docs.select(
        "doc_id", X.tokens(X.normalize_text(F.col("text"))).alias("_tk")
    )
    big = toks.select(
        "doc_id", F.explode(X.shingles_from("_tk", 2)).alias("gram")
    ).withColumn("w1", F.element_at(F.split("gram", " "), 1))
    cb = big.groupBy("gram").count().withColumnRenamed("count", "cb")
    scored = (
        big.join(cb, "gram")
        .groupBy("doc_id")
        .agg(F.avg(F.log(F.col("cb") + 0.5)).alias("s"))
        .collect()
    )
    s = {r.doc_id: r.s for r in scored}
    assert s[0] > s[9]  # templated doc beats the gibberish doc


def test_passage_scrub_token_accounting(spark, sf_dir):
    """removed <= total per source, and the planted 3x-duplicated doc
    drives its 5-grams over the df>=3 boilerplate threshold so its
    tokens are scrubbed in full (coverage by construction)."""
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.text import (
        q_passage_scrub,
    )

    rows = q_passage_scrub(spark, sf_dir).collect()
    assert rows
    total = sum(r.tokens_total for r in rows)
    removed = sum(r.tokens_removed for r in rows)
    assert 0 <= removed <= total
    for r in rows:
        assert 0 <= r.tokens_removed <= r.tokens_total
        assert abs(r.removed_ratio - round(r.tokens_removed / r.tokens_total, 6)) < 2e-6


def test_passage_scrub_planted_boilerplate_fully_removed(spark):
    """Three docs sharing one long passage (>=5 tokens) plus unique
    tails: the shared passage's tokens are removed from ALL THREE docs,
    the unique tails survive."""
    import pyspark.sql.functions as F
    from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
        text as X,
    )

    shared = "one two three four five six"  # 6 tokens -> 2 boiler grams
    docs = spark.createDataFrame(
        [
            (0, shared + " tail0a tail0b", "s0"),
            (1, shared + " tail1a", "s0"),
            (2, shared, "s1"),
            (3, "totally different words here now", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    toks = docs.select(
        "doc_id",
        "source",
        X.tokens(X.normalize_text(F.col("text"))).alias("_tk"),
    ).withColumn("n_tok", F.size("_tk").cast("bigint"))
    grams = toks.select(
        "doc_id", F.posexplode(X.shingles_from("_tk", 5)).alias("p", "gram")
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
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("p") + 1, F.col("p") + 5)).alias("ti"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("removed"))
    )
    got = {r.doc_id: r.removed for r in covered.collect()}
    # the shared 6-token passage yields grams at p=0,1 -> covers 1..6
    assert got == {0: 6, 1: 6, 2: 6}  # doc 3 untouched (absent)


def _bpe_scan_reference(syms, a, b):
    """Greedy left-to-right positional merge — the textbook scan."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_bpe_merge_fold_equals_scan(spark):
    """merge_pair_greedy's fold must equal the positional greedy scan
    on adversarial symbol runs (a==b runs, interleavings, no-ops)."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.text import (
        merge_pair_greedy,
    )

    cases = [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "b", "a", "b"], "a", "b"),
        (["a", "a", "b", "b"], "a", "b"),
        (["x", "a", "b", "b", "a"], "a", "b"),
        (["b", "a"], "a", "b"),
        (["a"], "a", "a"),
        ([], "a", "b"),
        (["c", "c", "d", "c", "d", "d"], "c", "d"),
        (["ab", "a", "b", "ab"], "a", "b"),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)],
        "i int, s array<string>",
    )
    for i, (syms, a, b) in enumerate(cases):
        got = (
            df.filter(F.col("i") == i)
            .select(merge_pair_greedy("s", a, b).alias("m"))
            .head()
            .m
        )
        assert got == _bpe_scan_reference(syms, a, b), (i, syms, a, b, got)


def test_bpe_learn_deterministic_and_monotone(spark, sf_dir):
    """Same merges whatever the partitioning; pair counts are the
    arg-max of each round so they never increase between consecutive
    rounds of the same corpus... (they CAN tie or interleave after a
    merge creates a new frequent pair, so only determinism is pinned
    hard; the monotone check allows the documented new-pair jumps)."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.text import (
        bpe_learn,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
        text as X,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.util import T

    d = T(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    m1 = bpe_learn(words, n_merges=5)
    m2 = bpe_learn(words.repartition(7), n_merges=5)
    assert m1 == m2
    assert len(m1) == 5
    # every learned merge had a strictly positive weighted count
    assert all(cnt > 0 for _, _, cnt in m1)


def test_bpe_encode_token_accounting(spark, sf_dir):
    """Encoding invariants: merges only ever shrink the symbol count,
    so words <= subtokens <= chars per lang; and the vocabulary join
    loses no tokens (sum of n_words == corpus token count)."""
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.text import (
        q_bpe_encode,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
        text as X,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.util import T

    rows = q_bpe_encode(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_words <= r.n_subtokens <= r.n_chars
        assert 1.0 <= r.chars_per_subtoken
    d = T(spark, sf_dir, "documents")
    total_tokens = (
        d.select(
            F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("w")
        )
        .filter(F.col("w") != "")
        .count()
    )
    assert sum(r.n_words for r in rows) == total_tokens


def test_lsh_quality_metrics(spark, sf_dir):
    """The evaluation harness itself: the 10 planted exact clones are
    truth pairs AND banding candidates (identical signatures collide
    in every band), so n_hit >= 10; metrics are consistent ratios."""
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.text import (
        q_lsh_quality,
    )

    r = q_lsh_quality(spark, sf_dir).head()
    assert r.n_truth >= 10 and r.n_hit >= 10
    assert r.n_hit <= min(r.n_truth, r.n_candidates)
    assert abs(r.recall - round(r.n_hit / r.n_truth, 6)) < 2e-6
    assert abs(r.precision - round(r.n_hit / r.n_candidates, 6)) < 2e-6


def test_bpe_learn_stops_when_pairs_exhausted(spark):
    """A vocabulary that runs out of adjacent pairs before n_merges
    must stop early (the break path), not loop or error."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.text import (
        bpe_learn,
    )

    words = spark.createDataFrame([("ab", 3)], "word string, freq long")
    merges = bpe_learn(words, n_merges=5)
    # one merge (a,b) collapses the only word to a single symbol
    assert merges == [("a", "b", 3)]


def test_bpe_learn_single_char_vocab_no_merges(spark):
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.text import (
        bpe_learn,
    )

    words = spark.createDataFrame(
        [("a", 5), ("b", 2)], "word string, freq long"
    )
    assert bpe_learn(words, n_merges=3) == []


def test_incremental_dedup_equals_full_recompute(spark, sf_dir):
    """The incremental path (batch signed fresh, corpus from the
    persisted store) must return EXACTLY the full-recompute pairs that
    touch the batch — the functional half of the oracle's claim."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
        dedup as D,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.text import (
        _BATCH_OFF_A,
        _BATCH_OFF_B,
        q_incremental_dedup,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.util import T

    inc = sorted(map(tuple, q_incremental_dedup(spark, sf_dir).collect()))

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    c10 = d.orderBy("doc_id").limit(10).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_BATCH_OFF_A)
    )
    c3 = d.orderBy("doc_id").limit(3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_BATCH_OFF_B)
    )
    full = D.minhash_lsh_pairs(
        d.unionByName(c10).unionByName(c3), "text", "doc_id",
        num_hashes=32, bands=8, jaccard_threshold=0.5,
    )
    full_touching = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 4))
        for r in full.collect()
        if r.id_b >= _BATCH_OFF_A
    )
    assert inc == full_touching
    # the planted clones guarantee recall floors at any SF:
    pairs = {(a, b) for a, b, _ in inc}
    lowest = [r.doc_id for r in d.orderBy("doc_id").limit(10).collect()]
    for k in lowest:
        assert (k, k + _BATCH_OFF_A) in pairs
    for k in lowest[:3]:
        assert (k + _BATCH_OFF_A, k + _BATCH_OFF_B) in pairs
