"""Text analysis operators for LLM-data pipelines.

All hot-path expressions are built-in Catalyst functions (split,
regexp, higher-order array functions) — zero Python in the row path,
so every operator whole-stage-codegens and scales linearly with input
bytes. These are the operators a 100 TB pretraining-data pipeline
runs over every document: token counting, quality scoring,
language ID, fingerprinting.

The reference has no text surface (SURVEY.md §2.8: no string
functions at all); this module is the north-star extension mandated
by the build plan (SURVEY.md §7.2 M4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from steel_energy_consumption_prediction_using_pyspark_spark.operators.arrow import (
    build_list,
    gram_windows,
    join_grams,
    list_parts,
    md5_digests,
)

# Whitespace tokenizer: matches both Java regex (Spark) and RE2
# (DuckDB oracle) semantics for this pattern.
TOKEN_SEP = " "

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deliberately minimal and deterministic — language ID at 100 TB scale
# is a first-pass router, not a classifier of record.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "de", "et", "les"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("的", "是", "了", "在", "和"),
}

DEFAULT_STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def tokens(text: Column | str) -> Column:
    """Whitespace tokens. split('a b ', ' ') keeps the trailing empty
    string in both Spark (Java split, limit=-1) and the oracle — pinned
    by tests so the count semantics never drift."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, TOKEN_SEP)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def word_tokens(text: Column | str) -> Column:
    """BPE-ish word/number/symbol tokenization via regexp — the
    'how many model tokens is this, roughly' estimator."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)


def stopword_ratio(
    text: Column | str, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS
) -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda w: w.isin(*stopwords)))
    return hits / F.size(toks).cast("double")


def char_stats(text: Column | str) -> dict[str, Column]:
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c).cast("double")
    nonspace = F.length(F.regexp_replace(c, r"\s", ""))
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    digit = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    return {
        "n_chars": F.length(c),
        "alpha_ratio": alpha / n,
        "digit_ratio": digit / n,
        "space_ratio": (F.length(c) - nonspace) / n,
    }


def quality_score(
    text: Column | str,
    min_tokens: int = 20,
    max_tokens: int = 5000,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
) -> Column:
    """Deterministic [0,1] quality heuristic in the spirit of
    Gopher/C4-style document filters: length in range, healthy
    stopword density, words not absurdly long. Pure arithmetic on
    built-ins → identical in any ANSI engine."""
    toks = tokens(text)
    nt = F.size(toks).cast("double")
    length_ok = F.when(
        (nt >= min_tokens) & (nt <= max_tokens), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    stop = stopword_ratio(text, stopwords)
    stop_ok = F.when((stop >= 0.01) & (stop <= 0.7), F.lit(1.0)).otherwise(F.lit(0.0))
    mean_wlen = F.aggregate(
        toks, F.lit(0.0), lambda acc, w: acc + F.length(w)
    ) / nt
    wlen_ok = F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    return (length_ok * 0.4 + stop_ok * 0.3 + wlen_ok * 0.3)


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-hit count per language (the lang-ID features)."""
    toks = tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda w: w.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_scores_array(text: Column | str) -> Column:
    """All marker-hit counts in ONE pass over the token array (langs in
    sorted code order). A naive per-language filter scans the array
    once per language and the argmax when-chain re-evaluates each score
    — this fold is the single-scan version (measured ~7× faster on the
    documents fixture)."""
    toks = tokens(text)
    langs = sorted(LANG_MARKERS)
    zeros = F.array_repeat(F.lit(0), len(langs))
    return F.aggregate(
        toks,
        zeros,
        lambda acc, w: F.zip_with(
            acc,
            F.array(*[w.isin(*LANG_MARKERS[lang]).cast("int") for lang in langs]),
            lambda a, b: a + b,
        ),
    )


def lang_guess(text: Column | str, min_hits: int = 1) -> Column:
    """Argmax over marker-hit counts with deterministic tiebreak
    (first maximal language in sorted code order); 'und' when nothing
    matched."""
    langs = sorted(LANG_MARKERS)
    arr = lang_scores_array(text)
    mx = F.array_max(arr)
    first_max = F.array_position(arr, mx)  # 1-based first occurrence
    name = F.element_at(F.array(*[F.lit(lang) for lang in langs]), first_max.cast("int"))
    return F.when(mx >= min_hits, name).otherwise(F.lit("und"))


def normalize_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse
    whitespace, trim."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(text: Column | str) -> Column:
    """Content fingerprint = md5 of the normalized text. md5 is
    engine-portable (same digest everywhere); xxhash64 is the faster
    Spark-internal alternative used by the dedup module."""
    return F.md5(normalize_text(text))


def shingles_from(toks: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles from an existing tokens array, via
    higher-order functions (sequence → transform → element_at): no
    explode, no shuffle — each row computes its shingle array in
    place.

    `toks` MUST be a named column (or other cheap expression): the
    gram lambda references it n times per gram, so an inline
    tokenization subtree would re-split the whole document for every
    gram — O(tokens²) work per doc. Callers stage the tokens with a
    withColumn first (see with_winnow_fingerprints / dedup module)."""
    t = F.col(toks) if isinstance(toks, str) else toks
    # Guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark,
    # so short texts need an explicit empty index array.
    idx = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, i + j) for j in range(n)]
        ),
    )


def pos_grams_arrow(
    staged: DataFrame, n: int, keep: list[str]
) -> DataFrame:
    """(keep..., p, gram) exploded positional word n-grams from a
    (keep..., _tk tokens) relation — the Arrow-kernel twin of
    ``select(keep..., posexplode(shingles_from(_tk, n)))`` (round 10).
    One vectorized binary_join_element_wise over the flat token buffer
    replaces the per-gram interpreted HOF lambda; row boundaries are
    re-imposed from the list offsets, and `p` is the 0-based gram
    index posexplode emits. Rows with NULL or < n tokens emit nothing,
    exactly as non-outer posexplode over the empty/guarded
    shingles_from output does. Parity pinned by tests/
    test_text_dedup.py::test_pos_grams_kernel_matches_expression."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [staged.schema[c] for c in keep]
        + [StructField("p", IntegerType()), StructField("gram", StringType())]
    )

    def _kern(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            nrows = b.num_rows
            if nrows == 0:
                continue
            offs, valid, vals = list_parts(b.column("_tk"))
            sizes = offs[1:] - offs[:-1]
            counts = np.where(valid, np.maximum(sizes - (n - 1), 0), 0)
            if not counts.any():
                continue
            idx, row_of = gram_windows(offs, counts)
            rows = pa.array(row_of)
            yield pa.RecordBatch.from_arrays(
                [b.column(c).take(rows) for c in keep]
                + [
                    pa.array((idx - offs[row_of]).astype(np.int32), pa.int32()),
                    join_grams(vals, int(offs[-1]), n).take(pa.array(idx)),
                ],
                keep + ["p", "gram"],
            )

    return staged.mapInArrow(_kern, schema)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Shingles straight from raw text. Convenience for tests/small
    inputs — the inline tokenization is re-evaluated per gram (see
    shingles_from), so hot paths stage tokens first."""
    return shingles_from(tokens(normalize_text(text)), n=n)


def winnow_windows(hashes: Column | str, w: int = 4) -> Column:
    """Winnowing window-minimum selection over a gram-hash array:
    min hash of each w-wide sliding window, deduped.

    CAUTION: pass a NAMED column, never an inline expression — the
    window lambda references the array once per window, so an inline
    subtree re-hashes every gram for every window (O(grams²) md5
    calls per doc; measured ~90× slower on the documents fixture).
    :func:`with_winnow_fingerprints` stages the projection correctly."""
    h = F.col(hashes) if isinstance(hashes, str) else hashes
    idx = F.when(
        F.size(h) >= w, F.sequence(F.lit(1), F.size(h) - (w - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    wins = F.transform(idx, lambda i: F.array_min(F.slice(h, i, w)))
    return F.array_distinct(wins)


def _winnow_arrow(
    staged: DataFrame, k: int, w: int, keep: list[str], out_col: str
) -> DataFrame:
    """(keep..., out_col) from a (keep..., _tk tokens) relation: the
    deduped winnowing fingerprint set per row as ONE Arrow-batched
    kernel — the round-10 replacement for the interpreted HOF chain
    array_distinct(transform(idx, i -> array_min(slice(md5-grams, i,
    w)))) of :func:`winnow_windows` over transform(shingles_from(...),
    md5).

    Exactness, stage by stage:
    - grams: ``arrow.join_grams`` windowed by ``arrow.gram_windows``
      (same recipe as dedup._shingle_arrow).
    - md5: ``arrow.md5_digests`` is the 16-byte digest the JVM md5()
      hex-encodes; the kernel compares digests as big-endian (hi, lo)
      uint64 pairs — lowercase-hex string order IS digest byte order
      (hex encoding is monotone), so numeric (hi, lo) minima equal
      array_min's lexicographic string minima.
    - window minima: w-1 vectorized compare/select passes over shifted
      views; the winning gram's absolute position is tracked so the
      output hex is re-encoded from the winner's digest bytes (equal
      digests ⟺ equal hex, so tie choice is value-invariant).
    - distinct: first-occurrence per row (lexsort + group-min of the
      original window index) — exactly array_distinct's order.
    Rows with NULL/short token arrays yield an empty set, as the
    expression's when/otherwise guards do.

    Parity is pinned by tests/test_text_dedup.py::
    test_winnow_kernel_matches_expression."""
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [staged.schema[c] for c in keep]
        + [StructField(out_col, ArrayType(StringType()))]
    )

    def _kern(batches):
        import binascii

        import numpy as np
        import pyarrow as pa

        for b in batches:
            nrows = b.num_rows
            if nrows == 0:
                continue
            offs, valid, vals = list_parts(b.column("_tk"))
            sizes = offs[1:] - offs[:-1]
            g = np.where(valid, np.maximum(sizes - (k - 1), 0), 0)
            # Window t of row i covers grams offs[i]+t .. offs[i]+t+w-1,
            # all inside row i's gram range (t+w-1 < g_i).
            idx, row_of = gram_windows(offs, np.maximum(g - (w - 1), 0))
            raw = md5_digests(join_grams(vals, int(offs[-1]), k))
            dig = raw.view(">u8")
            hi = dig[:, 0].astype(np.uint64)
            lo = dig[:, 1].astype(np.uint64)
            wh = hi[idx].copy()
            wl = lo[idx].copy()
            wpos = idx.copy()
            for j in range(1, w):
                ch = hi[idx + j]
                cl = lo[idx + j]
                lt = (ch < wh) | ((ch == wh) & (cl < wl))
                wh[lt] = ch[lt]
                wl[lt] = cl[lt]
                wpos[lt] = idx[lt] + j
            # First-occurrence distinct per (row, digest): group by
            # sorted (row, hi, lo), keep the MIN original window index
            # of each group, then restore window order.
            order = np.lexsort((wl, wh, row_of))
            rs, hs_, ls_ = row_of[order], wh[order], wl[order]
            new_grp = np.ones(len(order), dtype=bool)
            new_grp[1:] = (
                (rs[1:] != rs[:-1])
                | (hs_[1:] != hs_[:-1])
                | (ls_[1:] != ls_[:-1])
            )
            grp_starts = np.nonzero(new_grp)[0]
            first_orig = np.minimum.reduceat(order, grp_starts)
            keep_idx = np.sort(first_orig)
            out_rows = row_of[keep_idx]
            kept_raw = raw[wpos[keep_idx]]
            m = len(keep_idx)
            hexdata = binascii.hexlify(kept_raw.tobytes())
            soffs = np.arange(0, 32 * (m + 1), 32, dtype=np.int32)
            out_vals = pa.Array.from_buffers(
                pa.utf8(),
                m,
                [None, pa.py_buffer(soffs.tobytes()), pa.py_buffer(hexdata)],
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in keep]
                + [build_list(out_rows, out_vals, nrows)],
                keep + [out_col],
            )

    return staged.mapInArrow(_kern, schema)


def with_winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    out_col: str = "fps",
    drop_text: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003): hash every word k-gram, keep the minimum hash of
    each w-wide sliding window, dedupe. Guarantees any shared run of
    >= k + w - 1 tokens contributes at least one shared fingerprint,
    while storing only ~2/(w+1) of the gram hashes — the standard
    plagiarism/near-dup sketch when positional evidence matters
    (MinHash sketches the SET of shingles; winnowing samples their
    SEQUENCE).

    No explode, no shuffle. md5 (not xxhash64) so the fingerprints are
    engine-portable and the operator stays oracle-checkable. The
    tokenize stays a JVM builtin; the gram→md5→window-min→distinct
    chain runs as the :func:`_winnow_arrow` kernel (round 10) — the
    interpreted HOF form evaluated one lambda per gram for the md5
    map plus one array_min(slice) lambda per window, the dominant
    per-row cost of the winnowing tiers.

    ``drop_text``: omit ``text_col`` from the output (hot paths that
    would immediately .drop() it anyway — an opaque kernel defeats
    column pruning, so the bytes must be excluded BEFORE the Python
    boundary, guide §4.1)."""
    keep = [c for c in df.columns if not (drop_text and c == text_col)]
    staged = df.select(
        *keep, tokens(normalize_text(text_col)).alias("_tk")
    )
    return _winnow_arrow(staged, k, w, keep, out_col)


def winnow_pair_counts(
    fps_df: DataFrame,
    id_col: str = "doc_id",
    fps_col: str = "fps",
    df_cap: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup pair mining over winnowing fingerprint sets: explode
    the fingerprint arrays into an inverted index, DROP fingerprints
    whose document frequency exceeds `df_cap`, self-join on the
    surviving fingerprints, and count shared prints per (id_a < id_b)
    pair, keeping pairs sharing >= `min_shared`.

    The df cap is the scale contract (round 8, VERDICT r7 #1): a
    fingerprint shared by L documents emits L(L-1)/2 candidates — one
    boilerplate print makes the join quadratic in corpus size. A
    print with df > cap is a stop-gram of the fingerprint domain
    (shared so widely it no longer discriminates pairs — the MOSS
    "common code elimination" move); dropping it bounds candidates at
    n_fingerprints * C(cap, 2), linear in the corpus, while true
    near-dup families (df ~ clone-family size) survive untouched.

    Physical shape: the df filter is a window count over fp — ONE
    shuffle, and its output partitioning/sort on fp is exactly what
    the self-join needs, so the planner reuses the exchange instead
    of re-shuffling either side."""
    from pyspark.sql import Window

    ex = fps_df.select(id_col, F.explode(fps_col).alias("fp"))
    ex = (
        ex.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("_df") <= df_cap)
        .drop("_df")
    )
    return (
        ex.alias("x")
        .join(
            ex.alias("y"),
            (F.col("x.fp") == F.col("y.fp"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .groupBy(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def add_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience projection appending the full feature set."""
    cs = char_stats(text_col)
    return df.withColumns(
        {
            "n_tokens": token_count(text_col),
            "n_word_tokens": F.size(word_tokens(text_col)),
            "stop_ratio": F.round(stopword_ratio(text_col), 6),
            "quality": quality_score(text_col),
            "lang_guess": lang_guess(text_col),
            "fp": fingerprint(text_col),
            "alpha_ratio": F.round(cs["alpha_ratio"], 6),
        }
    )


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    size: int = 128,
    overlap: int = 32,
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the context-window packing step of an LLM training-data pipeline.

    Pure built-ins, fully distributed: sequence() generates the chunk
    start offsets, posexplode fans them out (one output partition per
    input partition, no shuffle), substring slices. Stride is
    ``size - overlap``; the final chunk is allowed to be short. Output:
    id_cols + (chunk_idx, chunk_text, chunk_len).
    """
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    stride = size - overlap
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.length(text_col) - 1, F.lit(0)),
        F.lit(stride),
    )
    exploded = df.select(
        *id_cols,
        F.col(text_col).alias("_ct_text"),
        F.posexplode(starts).alias("chunk_idx", "_ct_start"),
    )
    chunk = F.substring(F.col("_ct_text"), F.col("_ct_start") + 1, size)
    return exploded.select(
        *id_cols,
        "chunk_idx",
        chunk.alias("chunk_text"),
        F.length(chunk).alias("chunk_len"),
    )


# --- PII redaction ----------------------------------------------------------

# Deliberately conservative, engine-portable patterns (both Java regex
# and DuckDB's RE2 read them identically — no lookaround, no \b).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}-\d{4}"


def redact_pii(text: Column | str) -> Column:
    """Scrub email- and phone-shaped spans to typed placeholders — the
    mandatory pre-training hygiene pass. Pure regexp_replace chain:
    JVM-side, codegen'd, zero shuffles — it rides the scan like every
    other per-row text op. Order matters: emails first, or the phone
    pattern could bite digit runs inside an address's local part."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


def pii_counts(text: Column | str) -> tuple[Column, Column]:
    """(email_count, phone_count) per row via regexp_count — the audit
    twin of redact_pii (phone counted AFTER email removal, mirroring
    the redaction order)."""
    c = F.col(text) if isinstance(text, str) else text
    emails = F.regexp_count(c, F.lit(EMAIL_RE))
    phones = F.regexp_count(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), F.lit(PHONE_RE)
    )
    return emails, phones


# --- BPE merge learning -----------------------------------------------------


def chars_of(word: Column | str) -> Column:
    """Character-symbol array of a word (the BPE base alphabet).
    Spelled as a sequence/substring transform so a SQL twin can
    reproduce it verbatim (substr is 1-based in both engines)."""
    c = F.col(word) if isinstance(word, str) else word
    return F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.substring(c, i, F.lit(1)),
    )


def merge_pair_greedy(syms: Column | str, a: str, b: str) -> Column:
    """One BPE merge pass: replace adjacent (a, b) symbol pairs with
    the merged symbol a||b, greedy left-to-right, non-overlapping —
    exactly the scan semantics of Sennrich et al. 2016.

    Implemented as a single left fold (aggregate HOF, JVM-side): merge
    iff the last emitted symbol is `a` and the current one is `b`.
    This is equivalent to the position scan because a merge emits
    a||b ≠ a (symbols are non-empty), so a consumed left partner can
    never be re-used — pinned against a Python reference scan on fuzz
    words in tests. try_element_at (not element_at): the first fold
    step probes an empty accumulator, which under ANSI would throw."""
    s = F.col(syms) if isinstance(syms, str) else syms
    merged = a + b
    return F.aggregate(
        s,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def adjacent_pair_counts(words: DataFrame, syms: str = "s", freq: str = "freq") -> DataFrame:
    """Corpus-weighted adjacent symbol-pair counts: every adjacent
    position counts (overlapping runs count length−1 times), weighted
    by word frequency. Map-side explode + one hash agg on the (tiny,
    Heaps-bounded) vocabulary relation."""
    pairs = F.when(
        F.size(F.col(syms)) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col(syms)) - 1),
            lambda i: F.struct(
                F.element_at(F.col(syms), i).alias("a"),
                F.element_at(F.col(syms), i + F.lit(1)).alias("b"),
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<struct<a:string,b:string>>)"))
    return (
        words.select(F.col(freq), F.explode(pairs).alias("p"))
        .groupBy("p.a", "p.b")
        .agg(F.sum(F.col(freq)).alias("cnt"))
    )


def bpe_learn(
    words: DataFrame,
    n_merges: int = 10,
    word_col: str = "word",
    freq_col: str = "freq",
) -> list[tuple[str, str, int]]:
    """Learn the first ``n_merges`` BPE merges over a (word, freq)
    vocabulary relation. Fully deterministic: the arg-max pair breaks
    count ties lexicographically on (a, b), and counts are exact
    integers, so any engine replaying the same scan learns the same
    merge table (the round-3 portable doctrine applied to tokenizer
    training).

    Distribution shape: the vocabulary relation is Heaps-bounded —
    tiny relative to the corpus — so each Lloyd-like round is one
    map-side explode + hash agg over it plus a 1-row argmax collect
    (the same bounded-scalar pattern as k-means/pagerank convergence).
    The corpus-sized token scan happens ONCE, in the caller's
    word-count aggregation, never per merge round."""
    w = words.select(
        F.col(word_col).alias("word"),
        F.col(freq_col).cast("bigint").alias("freq"),
        chars_of(word_col).alias("s"),
    )
    # One eager localCheckpoint of the BASE vocabulary relation (the
    # pagerank/connected-components recipe): the corpus scan happens
    # exactly one time (round 3: replacing per-round full recomputes
    # measured 13.9 s -> ~3 s for 10 merges). Round 9 drops the
    # PER-ROUND checkpoints: each round folds its accumulated merge
    # list into the argmax's projection (the bpe_apply shape), so a
    # round is ONE job instead of two (argmax + an eager checkpoint
    # materialization). Round t re-applies t nested folds over the
    # Heaps-bounded checkpointed vocabulary - bounded extra JVM work
    # (sum t = n^2/2 folds over tiny rows) traded for n fewer driver
    # round trips and materializations; lineage stays truncated at the
    # single base checkpoint, so plans remain O(n_merges), never
    # corpus-deep.
    w = w.localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    col = F.col("s")
    for _ in range(n_merges):
        staged = w.withColumn("s", col) if merges else w
        top = (
            adjacent_pair_counts(staged)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merges.append((a, b, cnt))
        col = merge_pair_greedy(col, a, b)
    return merges


def bpe_apply(
    words: DataFrame,
    merges: list[tuple[str, str, int]],
    word_col: str = "word",
    out_col: str = "bpe",
) -> DataFrame:
    """Encode a word relation with an ordered merge list: start from
    characters, apply every merge in training order (one nested fold
    per merge — a single JVM-side projection over the Heaps-bounded
    vocabulary; documents then join the encoded vocabulary by word,
    so the corpus-sized side is never re-tokenized per merge)."""
    df = words.withColumn(out_col, chars_of(word_col))
    col = F.col(out_col)
    for a, b, _ in merges:
        col = merge_pair_greedy(col, a, b)
    return df.withColumn(out_col, col)
