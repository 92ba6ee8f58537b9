"""Text analysis operators for training-data pipelines.

All hot-path expressions are JVM-side built-ins (no Python UDFs): at 100 TB
these run inside whole-stage codegen directly over the parquet scan, shuffle
nothing, and column-prune to just ``doc_id``/``text``.

Tokenization convention: single-space split (matches the corpus format and
keeps DuckDB oracles exact). Swap ``TOKEN_SEP`` for a regex tokenizer via
``F.split(col, r"\\s+")`` for real-world corpora.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_SEP = " "

#: Tiny deterministic marker-word lists for heuristic language ID.
#: (The synthetic corpus is English-ish regardless of its `lang` label;
#: the operator contract is a deterministic scoring rule, not model quality.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "los", "que"),
    "de": ("der", "die", "das", "und", "nicht"),
    "fr": ("le", "la", "les", "et", "que"),
}

STOPWORDS: tuple[str, ...] = LANG_MARKERS["en"]


def tokens(col) -> Column:
    return F.split(col, TOKEN_SEP)


def token_count(col) -> Column:
    """Token count = whitespace-split length (idk-style cheap tokenizer)."""
    return F.size(tokens(col)).cast("long")


def char_count(col) -> Column:
    return F.length(col).cast("long")


def avg_word_len(col) -> Column:
    """Mean token length in characters (double; both engines compute the
    same bigint/bigint division)."""
    nchars_in_words = F.length(F.replace(col, F.lit(TOKEN_SEP), F.lit("")))
    return nchars_in_words.cast("double") / token_count(col)


def stopword_ratio(col, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Fraction of tokens that are stopwords — classic quality signal."""
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits.cast("double") / F.size(toks)


def distinct_token_ratio(col) -> Column:
    """Lexical diversity: distinct tokens / tokens (1.0 = no repetition)."""
    toks = tokens(col)
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks)


def dup_ngram_fraction(col, n: int = 2, pre_split: bool = False) -> Column:
    """Fraction of word n-grams that are REPEATS of an earlier n-gram in
    the same document (Gopher's duplicate-n-gram repetition signal):
    ``1 - distinct/total`` over NON-distinct grams. 0.0 for docs with
    < n tokens. Pure per-row Catalyst expressions — zero shuffle.

    ``pre_split=True`` ⇒ ``col`` is already the token ARRAY (stage the
    split in its own projection: lambda bodies re-evaluate argument
    expressions per element, so an embedded split re-tokenizes the text
    once per gram)."""
    toks = (F.col(col) if isinstance(col, str) else col) if pre_split else tokens(col)
    sz = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), sz - (n - 1)),
        lambda i: F.concat_ws(TOKEN_SEP, F.slice(toks, i, n)),
    )
    total = F.size(grams).cast("double")
    frac = F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total
    return F.when(sz < n, F.lit(0.0)).otherwise(frac)


def top_ngram_fraction(col, n: int = 2, pre_split: bool = False) -> Column:
    """Fraction of all word n-grams taken by the single MOST FREQUENT
    n-gram (Gopher's top-n-gram repetition signal — boilerplate and
    template spam max this out). Computed shuffle-free per row: sort the
    gram array and fold a longest-run counter over it with
    ``F.aggregate`` (JVM-side, no explode/groupBy). 0.0 for docs with
    < n tokens. ``pre_split`` as in :func:`dup_ngram_fraction`."""
    toks = (F.col(col) if isinstance(col, str) else col) if pre_split else tokens(col)
    sz = F.size(toks)
    grams = F.array_sort(
        F.transform(
            F.sequence(F.lit(1), sz - (n - 1)),
            lambda i: F.concat_ws(TOKEN_SEP, F.slice(toks, i, n)),
        )
    )
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    folded = F.aggregate(
        grams,
        acc0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    frac = folded["best"].cast("double") / F.size(grams).cast("double")
    return F.when(sz < n, F.lit(0.0)).otherwise(frac)


def quality_score(col) -> Column:
    """Deterministic [0,1] quality score combining length, diversity and
    stopword signals (shape follows the C4/Gopher-style rule filters)."""
    n = token_count(col)
    length_ok = F.when((n >= 10) & (n <= 1_000), F.lit(1.0)).otherwise(F.lit(0.0))
    diversity = distinct_token_ratio(col)
    stop = stopword_ratio(col)
    stop_ok = F.when(stop <= 0.5, F.lit(1.0)).otherwise(F.lit(0.5))
    return (length_ok * 0.4 + diversity * 0.4 + stop_ok * 0.2).alias("quality")


def lang_scores(col) -> dict[str, Column]:
    """Marker-hit count per candidate language (n-gram-free heuristic)."""
    toks = tokens(col)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers))).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col) -> Column:
    """argmax over lang_scores with deterministic tie-break (language code
    ascending), 'und' when nothing matches."""
    scores = lang_scores(col)
    best = None
    for lang in sorted(scores):  # ascending code order => first max wins ties
        s = scores[lang]
        if best is None:
            best = (s, F.lit(lang))
        else:
            b_s, b_l = best
            best = (
                F.when(s > b_s, s).otherwise(b_s),
                F.when(s > b_s, F.lit(lang)).otherwise(b_l),
            )
    score, lang = best
    return F.when(score > 0, lang).otherwise(F.lit("und"))


def fingerprint(col) -> Column:
    """Content fingerprint: md5 of case-folded, space-normalized text.
    Stable across engines (DuckDB md5 = Spark md5)."""
    normalized = F.lower(F.trim(col))
    return F.md5(normalized)


def rolling_fingerprints(col, window: int = 8) -> Column:
    """Winnowing-style rolling fingerprints: hash every ``window``-token
    shingle — the building block for fuzzy containment detection. Returns
    array<long> of xxhash64 values (Spark-side only; no SQL oracle)."""
    toks = tokens(col)
    idxs = F.sequence(F.lit(0), F.size(toks) - window)
    return F.when(F.size(toks) >= window, F.transform(
        idxs,
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, window))),
    )).otherwise(F.array(F.xxhash64(col)))


def profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass text profile of a corpus: all signals in a single projection
    (one scan, zero shuffles, full codegen).

    The token array is materialized ONCE in a first projection and every
    signal reads it — the naive form re-evaluates ``split(text)`` per
    signal (~15× per row; Catalyst does not CSE across lambda filters),
    which at 100 TB is 15 passes over every byte of text."""
    from featurebase_spark.pipeline import spread_small_input

    c = F.col(text_col)
    staged = spread_small_input(df.select(id_col, text_col)).select(
        id_col,
        c.alias("__text"),
        tokens(c).alias("__toks"),
    )
    t, txt = F.col("__toks"), F.col("__text")
    n = F.size(t)
    stop_hits = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    stop_ratio = stop_hits.cast("double") / n
    diversity = F.size(F.array_distinct(t)).cast("double") / n
    length_ok = F.when((n >= 10) & (n <= 1_000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stop_ratio <= 0.5, F.lit(1.0)).otherwise(F.lit(0.5))

    # argmax language over marker-hit counts, tie-broken by code ascending
    best = None
    for lang in sorted(LANG_MARKERS):
        markers = LANG_MARKERS[lang]
        s = F.size(F.filter(t, lambda x: x.isin(*markers))).cast("long")
        if best is None:
            best = (s, F.lit(lang))
        else:
            b_s, b_l = best
            best = (
                F.when(s > b_s, s).otherwise(b_s),
                F.when(s > b_s, F.lit(lang)).otherwise(b_l),
            )
    lang_pred = F.when(best[0] > 0, best[1]).otherwise(F.lit("und"))

    nchars_in_words = F.length(F.replace(txt, F.lit(TOKEN_SEP), F.lit("")))
    return staged.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        F.length(txt).cast("long").alias("n_chars"),
        (nchars_in_words.cast("double") / n).alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        diversity.alias("distinct_ratio"),
        (length_ok * 0.4 + diversity * 0.4 + stop_ok * 0.2).alias("quality"),
        lang_pred.alias("lang_pred"),
        F.md5(F.lower(F.trim(txt))).alias("fingerprint"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step of
    an LLM training pipeline: each document becomes overlapping chunks of
    ``chunk_size`` tokens advancing by ``chunk_size - overlap``. Returns
    (id, chunk_id, chunk_text, n_chunk_tokens); the final chunk may be
    short, and a doc with ≤ chunk_size tokens yields exactly one chunk.

    Spark-first: chunk starts come from ``sequence`` and each chunk is a
    ``slice`` + ``concat_ws`` over the token array — JVM-side, no UDF,
    no shuffle (posexplode is a generator in the same stage). At 100 TB
    this is embarrassingly parallel map work; the output inherits the
    input's partitioning."""
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.ceil((n - chunk_size) / F.lit(float(stride))).cast("int") + 1
    )
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    out = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.posexplode(starts).alias("chunk_id", "__start"),
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, chunk_size)
    return out.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.concat_ws(TOKEN_SEP, chunk).alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
    )


#: PII patterns chosen to mean the same thing in Java regex (Spark) and
#: RE2 (DuckDB) — no lookarounds, no backrefs; applied in list order.
PII_PATTERNS: tuple = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{13,19}\b", "<CARD>"),  # long digit runs (card/account ids)
)


def scrub_pii(col, patterns=PII_PATTERNS) -> Column:
    """Mask common PII shapes (emails, phone numbers, IPv4, long digit
    runs) with typed placeholder tokens — the redaction pass of a
    training-data pipeline. Pure ``regexp_replace`` chain: JVM-side,
    codegen'd, no UDF; order matters (emails first so their digit runs
    are not half-eaten by later patterns)."""
    out = F.col(col) if isinstance(col, str) else col
    for pat, repl in patterns:
        out = F.regexp_replace(out, pat, repl)
    return out


def keyword_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: Sequence[str],
    k: int = 10,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Multi-term keyword search: top-``k`` documents by the integer
    ranking (matched query terms DESC, total term frequency DESC,
    id ASC) — the exact-retrieval shape underneath BM25-style scoring,
    with no float relevance model. Scoring is a ZERO-SHUFFLE projection
    (one array-filter per term over the split tokens; a 2-arg lambda in
    F.filter would mean (element, index), so the filters are parsed
    exprs) and the top-k is a TakeOrderedAndProject: per-partition
    heaps ship k rows each at any corpus size — nothing global sorts.
    Returns (id, *extra_cols, matched, total_tf)."""
    if not terms:
        raise ValueError("terms must be non-empty")
    if int(k) < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    for t in terms:
        if "'" in t or "\\" in t:
            raise ValueError(f"term may not contain quotes/backslashes: {t!r}")
    tfs = [
        F.expr(
            f"size(filter(split({text_col}, ' '), x -> x = '{t}'))"
        ).alias(f"__tf{i}")
        for i, t in enumerate(terms)
    ]
    s = df.where(F.col(text_col).isNotNull()).select(
        id_col, *extra_cols, *tfs
    )
    matched = None
    total = None
    for i in range(len(terms)):
        m = (F.col(f"__tf{i}") > 0).cast("long")
        t = F.col(f"__tf{i}")
        matched = m if matched is None else matched + m
        total = t if total is None else total + t
    return (
        s.select(
            id_col,
            *extra_cols,
            matched.alias("matched"),
            total.cast("long").alias("total_tf"),
        )
        .where(F.col("total_tf") > 0)
        .orderBy(
            F.col("matched").desc(), F.col("total_tf").desc(), F.col(id_col)
        )
        .limit(int(k))
    )
