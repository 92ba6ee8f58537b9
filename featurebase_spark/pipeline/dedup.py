"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design notes (the whole point of these implementations):

- **Exact dedup** is one hash + one groupBy — the shuffle carries only
  (hash, id), not text. At 100 TB the map-side partial agg collapses most
  groups before the exchange.
- **MinHash+LSH** is the linear-time near-dup path: signatures are computed
  in one pass with k JVM-side xxhash64 aggregates (no Python, no UDF), then
  candidates come from b band-joins that only ever join WITHIN small buckets.
  Worst-case quadratic blowup is bounded per-bucket, and banding keeps
  bucket sizes tiny for non-pathological corpora.
- **Exact n-gram Jaccard** (the verifier) is quadratic in candidate pairs —
  at scale you run it ONLY on LSH candidates (``minhash_dedup`` wires this),
  never all-pairs.
- **SimHash** packs a document into one 64-bit integer — near-dups differ in
  ≤3 bits; banding the 64 bits into 4×16-bit keys finds them with equi-joins
  (Hamming-LSH), no pairwise distance pass.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from featurebase_spark.materialize import materialize
from featurebase_spark.pipeline.text import TOKEN_SEP, fingerprint, tokens


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical (after normalization) documents:
    (fingerprint, dup_count, canonical_id=min id). Only groups with >1 doc."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("canonical_id"),
        )
        .where(F.col("dup_count") > 1)
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id representative of every fingerprint group. One
    shuffle on the fingerprint; no join back to the full rows needed when
    ids are dense (we keep it general with a semi-join)."""
    keep = (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Shingling + exact Jaccard
# ---------------------------------------------------------------------------


def shingles(text_col, n: int = 5) -> Column:
    """Distinct word n-gram shingles of a text column (JVM-side transform
    over the token array — no UDF)."""
    toks = tokens(text_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(TOKEN_SEP, F.slice(toks, i + 1, n)),
    )
    # short docs (< n tokens): fall back to the whole text as one shingle
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array(F.concat_ws(TOKEN_SEP, toks))
    )


_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_GRAM_SEED = 42


def _splitmix64(h):
    """Full-avalanche finalizer (splitmix64) over a uint64 ndarray."""
    import numpy as np

    h = h ^ (h >> np.uint64(30))
    h = h * np.uint64(0xBF58476D1CE4E5B9)
    h = h ^ (h >> np.uint64(27))
    h = h * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


#: tokens longer than this hash via a per-token sha256 digest instead of
#: the per-byte-position vectorized loop. Natural-language tokens are
#: short; the loop runs max(len) passes over the whole batch, so ONE
#: pathological unbroken blob (base64, URL dumps) would otherwise force
#: thousands of near-empty masked passes. The digest substitution keeps
#: the hash's EQUALITY CLASSES intact (same token → same digest, distinct
#: tokens → distinct digests mod 2^-256 collisions), which is all the
#: dedup oracles depend on — they compare shingle STRINGS, never hash
#: values.
_TOKEN_HASH_CAP = 256


def _hash_tokens_np(token_bytes: list) -> "object":
    """Vectorized 64-bit hash of a flat list of UTF-8 token byte strings:
    FNV-1a body + splitmix64 finalizer. One numpy pass per byte position
    (tokens are short words), no per-token Python work beyond the single
    C-speed ``b"".join``. Tokens beyond ``_TOKEN_HASH_CAP`` bytes are
    replaced by a tagged sha256 digest first (C-speed, per long token
    only) so batch cost stays O(cap × n_tokens) regardless of blob
    tokens."""
    import numpy as np

    cnt = len(token_bytes)
    if cnt == 0:
        return np.empty(0, np.uint64)
    lens = np.fromiter((len(t) for t in token_bytes), np.int64, cnt)
    if int(lens.max()) > _TOKEN_HASH_CAP:
        import hashlib

        token_bytes = [
            t if len(t) <= _TOKEN_HASH_CAP
            else b"\xff" + hashlib.sha256(t).digest()
            for t in token_bytes
        ]
        lens = np.fromiter((len(t) for t in token_bytes), np.int64, cnt)
    buf = np.frombuffer(b"".join(token_bytes), np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    h = np.full(cnt, _FNV_OFFSET, np.uint64)
    prime = np.uint64(_FNV_PRIME)
    maxlen = int(lens.max())
    for j in range(maxlen):
        active = lens > j
        if active.all():
            h = (h ^ buf[starts + j].astype(np.uint64)) * prime
        else:
            idx = starts[active] + j
            h[active] = (h[active] ^ buf[idx].astype(np.uint64)) * prime
    return _splitmix64(h)


def _shingle_batch(texts, n: int):
    """Per-doc distinct hashed n-gram shingles for one Arrow batch.

    Returns (row_indices, shingle_int64) — row_indices point back into
    the batch (null-text rows contribute nothing). Pure numpy: tokenization is
    str.split(' ') (same semantics as Spark's split on ' ', trailing
    empties kept), token hashing is one vectorized pass, and the n-gram
    hash is a polynomial chain over consecutive token hashes evaluated
    for ALL positions at once with doc-boundary masks. Short docs
    (< n tokens) contribute one whole-doc chain — same equality classes
    as the :func:`shingles` string form (which the DuckDB oracles use)."""
    import numpy as np

    doc_tokens: list = []
    counts = []
    keep_docs = []
    for d, text in enumerate(texts):
        if text is None or (isinstance(text, float)):  # null text → no rows
            continue
        toks = text.split(" ")
        keep_docs.append(d)
        counts.append(len(toks))
        doc_tokens.extend(t.encode("utf-8") for t in toks)
    if not keep_docs:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    th = _hash_tokens_np(doc_tokens)
    counts = np.asarray(counts, np.int64)
    keep_docs = np.asarray(keep_docs, np.int64)
    total = int(counts.sum())
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    ends = starts + counts  # exclusive, per doc
    # per token position: which doc, and that doc's [start, end)
    docidx = np.repeat(np.arange(len(counts)), counts)
    tok_end = ends[docidx]
    pos = np.arange(total, dtype=np.int64)
    # polynomial chain c_{j} = c_{j-1} * P + th[i+j], masked at doc end —
    # evaluates every position's chain in n vectorized steps
    c = np.full(total, _GRAM_SEED, np.uint64)
    prime = np.uint64(_FNV_PRIME)
    for j in range(n):
        p = pos + j
        valid = p < tok_end
        c[valid] = c[valid] * prime + th[p[valid]]
    gram = _splitmix64(c)
    full = counts[docidx] >= n
    keep = np.where(full, pos + n <= tok_end, pos == starts[docidx])
    docidx, gram = docidx[keep], gram[keep]
    # per-doc distinct: lexsort + run-length mask
    order = np.lexsort((gram, docidx))
    docidx, gram = docidx[order], gram[order]
    first = np.ones(len(gram), bool)
    first[1:] = (docidx[1:] != docidx[:-1]) | (gram[1:] != gram[:-1])
    return keep_docs[docidx[first]], gram[first].view(np.int64)


def _xxh64_chain_np(v):
    """Vectorized bit-exact replica of Spark's ``xxhash64(col, lit(1))``
    over a uint64 ndarray: Spark CHAINS multi-argument xxhash64 — seed
    42 → hashLong(col) → hashInt(1) (XXH64.hashLong / hashInt) — so the
    fused per-doc signature path produces IDENTICAL signatures to the
    JVM aggregate form ``_minhash_aggs`` (equality is test-enforced)."""
    import numpy as np

    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    def fmix(h):
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= P3
        h ^= h >> np.uint64(32)
        return h

    # hashLong(v, seed=42)
    h = np.uint64(42) + P5 + np.uint64(8)
    h = h ^ (rotl(v * P2, 31) * P1)
    h = rotl(h, 27) * P1 + P4
    seed = fmix(h)
    # hashInt(1, seed)
    h = seed + P5 + np.uint64(4)
    h = h ^ (np.uint64(1) * P1)
    h = rotl(h, 23) * P2 + P3
    return fmix(h)


def _doc_signatures(texts, n: int, num_hashes: int):
    """Per-doc MinHash signatures for one Arrow batch: the Kirsch–
    Mitzenmacher derivation of :func:`_minhash_aggs` (b1 = shingle hash,
    b2 = xxhash64(b1, 1), h_i = b1 XOR rotl(b2, 5i mod 64)) evaluated in
    numpy with per-doc ``minimum.reduceat`` — bit-identical to the JVM
    aggregate form. Returns (row_indices, sig_matrix[len(rows), k])."""
    import numpy as np

    idx, grams = _shingle_batch(texts, n)
    if len(idx) == 0:
        return np.empty(0, np.int64), np.empty((0, num_hashes), np.int64)
    b1 = grams.view(np.uint64)
    b2 = _xxh64_chain_np(b1)
    # doc boundaries within the (already doc-sorted) gram stream
    first = np.ones(len(idx), bool)
    first[1:] = idx[1:] != idx[:-1]
    starts = np.flatnonzero(first)
    doc_rows = idx[starts]
    sigs = np.empty((len(starts), num_hashes), np.uint64)
    for i in range(num_hashes):
        k = (i * 5) % 64
        hv = b1 ^ (b2 if k == 0 else (b2 << np.uint64(k)) | (b2 >> np.uint64(64 - k)))
        # signed min, matching the JVM's F.min over LongType
        sv = hv.view(np.int64)
        sigs[:, i] = np.array(
            np.minimum.reduceat(sv, starts), np.int64
        ).view(np.uint64)
    return doc_rows, sigs.view(np.int64)


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """(id, shingle) posting table with 64-bit HASHED shingles — the join
    key for candidate generation and Jaccard intersection counting.

    Shape: an Arrow-batched ``mapInPandas`` per-doc shingle hasher. Docs
    are atomic per row, so shingling needs NO shuffle at all — the
    ``lead()``-over-doc-window form this replaces hash-partitioned the
    full exploded TOKEN table on doc_id (a corpus-sized exchange) before
    any n-gram existed. Now tokenize→hash→dedup happens map-side in
    numpy (vectorized FNV-1a + splitmix64 per token, polynomial chain
    per n-gram — zero per-row Python), and the first exchange anywhere
    downstream is the signature aggregation's own groupBy, which after
    map-side partial-min carries only |docs|×k longs. Equality classes
    match the :func:`shingles` string form exactly (the DuckDB oracles
    compute that form): per-doc distinct, whole-doc fallback for docs
    with < n tokens, split-on-space with trailing empties kept.

    The posting key is a well-mixed 64-bit LONG: downstream joins/groups
    are cheap, and the Kirsch–Mitzenmacher signature derivation
    (:func:`_minhash_aggs`) stays JVM-side and unchanged. At 100 TB:
    embarrassingly parallel, no exchange, binary text never leaves the
    scan partition. Reference analogue: per-shard local compute before
    any merge (executor.go:6449-6830)."""
    from featurebase_spark.pipeline import spread_small_input

    src = spread_small_input(df.select(F.col(id_col), F.col(text_col)))
    id_type = src.schema[id_col].dataType.simpleString()

    def hash_partition(batches):
        for pdf in batches:
            idx, grams = _shingle_batch(pdf[text_col].tolist(), n)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[idx], "shingle": grams}
            )

    return src.mapInPandas(hash_partition, f"{id_col} {id_type}, shingle long")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    candidates: Optional[DataFrame] = None,
    shingle_df: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for document pairs sharing ≥1 shingle:
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    Jaccard = |A∩B| / (|A|+|B|−|A∩B|) computed from integer counts, so the
    double division is bit-identical across engines.

    ``candidates``: optional (id_a, id_b) frame to restrict the pair space —
    this is how MinHash-LSH output gets exactly verified at scale instead of
    the quadratic all-pairs join.

    ``shingle_df``: optional precomputed posting table (reuse/cache it when
    signatures were already built from the same shingles).
    """
    sh = shingle_df if shingle_df is not None else shingle_table(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if candidates is not None:
        # Intersections ONLY for candidate pairs: expand each pair by id_a's
        # postings, then hash-join on (id_b, shingle). Work is
        # O(|candidates| × avg postings), independent of how many unrelated
        # docs co-occur in hot shingle buckets — the posting self-join below
        # would pay |bucket|² for every shingle.
        a_post = sh.select(F.col(id_col).alias("id_a"), "shingle")
        b_post = sh.select(F.col(id_col).alias("id_b"), "shingle")
        pairs = (
            candidates.join(a_post, "id_a")
            .join(b_post, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        a = sh.select(F.col(id_col).alias("id_a"), "shingle")
        b = sh.select(F.col(id_col).alias("id_b"), "shingle")
        pairs = (
            a.join(b, "shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_aggs(num_hashes: int) -> list[Column]:
    """k MinHash aggregate columns over a HASHED shingle column, derived
    two-hash style (Kirsch–Mitzenmacher): b1 = the shingle hash itself,
    b2 = one more xxhash64 of it, h_i = b1 XOR rotate(b2, 5i mod 64).
    Rotate-XOR instead of the classic ``b1 + i*b2`` because Spark's ANSI
    mode rejects wrapping long arithmetic; 5 is invertible mod 64 so all
    k ≤ 64 rotations are distinct. One long-input hash per shingle row
    instead of k string hashes — the signature pass drops from O(k·|sh|)
    string hashing to O(|sh|) — and LSH recall is corpus-verified against
    the brute-force oracle (the driver's hash gate re-proves it per run)."""

    # Built as parsed SQL strings, not chained Column ops: each Column
    # method is a py4j round-trip, and k=32 aggs × ~6 ops each was ~1.4s
    # of driver-side plan construction (r7 verdict ask #7). One F.expr
    # per agg keeps it to k calls; Catalyst CSE dedupes the repeated
    # xxhash64(shingle, 1) subtree during codegen.
    # NOTE: the seed literal must stay INT (`1`, not `1L`): xxhash64
    # hashes each argument's raw bytes, so hashInt(1) != hashLong(1),
    # and the fused numpy path replays the 4-byte form bit-exactly
    b2 = "xxhash64(shingle, 1)"
    out = []
    for i in range(num_hashes):
        k = (i * 5) % 64
        rot = (
            b2
            if k == 0
            else f"(shiftleft({b2}, {k}) | shiftrightunsigned({b2}, {64 - k}))"
        )
        out.append(F.expr(f"min(shingle ^ {rot}) AS h{i}"))
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 5,
    fused: bool = True,
) -> DataFrame:
    """k-permutation MinHash signature per document. Columns: id,
    h0..h{k-1}.

    ``fused`` (default): signatures come straight out of the per-doc
    mapInPandas shingle hasher — docs are atomic per row, so the whole
    signature pipeline is map-side with ZERO exchanges (the reference's
    per-shard local compute, executor.go:6449-6830); the two-hash
    derivation is replicated bit-exactly in numpy (test-enforced equal
    to the aggregate form). ``fused=False`` keeps the JVM form: the
    hashed shingle table + k codegen'd min-aggregates, one exchange of
    |docs|×k partial mins — useful when the posting table is being
    materialized anyway and the signature can share its scan."""
    if fused:
        from featurebase_spark.pipeline import spread_small_input

        src = spread_small_input(df.select(F.col(id_col), F.col(text_col)))
        id_type = src.schema[id_col].dataType.simpleString()
        schema = ", ".join(
            [f"{id_col} {id_type}"] + [f"h{i} long" for i in range(num_hashes)]
        )

        def sig_partition(batches):
            import numpy as np

            for pdf in batches:
                rows, sigs = _doc_signatures(
                    pdf[text_col].tolist(), shingle_n, num_hashes
                )
                out = {id_col: pdf[id_col].to_numpy()[rows]}
                for i in range(num_hashes):
                    out[f"h{i}"] = sigs[:, i]
                yield pd.DataFrame(out)

        return src.mapInPandas(sig_partition, schema)
    sh = shingle_table(df, text_col, id_col, shingle_n)
    return sh.groupBy(id_col).agg(*_minhash_aggs(num_hashes))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Band the signature into ``bands`` groups of ``num_hashes/bands`` rows;
    docs sharing any band hash become candidate pairs (id_a < id_b).

    All bands join in ONE self-join: the banded signature unpivots to
    (id, band_id, band_hash) rows and the bucket join keys on
    (band_id, band_hash) — one shuffle instead of ``bands`` separate
    join+union legs (which would also recompute the signature subtree
    2×bands times unless materialized). Bucket skew is handled by AQE."""
    rows_per_band = num_hashes // bands
    band_exprs = ", ".join(
        "xxhash64("
        + ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    unpivoted = signatures.select(
        F.col(id_col),
        F.posexplode(F.expr(f"array({band_exprs})")).alias("band_id", "bh"),
    )
    left = unpivoted.select(F.col(id_col).alias("id_a"), "band_id", "bh")
    right = unpivoted.select(F.col(id_col).alias("id_b"), "band_id", "bh")
    return (
        left.join(right, ["band_id", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH candidates → EXACT Jaccard
    verification restricted to candidates. Returns (id_a, id_b, jaccard).

    The shingle posting table is computed once and materialized — both
    the signature aggregation and the Jaccard verification read it.
    ``materialize`` (not ``.cache()``): a cached plan fragment lingers
    in the session's CacheManager and SUBSTITUTES into any other query
    whose logical plan matches — any later shingle_table consumer in
    the same session would silently read this key's corpus posting
    table instead of computing its own (the r13 trigram-postings
    lesson). A checkpointed ExistingRDD plan cannot be substituted, and
    under a cluster posture materialize picks a durable mode."""
    sh = materialize(shingle_table(df, text_col, id_col, shingle_n))
    # materialize the signatures too: the banded SELF-join reads them
    # twice (left/right legs), and |docs|×(k+1) longs is small relative
    # to the corpus at any scale
    sigs = materialize(sh.groupBy(id_col).agg(*_minhash_aggs(num_hashes)))
    cand = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    return ngram_jaccard_pairs(
        df, text_col, id_col, shingle_n, threshold,
        candidates=cand, shingle_df=sh,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: sign-sum of token-hash bits.

    Implemented as 64 conditional-sum aggregates over the exploded token
    table (JVM-side bit ops; one scan + one groupBy). Returns (id, simhash
    long).

    ``token_hash``: ``'xxhash64'`` (fastest, JVM-native — the scale
    default) or ``'sha256'`` (first 16 hex chars of sha256 read as a
    signed 64-bit value — bit-identical in DuckDB via
    ``('0x' || substr(sha256(tok),1,16))::UBIGINT``, which lets an
    oracle replay the ENTIRE simhash pipeline cross-engine; same plan
    shape, just a pricier per-token hash)."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    if token_hash == "xxhash64":
        toks = toks.withColumn("th", F.xxhash64("tok"))
    elif token_hash == "sha256":
        toks = toks.withColumn(
            "th",
            F.conv(
                F.substring(F.sha2(F.col("tok"), 256), 1, 16), 16, -10
            ).cast("long"),
        )
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    summed = toks.groupBy(id_col).agg(*bit_sums)
    sig = reduce(
        lambda acc, i: acc.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            * F.lit(2 ** i).cast("long")
            if i < 63
            # avoid 2**63 overflow: set the sign bit via shiftleft
            else F.shiftleft(
                F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                63,
            )
        ),
        range(64),
        F.lit(0).cast("long"),
    )
    return summed.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, via
    16-bit-band Hamming LSH (any pair within distance 3 shares at least one
    of 4 16-bit bands) + exact popcount verification. Equi-joins only."""
    sig = simhash(df, text_col, id_col, token_hash=token_hash)
    bands = [
        F.shiftrightunsigned(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF)).alias(f"band{b}")
        for b in range(4)
    ]
    banded = sig.select(F.col(id_col), F.col("simhash"), *bands)
    per_band = []
    for b in range(4):
        left = banded.select(
            F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), F.col(f"band{b}").alias("bh")
        )
        right = banded.select(
            F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), F.col(f"band{b}").alias("bh")
        )
        per_band.append(
            left.join(right, "bh")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b")
        )
    cand = reduce(lambda x, y: x.union(y), per_band).distinct()
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
    return cand.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    round_digits: int = 6,
    candidates: Optional[DataFrame] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t).

    With ``candidates`` (an (id_a, id_b) frame, normally from
    :func:`srp_banded_candidate_pairs`), the exact cosine is computed ONLY
    for candidate pairs — two hash joins, work O(|candidates|). Without
    it, this is the brute-force O(n²) verifier kept as the small-data /
    test oracle twin; never run that form at scale."""
    from pyspark.sql.types import DoubleType

    from featurebase_spark.pipeline.similarity import cosine

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if candidates is not None:
        pairs = candidates.join(a, "id_a").join(b, "id_b")

        # Vectorized PREFILTER: one numpy matmul per Arrow batch discards
        # the candidates that are nowhere near the threshold; the handful
        # of survivors get the exact sequential-fold cosine below (whose
        # accumulation order is the bit-deterministic contract shared
        # with the oracle). The 1e-6 margin covers both float-accum
        # divergence (~1e-12) and the round-to-6dp boundary (5e-7), so
        # no qualifying pair can be lost.
        @F.pandas_udf(DoubleType())
        def cos_approx(va: pd.Series, vb: pd.Series) -> pd.Series:
            import numpy as np

            A = np.asarray([np.asarray(v, dtype=np.float64) for v in va])
            B = np.asarray([np.asarray(v, dtype=np.float64) for v in vb])
            num = np.einsum("ij,ij->i", A, B)
            den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            return pd.Series(num / den)

        pairs = pairs.where(
            cos_approx(F.col("va"), F.col("vb")) >= threshold - 1e-6
        )
    else:
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    sim = F.round(cosine(F.col("va"), F.col("vb")), round_digits)
    return pairs.select("id_a", "id_b", sim.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def srp_banded_candidate_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 64,
    bands: int = 32,
    seed: int = 42,
    dim: Optional[int] = None,
) -> DataFrame:
    """Banded signed-random-projection LSH candidates: the cosine twin of
    MinHash banding. Each vector gets ``n_planes`` sign bits (seeded
    hyperplanes, similarity.make_hyperplanes); the bits split into
    ``bands`` groups of r = n_planes/bands, and ids sharing any band's
    bit-group become a candidate pair via ONE (band_id, band_key)
    self-join — bucket-bounded equi-join work, never all-pairs.

    Recall tuning: a pair at angle θ flips a plane with p = θ/π; the pair
    is missed only if every band has a flipped bit ≈ (1-(1-p)^r)^bands.
    With the defaults (r=2, b=32) a cosine-0.45 pair is missed with
    p ≈ 2e-8 — raise bands for higher recall, raise r for fewer
    candidates. The verify step (embedding_neardup_pairs with
    candidates=) is exact, so parameters trade cost for recall only.

    The sign bits come from ONE Arrow-batched numpy matmul per batch
    (X @ planes.T), not n_planes chained JVM fold expressions — 64
    aggregate-lambda columns fall out of whole-stage codegen and measure
    ~10× slower than the vectorized projection."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    from featurebase_spark.pipeline.similarity import make_hyperplanes

    from featurebase_spark.pipeline import spread_small_input

    if n_planes % bands:
        raise ValueError("bands must divide n_planes")
    r = n_planes // bands
    if dim is None:  # pass dim= to skip this driver round-trip
        dim = len(df.select(vec_col).first()[0])
    df = spread_small_input(df)  # Arrow matmuls want full parallelism
    P = np.asarray(make_hyperplanes(dim, n_planes, seed), dtype=np.float64).T
    weights = (1 << np.arange(r - 1, -1, -1)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (X @ P >= 0).astype(np.int64)  # n × planes
        keys = bits.reshape(len(X), bands, r) @ weights  # n × bands
        return pd.Series(list(keys))

    unpivoted = df.select(
        F.col(id_col),
        F.posexplode(band_keys(F.col(vec_col))).alias("band_id", "bk"),
    )
    left = unpivoted.select(F.col(id_col).alias("id_a"), "band_id", "bk")
    right = unpivoted.select(F.col(id_col).alias("id_b"), "band_id", "bk")
    return (
        left.join(right, ["band_id", "bk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def embedding_neardup_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    n_planes: int = 64,
    bands: int = 32,
    seed: int = 42,
    round_digits: int = 6,
    chunk: int = 2048,
    dim: Optional[int] = None,
) -> DataFrame:
    """The SCALE path for embedding near-dup: SRP-LSH buckets →
    WITHIN-BUCKET blocked-matmul verify → exact fold cosine on survivors.

    Pairs are never enumerated outside a bucket: each (band, key) bucket
    scores its own members with one numpy matmul (chunked to bound task
    memory), emits only pairs clearing a loose threshold, and the few
    survivors (deduped across bands) get the sequential-fold exact cosine
    whose accumulation order is the oracle-deterministic contract. One
    shuffle to bucket + one to dedupe; no crossJoin in the plan.

    Scale/threshold honesty: LSH bucket selectivity collapses as the
    threshold's angle approaches 90° (p_flip → 1/2) — at cos 0.9 buckets
    prune hard; at cos 0.45 on random high-dim data nearly every pair
    co-occurs in some bucket and the within-bucket matmul degrades
    gracefully into BLOCKED brute force (BLAS block products, bounded
    per-task memory) — which is the optimal exact plan there, since no
    LSH family can prune wide-angle thresholds. Recall: a qualifying pair
    is missed only if every band separates it ((1-(1-θ/π)^r)^bands ≈ 2e-8
    at the defaults for cos 0.45)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    from featurebase_spark.pipeline.similarity import make_hyperplanes

    from featurebase_spark.pipeline import spread_small_input

    if n_planes % bands:
        raise ValueError("bands must divide n_planes")
    r = n_planes // bands
    if dim is None:  # pass dim= to skip this driver round-trip
        dim = len(df.select(vec_col).first()[0])
    df = spread_small_input(df)  # Arrow matmuls want full parallelism
    P = np.asarray(make_hyperplanes(dim, n_planes, seed), dtype=np.float64).T
    weights = (1 << np.arange(r - 1, -1, -1)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (X @ P >= 0).astype(np.int64)
        return pd.Series(list(bits.reshape(len(X), bands, r) @ weights))

    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(band_keys(F.col(vec_col))).alias("band_id", "bk"),
    )
    loose = threshold - 1e-6  # covers accum divergence + 6dp round boundary

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-300)
        out_a, out_b = [], []
        for s in range(0, len(ids), chunk):
            rows = Xn[s : s + chunk]
            S = rows @ Xn[s:].T  # this chunk × everything at-or-after it
            ii, jj = np.nonzero(S >= loose)
            gi, gj = s + ii, s + jj  # global indices
            m = gi < gj  # strict upper triangle: each pair once, no self
            out_a.append(ids[gi[m]])
            out_b.append(ids[gj[m]])
        if out_a:
            a = np.concatenate(out_a)
            b = np.concatenate(out_b)
        else:
            a = b = np.empty(0, dtype=np.int64)
        return pd.DataFrame(
            {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)}
        )

    cand = (
        bucketed.groupBy("band_id", "bk")
        .applyInPandas(bucket_pairs, "id_a LONG, id_b LONG")
        .dropDuplicates(["id_a", "id_b"])
    )
    return embedding_neardup_pairs(
        df, vec_col, id_col, threshold, round_digits, candidates=cand
    )


def dedup_survivors(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Survivor selection: keep ONE canonical document per exact-duplicate
    group (min id wins — deterministic), dropping the rest. The other half
    of dedup after pair/group detection: the projection a training
    pipeline actually materializes.

    Plan: rank within fingerprint partitions (Spark Window — map-side
    partial none, one hash-partition shuffle on fingerprint) and keep
    rank 1. Scale: the shuffle carries (fingerprint, id) only; payload
    columns rejoin by id afterwards if needed — never shuffle the text."""
    from pyspark.sql.window import Window

    from featurebase_spark.pipeline.text import fingerprint

    slim = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("__fp"))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    keep = (
        slim.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def common_span_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
) -> DataFrame:
    """Exact-span dedup signal: per document, how many of its n-token
    spans occur VERBATIM in at least one other document — the
    substring-level duplication measure (à la "Deduplicating Training
    Data Makes Language Models Better": repeated long spans are memorized
    even when whole documents are unique). Returns a dense
    (id, shared_spans, has_shared_span) frame.

    Spark shape: the map-side hashed shingle stream (zero shuffle —
    :func:`shingle_table`) feeds ONE groupBy on the 64-bit span hash to
    find multi-doc spans, then one hash-join back to count per doc. The
    suffix-array construction the paper uses is a single-machine
    algorithm; the k-gram posting aggregation is its distributed
    equivalent and the only global view this needs. Shuffles carry
    (hash, id) longs only — text never leaves the scan."""
    sh = shingle_table(df, text_col, id_col, n)
    multi = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("shingle")
    )
    hits = (
        sh.join(multi, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("shared_spans"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("shared_spans"), F.lit(0))
            .cast("long")
            .alias("shared_spans"),
            (F.coalesce(F.col("shared_spans"), F.lit(0)) > 0).alias(
                "has_shared_span"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: pairs → connected components → canonical docs
# ---------------------------------------------------------------------------


def neardup_canonical(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """The dedup pipeline's END STATE: MinHash→LSH→verified pairs →
    connected components → (id, component, is_canonical) — canonical =
    the min id of each near-dup cluster; a training pipeline keeps
    ``is_canonical`` rows and drops the rest.

    The closure is ``pipeline.graph.connected_components``, the one CC
    operator: min-label propagation with pointer jumping, one join and
    one groupBy per round over the paired docs only, and a hard failure
    if it does not converge (never a silent truncation that would split
    one cluster into several "canonical" docs)."""
    from featurebase_spark.pipeline.graph import connected_components

    prs = minhash_dedup_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_n, threshold
    )
    comp = connected_components(df.select(id_col), prs, id_col, "id_a", "id_b")
    return comp.select(
        id_col,
        "component",
        (F.col(id_col) == F.col("component")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (containment detection)
# ---------------------------------------------------------------------------


def winnowing_fingerprint_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint sketch (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm) as an exploded (id, fp) table:
    hash every k-token shingle (md5 hex — a total order BOTH engines
    share byte-for-byte), slide a window of w consecutive gram hashes,
    keep each window's MINIMUM, emit the per-doc DISTINCT selections.

    Guarantee: two documents sharing >= w+k-1 consecutive tokens share
    at least one fingerprint — CONTAINMENT detection (a paragraph
    lifted into a much larger doc), the case resemblance sketches
    (MinHash over whole-doc shingle sets) dilute as doc sizes diverge.
    Sketch density is ~2/(w+1) of the gram stream, so the posting
    table stays a bounded fraction of the corpus token count.

    Plan shape: a zero-shuffle per-row projection. The gram-hash array
    is STAGED as a concrete column before the window-min pass — each
    ``slice`` then reads a computed array instead of re-evaluating the
    md5 chain per window (the O(len²) lambda re-eval trap documented at
    frequent.py's gram staging). Short docs: < k tokens hash the whole
    token string; fewer than w grams select the single global min —
    every doc fingerprints. Ties need no rightmost rule because the
    sketch is the distinct SET of selections.

    Reference analogue: the content-fingerprint building block of the
    span-dedup family (dedup_common_spans); public-literature design,
    no reference code followed."""
    toks = tokens(F.col(text_col))
    staged = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: F.md5(
                    F.concat_ws(TOKEN_SEP, F.slice(toks, i, k))
                ),
            ),
        )
        .otherwise(F.array(F.md5(F.concat_ws(TOKEN_SEP, toks))))
        .alias("__grams"),
    )
    g = F.col("__grams")
    sels = F.when(
        F.size(g) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(g) - (w - 1)),
            lambda j: F.array_min(F.slice(g, j, w)),
        ),
    ).otherwise(F.array(F.array_min(g)))
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct(sels)).alias("fp")
    )


def winnowing_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints:
    (id_a, id_b, shared) with id_a < id_b — the fuzzy-containment
    screen (quotes, boilerplate reuse, partial copies) that complements
    MinHash resemblance and exact-span dedup.

    Scale shape: the fingerprint table materializes ONCE
    (localCheckpoint) for its three consumers; the pair join keys on
    the fingerprint hash and carries (fp, id) only — never text. The
    ``max_df`` stop-fingerprint cap (drop fps present in more docs —
    ubiquitous boilerplate carries no pair information) bounds every
    join bucket at max_df ids, so a hot fingerprint contributes at most
    max_df² candidate pairs instead of |corpus|² — the same pigeonhole
    bound the Ed-Join prefix postings rely on. At 100 TB the cap is the
    difference between a skew-killed self-join and a bounded one."""
    fp = materialize(
        winnowing_fingerprint_table(df, text_col, id_col, k, w)
    )
    keep = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= max_df)
        .select("fp")
    )
    # materialize the capped posting table once: the pair self-join
    # reads fpk on BOTH sides, and without the lazy localCheckpoint
    # each side replays the keep aggregate — a full extra shuffle of
    # the posting table per side (r13 plan audit: two identical
    # Exchange+HashAggregate legs; guide §2.4 remove shuffles outright)
    fpk = materialize(fp.join(keep, "fp"))
    a = fpk.select(F.col(id_col).alias("id_a"), "fp")
    b = fpk.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
