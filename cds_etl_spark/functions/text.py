"""Text/hash column functions for dedup & text analysis.

Everything here is built from Spark higher-order array functions and
``md5`` — JVM-side, whole-stage-codegen'd, no Python in the loop. That
is the 100 TB design decision: a document's shingle set, MinHash
signature, LSH band keys and SimHash are all computed *per row inside
the scan projection* (zero shuffles, zero UDFs); only candidate-pair
generation later shuffles, and only by small band-key tuples.

Hash-function choice: every hash is ``md5`` over a seed-prefixed
string, ordered lexicographically on the hex digest. md5 is available
bit-identically in Spark, DuckDB, and virtually every engine, which is
what lets the driver's DuckDB oracle replay these operators exactly
(seeded xxhash64 would be Spark-only). A uniform hash ordered on hex
is a valid MinHash permutation family.

Reference parity: the reference has no near-dup machinery at all — its
only dedup is full-row ``drop_duplicates`` (cds-transformation_v1.3.py
:148-152); this module is part of the declared LLM-pipeline extension
surface (SURVEY.md §2.2 QS-50..53 and §7.1 M5).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Tokenization
# --------------------------------------------------------------------------


def tokens(text: Column, lowercase: bool = True) -> Column:
    """Whitespace tokens of a text column."""
    t = F.lower(text) if lowercase else text
    return F.split(t, r"\s+")


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish sub-word split: letter runs, digit runs, single
    punctuation — the standard pre-tokenizer regex shape."""
    return F.regexp_extract_all(text, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1)


def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Shingles over a pre-projected token-array column: one array
    expression per row, no explode, element_at reads the materialized
    array. Rows with fewer than k tokens get an empty set.

    Callers stage the tokens: project ``F.split(text, ' ')`` into a
    real column first and pass that column. Given an inline split, the
    transform lambda re-splits the document on every element_at of
    every shingle position — quadratic per document (measured 38×
    slower at sf0.1)."""
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(k)]
            ),
        )
    )


# --------------------------------------------------------------------------
# MinHash / LSH
# --------------------------------------------------------------------------


def minhash_digest(shingle_set: Column, group: int) -> Column:
    """One md5 digest array; each digest yields four 8-hex hash words."""
    return F.transform(
        shingle_set, lambda s: F.md5(F.concat(F.lit(f"p{group}|"), s))
    )


def _min_slice(digest: Column, slot: int) -> Column:
    return F.array_min(
        F.transform(digest, lambda d: F.substring(d, 1 + 8 * slot, 8))
    )


def minhash_from_digests(digest_cols: list[Column], num_hashes: int) -> Column:
    """MinHash signature from pre-projected digest columns: hash j is
    the min over the set of the (j % 4)-th 8-hex slice of digest
    j // 4, so a 12-hash signature costs 3 md5 calls per shingle. The
    md5 transforms run once per row; the slices here are cheap
    substrings."""
    out = []
    for j in range(num_hashes):
        out.append(_min_slice(digest_cols[j // 4], j % 4))
    return F.array(*out)


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: the signature split into ``bands`` groups of
    ``rows_per_band`` hashes, each group collapsed to one md5 key.

    Two documents collide on band b iff their signatures agree on every
    row of that band (P = jaccard^rows_per_band per band).
    """
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(signature, b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )


def jaccard(set_a: Column, set_b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(set_a, set_b))
    union = F.size(F.array_union(set_a, set_b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _token_hash32(tok: Column) -> Column:
    """First 32 bits of md5(token) as a non-negative long — the same
    value DuckDB gets from CAST('0x'||substr(md5(t),1,8) AS BIGINT)."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def simhash(token_set: Column, bits: int = 16) -> Column:
    """SimHash of a distinct-token array as a ``bits``-wide integer.

    Bit i of the result is 1 iff more tokens have bit i set than clear
    (unit weights). Tokens are hashed ONCE into an int array, then the
    ``bits`` vote aggregates work on the ints — md5 cost is O(|tokens|)
    per row, not O(|tokens|·bits) (higher-order fns are interpreted;
    hash count dominates). No explode, no shuffle; the fingerprint is a
    single long so grouping near-dups is a plain groupBy.
    """
    return simhash_from_hashes(token_hashes(token_set), bits)


def token_hashes(token_set: Column) -> Column:
    """Per-token 32-bit hashes. Project this into a real column before
    feeding simhash_from_hashes — as an inline expression it would be
    re-evaluated once per vote bit."""
    return F.transform(token_set, _token_hash32)


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    def _vote(i: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(1) == 1, 1).otherwise(-1),
        )

    votes = [_vote(i) for i in range(bits)]
    out = F.lit(0).cast("long")
    for i, v in enumerate(votes):
        out = out + F.when(v > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


# --------------------------------------------------------------------------
# Fingerprinting (k-min sketch / winnowing family)
# --------------------------------------------------------------------------


def kmin_fingerprint(shingle_set: Column, k: int = 4) -> Column:
    """Document fingerprint: md5 over the k lexicographically smallest
    shingle hashes (a k-min sketch — the winnowing idea with a global
    instead of sliding window). Equal fingerprints ⇒ near-identical
    shingle sets with high probability."""
    hashes = F.array_sort(F.transform(shingle_set, lambda s: F.md5(s)))
    return F.md5(F.array_join(F.slice(hashes, 1, k), ","))


def bigram_repetition_stats(text: Column) -> Column:
    """Row-local Gopher-style repetition stats:
    ``struct(top_cnt long, n_grams long, top_fraction double)`` — the
    fraction of the document's word bigrams taken by the most frequent
    one, computed INSIDE the row (sort the bigram array, one
    F.aggregate run-length scan for the max multiplicity). Zero
    shuffles, streaming-safe; the batch-aggregation formulation is
    operators/text_analysis.top_ngram_fraction and both must produce
    identical values (tested).

    Bigrams come from ``zip_with(slice(toks,1,n-1), slice(toks,2,n-1))``
    — TOTAL for every input: a single-token document slices to two
    empty arrays and yields no grams, where the naive
    ``sequence(1, n-1)`` forms the DESCENDING array [1, 0] when n==1
    and crashes element_at (found as a streaming-kill bug in r5).
    n_grams==0 yields top_fraction 0.0 (consumers gate on n_grams
    when they need the qs89 contract of emitting only gram-bearing
    docs)."""
    toks = F.split(F.lower(text), " ")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    grams = F.array_sort(
        F.zip_with(
            F.slice(toks, 1, m),
            F.slice(toks, 2, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    scan = F.aggregate(
        grams,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
    )
    n = F.size(grams).cast("long")
    return F.struct(
        scan["best"].alias("top_cnt"),
        n.alias("n_grams"),
        F.when(n > 0, scan["best"].cast("double") / n.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("top_fraction"),
    )


def minhash_signature_fast(shingle_set: Column, num_hashes: int = 12) -> Column:
    """xxhash64 MinHash signature — the PRODUCTION hash family.

    Same blocking math as the md5 family (``minhash_digest`` +
    ``minhash_from_digests``: min over the set per salted hash
    function), different kernel: ``xxhash64`` is a native
    codegen expression returning int64 directly, versus md5's hex
    string round-trip through interpreted transforms. The trade is
    cross-engine portability: DuckDB cannot reproduce xxhash64, so
    fast-family runs are unit/ground-truth tested, never oracle-
    hashed — which is exactly the production posture (the oracle
    family exists to prove the ALGORITHM; this one to run it).
    Signatures from the two families are NOT comparable — never mix
    them in one index."""
    return F.array(
        *[
            F.array_min(
                F.transform(shingle_set, lambda s, j=j: F.xxhash64(F.lit(j), s))
            )
            for j in range(num_hashes)
        ]
    )


def lsh_band_keys_fast(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Band keys for the fast family: xxhash64 over the band's hash
    values (int64s hash directly — no string concat)."""
    return F.array(
        *[
            F.xxhash64(
                *[
                    F.element_at(signature, b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )
