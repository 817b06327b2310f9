"""Text-analysis operators: language-ID, quality scoring, token
counting, fingerprinting (SURVEY.md §7.1 M5).

All pure column expressions over the per-row token array — computed in
the scan projection, embarrassingly parallel, no shuffle, no Python.
The reference's nearest analogue is its cell-level regex/string surface
(O4/O26); these are the corpus-scale operators an LLM data pipeline
needs on top.

One token pass per call: ``language_id`` and ``quality_score`` each
tokenize the text once and fold every signal they need (per-language
lexicon hits, token count, token-length sum) into one ``F.aggregate``
struct accumulator, deriving the result in its finish lambda.
Higher-order functions are interpreted and never share common
subexpressions, so an expression that referenced a token array or a
count twice would recompute it per reference — and a filter pushed
below a projection carries its own copy on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.functions.text import (
    bpe_ish_tokens,
    kmin_fingerprint,
    tokens,
    word_shingles_from_tokens,
)

# Tiny built-in stopword lexicons (n-gram heuristic language-ID).
# Deliberately small + deterministic: the operator contract is the
# argmax-over-lexicon-hits shape, not lexicon quality; production swaps
# in real frequency tables of the same (lang → words) form.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr": ("le", "la", "de", "et", "un", "est", "pas", "que", "pour", "dans"),
}

PUNCT_RE = r"[^A-Za-z0-9\s]"


def _hits(t: Column, lexicon: tuple[str, ...]) -> Column:
    """1 when the token is in the lexicon, else 0."""
    return F.when(t.isin(*lexicon), 1).otherwise(0)


# Per-token increments of the one-pass accumulator: each signal is
# defined here once, and every kernel sums the subset it reads.
_INCREMENTS = {
    **{lang: (lambda t, lex=lex: _hits(t, lex)) for lang, lex in LANG_LEXICONS.items()},
    "n_tok": lambda t: F.lit(1),
    "len_sum": lambda t: F.length(t),
}
# The quality stopwords are the English lexicon's hits.
_QUALITY_FIELDS = ("n_tok", "en", "len_sum")


def _token_pass(toks: Column, fields: tuple[str, ...], finish=None) -> Column:
    """One ``F.aggregate`` over a token array: a struct of int counters,
    one per field of ``_INCREMENTS``, summed in a single interpreted
    pass, then ``finish(acc)`` if given. Higher-order functions get no
    common-subexpression reuse, so a kernel that needs several signals
    computes them all here and derives its result in ``finish``."""
    init = F.struct(*[F.lit(0).alias(f) for f in fields])

    def merge(acc: Column, t: Column) -> Column:
        return F.struct(*[(acc[f] + _INCREMENTS[f](t)).alias(f) for f in fields])

    return F.aggregate(toks, init, merge, finish)


def _total_tokens(text: Column) -> Column:
    """``tokens(text)`` with a null text as no tokens."""
    return F.coalesce(tokens(text), F.array().cast("array<string>"))


def language_id(text: Column, default: str = "und") -> Column:
    """Argmax lexicon-hit language with deterministic ties (lexicon
    order) and 'und' when no lexicon hits at all. One token pass: the
    per-language hit counts are the accumulator, the argmax its
    finish."""

    def pick(acc: Column) -> Column:
        best = F.greatest(*[acc[lang] for lang in LANG_LEXICONS])
        out: Column = F.lit(default)
        # Reverse order so earlier lexicons win exact ties.
        for lang in reversed(list(LANG_LEXICONS)):
            out = F.when(acc[lang] == best, F.lit(lang)).otherwise(out)
        return F.when(best > 0, out).otherwise(F.lit(default))

    return _token_pass(_total_tokens(text), tuple(LANG_LEXICONS), pick)


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text, lowercase=False))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish sub-word count (letter runs / digit runs / punct)."""
    return F.size(bpe_ish_tokens(text))


def _quality_features(stats: Column, text: Column) -> dict[str, Column]:
    """The quality signals from a ``_QUALITY_FIELDS`` accumulator (a
    null accumulator, from a null text, gives null counts and 0.0
    ratios). Ratios are exact IEEE divisions of integer counts —
    bit-identical on any engine, no rounding needed."""
    n_tok = stats["n_tok"]
    n_chars = F.length(text)
    n_punct = F.size(F.regexp_extract_all(text, F.lit(PUNCT_RE), 0))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tok.cast("bigint"),
        "punct_ratio": F.when(
            n_chars > 0, n_punct.cast("double") / n_chars.cast("double")
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_tok > 0, stats["en"].cast("double") / n_tok.cast("double")
        ).otherwise(F.lit(0.0)),
        "mean_token_len": F.when(
            n_tok > 0, stats["len_sum"].cast("double") / n_tok.cast("double")
        ).otherwise(F.lit(0.0)),
    }


def _quality_stats(text: Column) -> Column:
    """The quality accumulator of one text: one token pass."""
    return _token_pass(tokens(text), _QUALITY_FIELDS)


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality signals.

    Every token signal reads one accumulator; as inline expressions
    each dict entry carries its own copy of the pass, so a caller that
    selects several entries stages ``_quality_stats`` in a column first
    (see ``document_profile``)."""
    return _quality_features(_quality_stats(text), text)


def _quality_score(feats: dict[str, Column]) -> Column:
    ok_len = (feats["n_tokens"] >= 5) & (feats["n_tokens"] <= 100000)
    ok_stop = feats["stopword_ratio"] > 0
    ok_punct = feats["punct_ratio"] < 0.2
    ok_toklen = (feats["mean_token_len"] >= 2.0) & (feats["mean_token_len"] <= 12.0)
    score = (
        F.when(ok_len, 1).otherwise(0)
        + F.when(ok_stop, 1).otherwise(0)
        + F.when(ok_punct, 1).otherwise(0)
        + F.when(ok_toklen, 1).otherwise(0)
    )
    return score.cast("double") / F.lit(4.0)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: inside-length-band + has some
    stopwords + not punctuation-soup. Weights are integers/4 so the
    score is an exact dyadic rational (engine-independent). One token
    pass: the score is the accumulator's finish (a null text scores as
    an empty token list)."""
    return _token_pass(
        _total_tokens(text),
        _QUALITY_FIELDS,
        lambda acc: _quality_score(_quality_features(acc, text)),
    )


def document_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-pass per-document text profile: token counts, quality
    features, language guess, k-min fingerprint. One token pass for
    the quality signals (staged), one for the language guess, one raw
    split for the shingles."""
    from cds_etl_spark.operators.skew import spread_scan

    # Raw-token split staged as a column so the shingle transform reads
    # a materialized array (see functions.text.word_shingles_from_tokens).
    # r15 (guide §2.5): the profile is a pure map — on a single-file
    # scan every interpreted per-row signal (lang-ID and quality token
    # passes, shingle fingerprint) ran in ONE task; spread_scan
    # parallelizes it and is a no-op at real scale.
    staged = spread_scan(
        df.select(
            F.col(id_col),
            F.col(text_col).alias("_text"),
            F.split(F.col(text_col), " ").alias("_rawtoks"),
        ),
        id_col,
    )
    text = F.col("_text")
    # The quality accumulator staged too: the features and the score
    # all read it, so the quality token pass runs once per document.
    feats = _quality_features(F.col("_q"), text)
    return staged.select(
        "*", _quality_stats(text).alias("_q")
    ).select(
        F.col(id_col),
        *[c.alias(n) for n, c in feats.items()],
        token_count_bpe(text).alias("n_bpe_tokens"),
        language_id(text).alias("lang_guess"),
        _quality_score(feats).alias("quality"),
        kmin_fingerprint(
            word_shingles_from_tokens(F.col("_rawtoks"), 3)
        ).alias("fingerprint"),
    )


def top_ngram_fraction(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of a document's
    word ``n``-grams taken by its single most frequent one. Documents
    dominated by one repeated phrase (boilerplate, template spam)
    score near 1; natural text scores low.

    Unlike the shingle-set path (functions/text.word_shingles_from_
    tokens, which deduplicates for MinHash), repetition needs the
    n-gram MULTISET, so grams are exploded with their multiplicity and
    counted: one shuffle on (doc, gram), one on doc. The fraction is
    an exact IEEE division of integer counts — engine-independent, no
    rounding (same policy as quality_features).

    Returns ``(id, top_cnt, n_grams, top_fraction)`` for documents
    with at least one n-gram.

    r15 (guide §1.3/§2.5/§8): grams come from a zip_with chain over
    shifted slices (the qs341 idiom — no index-array materialization,
    no per-element element_at lookups; measured ~8x over
    transform(sequence...) in r10), the single-file scan is spread so
    the explode+count map stage does not run in one task, and
    explode_outer stops the implicit ``size(grams) > 0`` pushdown from
    re-evaluating the interpreted gram HOF in a non-codegen Filter
    (the ``size(_toks) >= n`` pre-filter already guarantees ≥1 gram,
    so no NULL rows are generated). Same strings, same multiset:
    concat_ws over never-null split tokens."""
    from cds_etl_spark.operators.skew import spread_scan

    base = spread_scan(
        df.select(
            F.col(id_col),
            F.split(F.lower(F.col(text_col)), " ").alias("_toks"),
        ),
        id_col,
    ).filter(F.size("_toks") >= n)
    m = F.size(F.col("_toks")) - (n - 1)
    grams = F.slice(F.col("_toks"), F.lit(1), m)
    for k in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(F.col("_toks"), F.lit(1 + k), m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    exploded = base.select(
        F.col(id_col), F.explode_outer(grams).alias("gram")
    )
    per_gram = exploded.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_gram.groupBy(id_col).agg(
        F.max("cnt").alias("top_cnt"),
        F.sum("cnt").alias("n_grams"),
        (
            F.max("cnt").cast("double") / F.sum("cnt").cast("double")
        ).alias("top_fraction"),
    )


def distinct_sketch_by(
    df: DataFrame, group_col: str, value_col: str, lg_k: int = 12
) -> DataFrame:
    """Mergeable distinct-count sketch per group (Apache DataSketches
    HLL via the built-in hll_sketch_agg): returns ``(group, sketch,
    estimate)``. The sketch column is the point — partial sketches
    from independent partitions/days union to the full-pass estimate
    (``hll_union_agg``) without re-reading data, which is how a 100 TB
    rolling distinct-count is maintained incrementally. Exact
    COUNT(DISTINCT) is qs11; this is the streaming/incremental
    counterpart (excluded from the hash-match oracle by design —
    SURVEY.md §2.2 determinism rules)."""
    return df.groupBy(group_col).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(value_col, F.lit(lg_k))
        ).alias("estimate"),
    )


# Gopher quality-rule thresholds (Rae et al. 2021, table A1 subset).
# Line-shape rules (bullet / ellipsis line fractions) are omitted: the
# engine's document contract is single-line text (the qs31 corpus
# precondition); they'd join this dict the moment multi-line documents
# enter the model.
GOPHER_STOPWORDS: tuple[str, ...] = ("the", "and", "of", "to", "in", "a", "is", "that")
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_STOPWORD_HITS = 2
GOPHER_MIN_ALPHA_FRACTION = 0.8


def gopher_quality_flags(text: Column) -> dict[str, Column]:
    """Gopher-style document quality rules as boolean column
    expressions — the classic pretraining quality gate (word-count
    bounds, mean word length, stopword presence, alpha-token
    fraction), all row-local array algebra in the scan projection.

    The reference's closest surface is its enum/UI validation
    (cds_transformation_functions.py:302-345) — per-cell plausibility
    checks; these are the corpus-scale per-document analogues. Returns
    named flags plus the conjunction under ``"pass"``; callers select
    whichever subset their pipeline gates on.
    """
    toks = F.split(text, " ")
    n = F.size(toks)
    nd = n.cast("double")
    mean_len = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double") / nd
    )
    stop = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))).cast("double") / nd
    )
    flags = {
        "words_ok": (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "mean_len_ok": (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN),
        "stopwords_ok": stop_hits >= GOPHER_MIN_STOPWORD_HITS,
        "alpha_ok": alpha_frac >= GOPHER_MIN_ALPHA_FRACTION,
    }
    flags["pass"] = flags["words_ok"] & flags["mean_len_ok"] & flags["stopwords_ok"] & flags["alpha_ok"]
    return flags


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    form: str = "NFC",
    lowercase: bool = True,
) -> DataFrame:
    """Unicode-canonical text normalization — the pass every corpus
    pipeline runs BEFORE hashing/deduping/tokenizing, because
    composed ``é`` and decomposed ``e +  ́`` are different bytes and
    therefore different shingles, different MinHashes, different
    BPE merges: normalize first or every downstream dedup silently
    under-recalls. Applies ``unicodedata.normalize(form)``, strips
    zero-width/soft-hyphen codepoints and C0/C1 controls, optionally
    casefolds, and collapses whitespace runs to single spaces.

    This is a deliberate Arrow-batched ``pandas_udf`` (the one
    sanctioned Python path): the JVM has no Unicode-normalization
    builtin, the work is per-row with no shuffle, and Arrow moves
    the strings in columnar batches. Idempotent: normalizing twice
    equals normalizing once (property-tested)."""
    import re
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    drop = dict.fromkeys(
        [0x200B, 0x200C, 0x200D, 0x2060, 0xFEFF, 0x00AD]
    )
    ctrl = re.compile(r"[\x00-\x08\x0B-\x1F\x7F-\x9F]")
    ws = re.compile(r"\s+")

    def _norm_fn(s):
        def f(x):
            if x is None:
                return None
            t = unicodedata.normalize(form, x)
            t = t.translate(drop)
            t = ctrl.sub(" ", t)
            if lowercase:
                t = t.casefold()
            return ws.sub(" ", t).strip()

        return s.map(f)

    # Annotations set as REAL objects: the module's future-annotations
    # import stringifies inline hints, which pyspark's type-hint
    # resolver cannot evaluate against a function-local `pd`.
    _norm_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _norm = pandas_udf(_norm_fn, "string")
    return df.withColumn(out_col or text_col, _norm(F.col(text_col)))
