"""Corpus retrieval / contamination operators — BM25 scoring and
benchmark decontamination over a document table.

Two classic training-data-pipeline operations the reference has no
analogue for (LLM-pipeline extension, like operators/dedup.py):

- ``decontaminate``: flag corpus documents that share word n-grams
  with a *probe* set (an eval benchmark). The standard pretraining
  hygiene step: any document overlapping an eval set on enough
  n-grams leaks test data into training.
- ``bm25_scores``: Okapi BM25 relevance of every document to a fixed
  term list, from corpus-wide document frequencies.

Scale design (the 100 TB story):
- The probe set / term list is the SMALL side — its distinct n-grams
  are broadcast, so the corpus side is never shuffled for the match
  itself; the only wide exchange is the per-document regroup, keyed
  on the (high-cardinality, well-distributed) document id.
- The per-row shingle set is one array expression over a staged token
  projection (functions/text.word_shingles_from_tokens) — no
  Python, whole-stage codegen end to end.
- Corpus statistics (N, avgdl) are a single-row aggregate joined back
  by broadcast, not a driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.functions.text import word_shingles_from_tokens
from cds_etl_spark.operators.skew import spread_scan


def decontaminate(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per corpus document, count distinct word ``n``-grams shared
    with any probe document.

    Returns only contaminated documents: ``(id, n_shared,
    n_shingles)`` where ``n_shared`` is the number of distinct corpus
    shingles that occur anywhere in the probe set and ``n_shingles``
    the document's own distinct-shingle count. Tokenization is
    lowercase whitespace (decontamination canonicalizes case).

    Shape: probe → distinct shingles (tiny, broadcast); corpus →
    explode distinct shingles → broadcast-hash semi match → one
    shuffle on the document id for the per-doc regroup.
    """
    # Tokens staged as a real column on both sides: inline, the split
    # would sit inside the shingle transform's lambda and re-split the
    # document for every element_at of every shingle position.
    toks = F.split(F.lower(F.col(text_col)), " ").alias("_toks")
    # Scale-adaptive input spread (guide §2.5): a single-file corpus
    # scan would run the whole shingle+match pipeline in one task.
    corpus = spread_scan(corpus, id_col)
    sh_corpus = corpus.select(F.col(id_col), toks).select(
        F.col(id_col),
        word_shingles_from_tokens(F.col("_toks"), n).alias("shset"),
    )
    # explode_outer, not explode: explode's implicit `size(arr) > 0`
    # filter is pushed below the staging projection with the shingle
    # transform substituted in, re-evaluating the interpreted
    # transform per row in a non-codegen Filter (guide §4 /
    # optimization r15).  The extra NULL rows never match the inner
    # equi-join on `sh`, so results are identical.
    probe_sh = (
        probe.select(toks)
        .select(
            F.explode_outer(
                word_shingles_from_tokens(F.col("_toks"), n)
            ).alias("sh")
        )
        .distinct()
    )
    exploded = sh_corpus.select(
        id_col,
        F.size("shset").alias("n_shingles"),
        F.explode_outer("shset").alias("sh"),
    )
    hits = exploded.join(F.broadcast(probe_sh), "sh")
    return (
        hits.groupBy(id_col, "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(id_col, "n_shared", "n_shingles")
    )


def bm25_scores(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 score of each document against ``terms``.

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) /
                        (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    with idf(t) = ln((N − df(t) + 0.5)/(df(t) + 0.5) + 1).

    Returns ``(id, score)`` (double, unrounded) for every document
    containing at least one query term. Corpus statistics (N, avgdl,
    per-term df) are computed from the corpus itself; N and avgdl are
    a single-row aggregate attached by broadcast cross join, df a
    |terms|-row join left UNHINTED (the document-frequency table is
    vocab-sized, i.e. grows with the corpus — AQE broadcasts it only
    while genuinely small) — the corpus is shuffled once, on the
    (id, term) regroup.
    """
    tokens = corpus.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), " ").alias("toks")
    )
    dl = tokens.select(id_col, F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        tokens.select(F.col(id_col), F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(terms))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    per_term = (
        tf.join(df_t, "tok")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            idf
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return per_term.groupBy(id_col).agg(F.sum("contrib").alias("score"))
