"""MinHash/Jaccard/SimHash/embedding near-dup, ANN, language-ID and the
shared md5-shingle oracle SQL fragments (qs50-qs61) — one family of the declared oracle-checkable
query set. Registration contract, aliasing and cross-engine
rules: cds_etl_spark/plans/registry.py. Split from the former
single queries module with zero query changes; registration
order is preserved by the import order in plans/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.plans.registry import query
from cds_etl_spark.functions.vector import cosine_similarity, dot_product

# --------------------------------------------------------------------------
# M5: dedup / similarity / text-analysis operators (SURVEY.md §7.1 M5).
# Each query below drives the real operator module and carries a DuckDB
# oracle that replays the exact algorithm (md5-hash family — chosen
# precisely because it is bit-identical across engines; see
# functions/text.py docstring).
# --------------------------------------------------------------------------

from cds_etl_spark.operators.dedup import (  # noqa: E402
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from cds_etl_spark.operators.similarity import (  # noqa: E402
    cosine_topk_pandas,
    ivf_assign,
    ivf_topk,
)
from cds_etl_spark.operators.text_analysis import (  # noqa: E402
    LANG_LEXICONS,
    document_profile,
)


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# Shared oracle CTE: k=3 word shingles per document, matching
# functions.text.word_shingles_from_tokens over a single-space split
# (distinct).
_SHINGLES_CTE = """
t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id, lang,
    CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
      range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
    ELSE [] END AS shset
  FROM t
)
"""

_JACCARD_SQL = (
    "CASE WHEN len(list_distinct(list_concat({a}, {b}))) > 0 "
    "THEN len(list_intersect({a}, {b}))::DOUBLE / "
    "len(list_distinct(list_concat({a}, {b})))::DOUBLE ELSE 0.0 END"
)


@query(
    "qs54_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def qs54(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (operators/dedup.exact_dedup).
    Map-side md5 means the shuffle carries 32-byte hashes, not documents."""
    return exact_dedup(load_table(spark, sf, "documents"), "text", "doc_id")


# Sliced-hash permutation family (functions.text.minhash_digest +
# minhash_from_digests): hash j = 8-hex slice j%4 of md5('p<j/4>|' || shingle).
_MINHASH_SIG_SQL = ", ".join(
    f"list_min(list_transform(shset, s -> substr(md5('p{j // 4}|' || s), {1 + 8 * (j % 4)}, 8)))"
    for j in range(12)
)

@query(
    "qs55_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (SELECT doc_id, shset, [{_MINHASH_SIG_SQL}] AS sg FROM sh),
    bands AS (
      SELECT doc_id,
        [md5(sg[1]||','||sg[2]||','||sg[3]), md5(sg[4]||','||sg[5]||','||sg[6]),
         md5(sg[7]||','||sg[8]||','||sg[9]), md5(sg[10]||','||sg[11]||','||sg[12])] AS bk
      FROM sig
    ),
    exploded AS (
      SELECT doc_id, g.i AS bi, bk[g.i] AS key
      FROM bands, (SELECT unnest(range(1,5)) AS i) g
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM exploded a JOIN exploded b
        ON a.bi = b.bi AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT cand.d1, cand.d2,
      {_JACCARD_SQL.format(a='sa.shset', b='sb.shset')} AS jac
    FROM cand JOIN sh sa ON cand.d1 = sa.doc_id JOIN sh sb ON cand.d2 = sb.doc_id
    WHERE jac >= 0.5
    """,
)
def qs55(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard refine
    (operators/dedup.minhash_lsh_pairs): shingle → 12-hash signature →
    4 band keys → bucket self-join → verify. Only (id, band, key)
    triples shuffle; jac is an exact integer division, so it
    hash-matches the oracle without rounding."""
    return minhash_lsh_pairs(load_table(spark, sf, "documents"))


def _simhash_oracle(bits: int = 16) -> str:
    h32 = "CAST('0x' || substr(md5(t),1,8) AS BIGINT)"
    votes = ", ".join(
        f"list_sum(list_transform(tokset, t -> CASE WHEN ({h32} >> {i}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) AS v{i}"
        for i in range(bits)
    )
    total = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    return f"""
    WITH t AS (SELECT doc_id,
        list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS tokset
      FROM documents),
    v AS (SELECT doc_id, {votes} FROM t)
    SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM v
    """


@query("qs56_simhash", oracle=_simhash_oracle())
def qs56(spark: SparkSession, sf: str) -> DataFrame:
    """16-bit SimHash fingerprint per document
    (operators/dedup.simhash_fingerprints) — bit-majority votes over
    md5-derived token hashes, all row-local array expressions."""
    return simhash_fingerprints(load_table(spark, sf, "documents"))


@query(
    "qs57_ngram_jaccard_pairs",
    oracle="""
    WITH t AS (SELECT doc_id, lang, n_chars // 64 AS lenband,
                      string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id, lang, lenband,
        CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
          range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        ELSE [] END AS shset
      FROM t
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
      CASE WHEN len(list_distinct(list_concat(a.shset, b.shset))) > 0
      THEN len(list_intersect(a.shset, b.shset))::DOUBLE /
      len(list_distinct(list_concat(a.shset, b.shset)))::DOUBLE ELSE 0.0 END AS jac
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.lenband = b.lenband AND a.doc_id < b.doc_id
    WHERE jac >= 0.5
    """,
)
def qs57(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked exact n-gram Jaccard pairs
    (operators/dedup.ngram_jaccard_pairs): (language, 64-char length
    band) blocks. The length band bounds per-block pair counts — the
    difference between O(n²) per language and per-band candidate sets
    at corpus scale (near-dup pairs have near-equal length, so recall
    loss is only boundary-straddling pairs — the standard blocking
    trade; MinHash-LSH, qs55, is the recall-complete path)."""
    d = load_table(spark, sf, "documents").withColumn(
        "_lenband", (F.col("n_chars") / F.lit(64)).cast("long")
    )
    return ngram_jaccard_pairs(d, block_cols=("lang", "_lenband"))


@query(
    "qs58_embedding_neardup",
    oracle="""
    SELECT a.vec_id AS d1, b.vec_id AS d2,
      ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 4) AS cos
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
)
def qs58(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked on label
    (operators/dedup.embedding_neardup_pairs). Rounded post-filter to
    4 dp for cross-engine hashing. dim=64 is the corpus contract (same
    literal as qs112's hyperplane SQL): unrolled codegen dot + per-row
    norms instead of three interpreted HOF passes per pair."""
    pairs = embedding_neardup_pairs(load_table(spark, sf, "embeddings"), dim=64)
    return pairs.select("d1", "d2", F.round(F.col("cos"), 4).alias("cos"))


@query(
    "qs59_ivf_topk",
    oracle="""
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
               FROM embeddings WHERE vec_id < 8),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
    scored AS (
      SELECT v.vec_id, v.vv, c.cid,
             ROUND(list_cosine_similarity(v.vv, c.cvec), 6) AS s
      FROM v, c),
    assigned AS (
      SELECT vec_id, vv, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) rn
        FROM scored) WHERE rn = 1),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (SELECT cid FROM c, q
              ORDER BY ROUND(list_cosine_similarity(cvec, qv), 6) DESC, cid LIMIT 3)
    SELECT vec_id, ROUND(list_cosine_similarity(vv, qv), 4) AS sim
    FROM assigned JOIN probe USING (cid), q
    ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def qs59(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate nearest neighbour (operators/similarity):
    deterministic coarse centroids (first 8 vectors), nearest-centroid
    assignment (= disk partitioning key at scale), probe the 3 closest
    buckets, exact top-10 within. The oracle replays the identical
    index + search, so this ANN path is value-checked, not rows-only."""
    emb = load_table(spark, sf, "embeddings")
    cents = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"),
                F.col("embedding").cast("array<double>").alias("cvec"))
    )
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("qvec"))
    )
    assigned = ivf_assign(emb, cents)
    return ivf_topk(assigned, cents, q, k=10, nprobe=3)


@query(
    "qs61_cosine_topk_pandas",
    oracle="""
    SELECT vec_id, ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
            (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id=0)),4) AS sim
    FROM embeddings WHERE vec_id<>0 ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def qs61(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched (pandas_udf + numpy BLAS) brute-force cosine top-k
    (operators/similarity.cosine_topk_pandas) — same logical op as
    qs52, alternative physical strategy; must produce identical rows."""
    emb = load_table(spark, sf, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    scored = cosine_topk_pandas(
        emb.filter(F.col("vec_id") != 0), [float(x) for x in qvec], k=10
    )
    return scored.select("vec_id", F.round(F.col("sim"), 4).alias("sim"))


def _profile_oracle() -> str:
    hits = ", ".join(
        f"CAST(len(list_filter(toks, t -> list_contains({_sql_list(lex)}, t))) AS BIGINT)"
        f" AS h_{lang}"
        for lang, lex in LANG_LEXICONS.items()
    )
    gr = "greatest(h_en, h_de, h_es, h_fr)"
    lang_case = (
        f"CASE WHEN {gr} = 0 THEN 'und' "
        + " ".join(f"WHEN h_{lang} = {gr} THEN '{lang}'" for lang in LANG_LEXICONS)
        + " END"
    )
    return f"""
    WITH b AS (
      SELECT doc_id, text,
        regexp_split_to_array(lower(text), '\\s+') AS toks,
        string_split(text, ' ') AS rt
      FROM documents),
    f AS (
      SELECT doc_id, text, toks,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
        {hits},
        COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS sum_tok_len,
        CASE WHEN len(rt) >= 3 THEN list_distinct(list_transform(
          range(1, len(rt)-1), i -> rt[i] || ' ' || rt[i+1] || ' ' || rt[i+2]))
        ELSE [] END AS shset,
        CAST(len(regexp_extract_all(text,
          '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1)) AS INTEGER) AS n_bpe_tokens
      FROM b),
    g AS (
      SELECT doc_id, n_chars, n_tokens, n_bpe_tokens,
        CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars::DOUBLE
             ELSE 0.0 END AS punct_ratio,
        CASE WHEN n_tokens > 0 THEN h_en::DOUBLE / n_tokens::DOUBLE
             ELSE 0.0 END AS stopword_ratio,
        CASE WHEN n_tokens > 0 THEN sum_tok_len::DOUBLE / n_tokens::DOUBLE
             ELSE 0.0 END AS mean_token_len,
        {lang_case} AS lang_guess,
        md5(array_to_string(list_sort(list_transform(shset, s -> md5(s)))[1:4], ','))
          AS fingerprint
      FROM f)
    SELECT doc_id, n_chars, n_tokens, punct_ratio, stopword_ratio, mean_token_len,
      n_bpe_tokens, lang_guess,
      (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1 ELSE 0 END
       + CASE WHEN stopword_ratio > 0 THEN 1 ELSE 0 END
       + CASE WHEN punct_ratio < 0.2 THEN 1 ELSE 0 END
       + CASE WHEN mean_token_len >= 2.0 AND mean_token_len <= 12.0 THEN 1 ELSE 0 END
      )::DOUBLE / 4.0 AS quality,
      fingerprint
    FROM g
    """


@query("qs60_document_profile", oracle=_profile_oracle())
def qs60(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass per-document text profile
    (operators/text_analysis.document_profile): token counts, quality
    features, n-gram-heuristic language ID, BPE-ish sub-word count,
    k-min fingerprint. All ratios are exact integer divisions, so the
    doubles hash-match DuckDB without rounding."""
    return document_profile(load_table(spark, sf, "documents"))




# ---------------------------------------------------------------------------
# qs293 dedup threshold sweep: the "what would t delete" tuning curve
# ---------------------------------------------------------------------------


@query(
    "qs293_dedup_threshold_sweep",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (SELECT doc_id, shset, [{_MINHASH_SIG_SQL}] AS sg FROM sh),
    bands AS (
      SELECT doc_id,
        [md5(sg[1]||','||sg[2]||','||sg[3]), md5(sg[4]||','||sg[5]||','||sg[6]),
         md5(sg[7]||','||sg[8]||','||sg[9]), md5(sg[10]||','||sg[11]||','||sg[12])] AS bk
      FROM sig
    ),
    exploded AS (
      SELECT doc_id, g.i AS bi, bk[g.i] AS key
      FROM bands, (SELECT unnest(range(1,5)) AS i) g
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM exploded a JOIN exploded b
        ON a.bi = b.bi AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT cand.d1, cand.d2,
        {_JACCARD_SQL.format(a='sa.shset', b='sb.shset')} AS jac
      FROM cand JOIN sh sa ON cand.d1 = sa.doc_id
                JOIN sh sb ON cand.d2 = sb.doc_id
      WHERE jac >= 0.5
    ),
    thr AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS t),
    tot AS (SELECT COUNT(*) AS n_docs FROM documents),
    sweep AS (
      SELECT thr.t, pairs.d1, pairs.d2
      FROM thr JOIN pairs ON pairs.jac >= thr.t)
    SELECT thr.t AS threshold,
           -- FILTER guards the zero-pair threshold: the LEFT JOIN's
           -- all-NULL row builds a NON-null (NULL, NULL) struct that
           -- COUNT(DISTINCT ...) would count as 1 (r14 zipf-fixture
           -- sweep finding — invisible on fixtures where every
           -- threshold has a real pair).
           CAST(COALESCE(COUNT(DISTINCT (sweep.d1, sweep.d2))
                  FILTER (WHERE sweep.d1 IS NOT NULL), 0)
                AS BIGINT) AS n_pairs,
           CAST(COALESCE(COUNT(DISTINCT u.d), 0) AS BIGINT)
             AS n_docs_affected,
           ROUND(10000.0 * COALESCE(COUNT(DISTINCT u.d), 0)
                 / MAX(tot.n_docs), 2) AS affected_bp
    FROM thr
    LEFT JOIN sweep ON sweep.t = thr.t
    LEFT JOIN LATERAL (SELECT unnest([sweep.d1, sweep.d2]) AS d) u
      ON TRUE
    CROSS JOIN tot
    GROUP BY thr.t ORDER BY thr.t
    """,
)
def qs293(spark: SparkSession, sf: str) -> DataFrame:
    """DEDUP THRESHOLD SWEEP: for each candidate Jaccard threshold
    t ∈ {0.5 … 0.9}, how many near-duplicate pairs fire and how many
    documents are touched (basis points of the corpus) — the tuning
    curve a data-curation team reads before committing a dedup pass
    (too low ⇒ false merges, too high ⇒ residual duplication), built
    on the SAME banded-LSH + exact-refine pipeline qs55 ships, so
    the sweep is over the decisions production would make.

    Determinism: pair Jaccards are exact integer divisions; the
    threshold comparisons are double-vs-literal (identical both
    engines); counts are exact; the affected fraction is one ROUND 2
    of a basis-point ratio. Plan: the banded candidate set and exact
    refine run ONCE (the qs55 physics — only (id, band, key) triples
    shuffle); the 5-threshold sweep is a broadcast cross over the
    surviving pair list (candidate-pair-sized, not corpus-sized)."""
    d = load_table(spark, sf, "documents")
    # r15 (guide §2.4): the surviving pair list feeds BOTH the n_pairs
    # and the docs-affected branches — a pure-plan diamond that re-ran
    # the band self-join + exact refine twice per execution. The list
    # is candidate-pair-sized (the LSH physics) — driver-safe, but it
    # still SCALES with the corpus, so r16 pins it with lineage intact
    # (operators/pin.py "corpus": persist, not localCheckpoint —
    # executor loss recomputes instead of failing the job).
    from cds_etl_spark.operators.pin import pin_stage

    pairs = pin_stage(
        minhash_lsh_pairs(d).select("d1", "d2", "jac"),
        "corpus",
        via="persist",
    )
    # r15 (guide §3.1): a createDataFrame literal is a Python-RDD-
    # backed scan (UnknownPartitioning, no broadcastable stats) — the
    # threshold sweep joined it as a CartesianProduct over pickled
    # rows every execution. A JVM literal plans as a LocalRelation.
    thr = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in (0.5, 0.6, 0.7, 0.8, 0.9)])
        ).alias("threshold")
    )
    tot = d.agg(F.count(F.lit(1)).alias("n_docs"))
    sweep = thr.join(
        pairs, pairs.jac >= thr.threshold, "left"
    )
    docs = sweep.select(
        "threshold",
        F.explode(
            F.when(
                F.col("d1").isNotNull(),
                F.array(F.col("d1"), F.col("d2")),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("d"),
    )
    npairs = sweep.groupBy("threshold").agg(
        F.sum(
            F.when(F.col("d1").isNotNull(), 1).otherwise(0)
        ).alias("n_pairs")
    )
    ndocs = docs.groupBy("threshold").agg(
        F.countDistinct("d").alias("n_docs_affected")
    )
    return (
        npairs.join(ndocs, "threshold", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_docs_affected"), F.lit(0))
            .cast("long")
            .alias("n_docs_affected"),
            F.round(
                F.lit(10000.0)
                * F.coalesce(F.col("n_docs_affected"), F.lit(0))
                / F.col("n_docs"),
                2,
            ).alias("affected_bp"),
        )
        .orderBy("threshold")
    )


# --------------------------------------------------------------------------
# qs308 split-leakage audit: near-dup pairs that cross hash-split folds
# --------------------------------------------------------------------------

# Same md5 bucket as operators/sampling.hash_bucket (qs65/qs66 oracle
# family) — restated here so the dedup module needs no cross-module
# import (plans import order IS registration order).
_SPLIT_BK = "('0x' || substr(md5(doc_id || '|split'), 1, 8))::BIGINT % 1000000"


@query(
    "qs308_split_leakage",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (SELECT doc_id, shset, [{_MINHASH_SIG_SQL}] AS sg FROM sh),
    bands AS (
      SELECT doc_id,
        [md5(sg[1]||','||sg[2]||','||sg[3]), md5(sg[4]||','||sg[5]||','||sg[6]),
         md5(sg[7]||','||sg[8]||','||sg[9]), md5(sg[10]||','||sg[11]||','||sg[12])] AS bk
      FROM bands_src
    ),
    exploded AS (
      SELECT doc_id, g.i AS bi, bk[g.i] AS key
      FROM bands, (SELECT unnest(range(1,5)) AS i) g
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM exploded a JOIN exploded b
        ON a.bi = b.bi AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT cand.d1, cand.d2,
        {_JACCARD_SQL.format(a='sa.shset', b='sb.shset')} AS jac
      FROM cand JOIN sh sa ON cand.d1 = sa.doc_id
                JOIN sh sb ON cand.d2 = sb.doc_id
      WHERE {_JACCARD_SQL.format(a='sa.shset', b='sb.shset')} >= 0.5
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN {_SPLIT_BK} < 800000 THEN 'train'
                  WHEN {_SPLIT_BK} < 900000 THEN 'val'
                  ELSE 'test' END AS s
      FROM documents
    )
    SELECT least(sa.s, sb.s) || '|' || greatest(sa.s, sb.s) AS split_pair,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(FLOOR(pairs.jac * 10000) AS BIGINT))
                AS BIGINT) AS sum_jac_bp
    FROM pairs JOIN sp sa ON pairs.d1 = sa.doc_id
               JOIN sp sb ON pairs.d2 = sb.doc_id
    WHERE sa.s <> sb.s
    GROUP BY 1 ORDER BY split_pair
    """.replace("FROM bands_src", "FROM sig"),
)
def qs308(spark: SparkSession, sf: str) -> DataFrame:
    """TRAIN/TEST SPLIT-LEAKAGE AUDIT: near-duplicate document pairs
    whose members land in DIFFERENT hash-split folds — the
    contamination every LLM training pipeline must audit before
    trusting held-out metrics (a test document with a train-side
    near-dup leaks the answer). Composes the qs66 hash-split
    assignment with the qs55 MinHash-LSH near-dup pairs: banded LSH
    finds the pairs (no all-pairs), the split label joins on the
    doc dimension, and leakage aggregates per fold pair.

    Determinism: fold assignment and the band/signature family are
    the portable md5 contract (bit-identical across engines); the
    per-pair Jaccard is an exact integer ratio and both engines
    compute the SAME IEEE double, so FLOOR(jac·10⁴) is exact — sums
    are integers, no rounding anywhere. Plan: shingles/signatures
    are paid once (the qs55 path); only (id, band-key) pairs and
    the doc-dimension split table shuffle."""
    from cds_etl_spark.operators.sampling import hash_split

    docs = load_table(spark, sf, "documents")
    pairs = minhash_lsh_pairs(docs)
    sp = hash_split(
        docs.select("doc_id"),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="split",
    )
    j = (
        pairs.join(
            sp.select(F.col("doc_id").alias("d1"), F.col("split").alias("sa")),
            "d1",
        )
        .join(
            sp.select(F.col("doc_id").alias("d2"), F.col("split").alias("sb")),
            "d2",
        )
        .filter(F.col("sa") != F.col("sb"))
    )
    return (
        j.select(
            F.concat_ws(
                "|", F.least("sa", "sb"), F.greatest("sa", "sb")
            ).alias("split_pair"),
            F.floor(F.col("jac") * 10000).cast("long").alias("jbp"),
        )
        .groupBy("split_pair")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("jbp").alias("sum_jac_bp"),
        )
        .orderBy("split_pair")
    )


# --------------------------------------------------------------------------
# qs315 duplicate-cluster size histogram (the dedup audit)
# --------------------------------------------------------------------------


@query(
    "qs315_dedup_cluster_stats",
    oracle="""
    WITH cl AS (
      SELECT md5(text) AS h, COUNT(*) AS k FROM documents GROUP BY 1)
    SELECT CAST(k AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(k) AS BIGINT) AS n_docs,
           CAST(SUM(k) - COUNT(*) AS BIGINT) AS n_removable
    FROM cl GROUP BY k ORDER BY cluster_size
    """,
)
def qs315(spark: SparkSession, sf: str) -> DataFrame:
    """DUPLICATE-CLUSTER SIZE HISTOGRAM: group exact-content clusters
    (qs54's md5 identity) by size and report, per size, how many
    clusters, how many documents they hold, and how many rows dedup
    would remove — the audit read before and after a dedup pass
    (a heavy tail of large clusters means boilerplate families;
    Σ n_removable is the dedup yield forecast).

    Determinism: all exact integers off two grouped aggregates.
    Plan: the corpus shuffles once on the 32-byte content hash
    (never the text — map-side md5), then the histogram is a
    cluster-dimension aggregate."""
    d = load_table(spark, sf, "documents")
    cl = d.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        cl.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("k").alias("n_docs"),
            (F.sum("k") - F.count(F.lit(1))).alias("n_removable"),
        )
        .select(
            F.col("k").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_removable").cast("long").alias("n_removable"),
        )
        .orderBy("cluster_size")
    )
