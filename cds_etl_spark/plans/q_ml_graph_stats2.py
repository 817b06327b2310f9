"""Round-7 additions, second block: frequent itemsets (a-priori
triples), reciprocal-rank fusion, functional-dependency profiling,
a Gini decision stump, exact-integer HITS, the Cochran–Armitage
trend test, and first-occurrence n-gram novelty — qs256–qs262.
Registration contract, aliasing and cross-engine rules:
cds_etl_spark/plans/registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.plans.registry import query
from cds_etl_spark.operators.pin import cut_lineage


# ---------------------------------------------------------------------------
# qs256 frequent brand triples (a-priori 3-itemsets)
# ---------------------------------------------------------------------------

@query(
    "qs256_frequent_triples",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
    SELECT x.b AS b1, y.b AS b2, z.b AS b3,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM ob x JOIN ob y ON x.o = y.o AND x.b < y.b
              JOIN ob z ON y.o = z.o AND y.b < z.b
    GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5
    """,
)
def qs256(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets (brands co-purchased
    in one order, support ≥ 5) — the a-priori step above qs187's
    pair lift: pairs say WHICH two sell together, triples are where
    bundle recommendations and planogram rules actually come from.

    Determinism: supports are exact integers; the lexicographic
    b1 < b2 < b3 canonicalization emits each triple once. Scale:
    the basket width is BOUNDED (≤ lineitems per order, ≤ 7 here),
    so the within-order 3-way self-join fans out ≤ C(w,3) rows per
    basket — linear in orders, not quadratic in items (the qs187
    lesson: expansion bounded per basket key, shuffled on the
    basket key, aggregated with map-side combine). The brand lookup
    runs unhinted before the basket distinct (part scales with SF —
    AQE broadcasts while it is genuinely small, shuffles at 100x)."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    # r15 (guide §2.4): checkpoint the basket table — x/y/z each
    # referenced it, so the lineitem-part join + distinct re-ran 3x.
    ob = (
        li.join(
            p.select("p_partkey", "p_brand"),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    ob = cut_lineage(ob)  # pin: corpus-scale (order, brand) set
    x = ob.select("o", F.col("b").alias("b1"))
    y = ob.select("o", F.col("b").alias("b2"))
    z = ob.select("o", F.col("b").alias("b3"))
    return (
        x.join(y, "o")
        .filter(F.col("b1") < F.col("b2"))
        .join(z, "o")
        .filter(F.col("b2") < F.col("b3"))
        .groupBy("b1", "b2", "b3")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 5)
    )


# ---------------------------------------------------------------------------
# qs257 reciprocal-rank fusion of two retrieval rankings
# ---------------------------------------------------------------------------

_RRF_TERMS = ("data", "query", "scan")


@query(
    "qs257_rrf_fusion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\\s+'))
                     AS t
            FROM documents)
      WHERE t <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl FROM dl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN {_RRF_TERMS!r} GROUP BY 1, 2),
    idf AS (
      SELECT term, ln((CAST((SELECT n FROM stats) AS DOUBLE)
                       - COUNT(*) + 0.5) / (COUNT(*) + 0.5) + 1.0)
               AS idf
      FROM tf GROUP BY term),
    bm AS (
      SELECT tf.doc_id,
             SUM(idf.idf * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                    / (CAST((SELECT sdl FROM stats) AS DOUBLE)
                       / (SELECT n FROM stats))))) AS s
      FROM tf JOIN idf ON tf.term = idf.term
              JOIN dl ON tf.doc_id = dl.doc_id
      GROUP BY tf.doc_id),
    r1 AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ROUND(s, 4) DESC,
                                        doc_id) AS r
      FROM bm QUALIFY r <= 100),
    r2 AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars DESC,
                                        doc_id) AS r
      FROM documents QUALIFY r <= 100),
    fused AS (
      SELECT COALESCE(r1.doc_id, r2.doc_id) AS doc_id,
             COALESCE(1.0 / (60 + r1.r), 0.0)
               + COALESCE(1.0 / (60 + r2.r), 0.0) AS rrf
      FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id)
    SELECT doc_id, ROUND(rrf, 6) AS rrf
    FROM fused ORDER BY ROUND(rrf, 6) DESC, doc_id LIMIT 15
    """,
)
def qs257(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, k = 60) of two rankings — the
    qs255 BM25 list and a static length prior (n_chars) — the
    zero-tuning rank combiner hybrid retrieval ships (Cormack et
    al. 2009): Σ 1/(k + rankᵢ) over the lists a document appears
    in, top-100 per list, fused top-15 out.

    Determinism: both input rankings tie-break by doc_id (BM25 on
    its 4 dp-rounded score — the qs255 ordering contract), ranks
    are exact integers, and the fused score is a sum of ≤ 2
    exactly-representable reciprocals, rounded at 6 dp for both the
    ORDER BY and the emitted value. Scale: each ranking is a
    top-100 TakeOrdered (per-partition heads, then merge — no
    global sort), the fusion is a 100-row full outer join."""
    d = load_table(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
    )
    tf = (
        toks.filter(F.col("term").isin(*_RRF_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n")))
        .select(
            "term",
            F.log(
                (F.col("n").cast("double") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
                + 1.0
            ).alias("idf"),
        )
    )
    bm = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("idf")
                * F.col("tf")
                * 2.2
                / (
                    F.col("tf")
                    + 1.2
                    * (
                        0.25
                        + 0.75
                        * F.col("dl")
                        / (F.col("sdl").cast("double") / F.col("n"))
                    )
                )
            ).alias("s")
        )
    )
    # Top-100 via orderBy().limit() — TakeOrderedAndProject keeps the
    # corpus scan parallel (per-partition top-k, then merge); the old
    # global row_number window pulled every scored document into ONE
    # task. The rank column the RRF formula needs is then a window
    # over the 100 SURVIVORS only: ranks within the top-k equal the
    # global ranks because the (score, doc_id) total order is unique.
    r1 = (
        bm.select("doc_id", F.round(F.col("s"), 4).alias("s4"))
        .orderBy(F.col("s4").desc(), "doc_id")
        .limit(100)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("s4").desc(), "doc_id"))
            .alias("r"),
        )
        .withColumnRenamed("doc_id", "d1")
    )
    r2 = (
        d.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(100)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("n_chars").desc(), "doc_id"))
            .alias("r"),
        )
        .withColumnRenamed("doc_id", "d2")
    )
    fused = r1.join(
        r2, r1["d1"] == r2["d2"], "full_outer"
    ).select(
        F.coalesce(F.col("d1"), F.col("d2")).alias("doc_id"),
        (
            F.coalesce(1.0 / (60 + r1["r"]), F.lit(0.0))
            + F.coalesce(1.0 / (60 + r2["r"]), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.select("doc_id", F.round(F.col("rrf"), 6).alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# qs258 functional-dependency / candidate-key profile
# ---------------------------------------------------------------------------

#: (table, determinant, dependent) candidates; the orderkey FD holds
#: (unique determinant = candidate-key discovery), the others are
#: expected violations — the profile reports both.
_FD_CANDIDATES = (
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderstatus"),
    ("part", "p_name", "p_brand"),
    ("lineitem", "l_partkey", "l_suppkey"),
)


def _fd_oracle() -> str:
    parts = []
    for tbl, det, dep in _FD_CANDIDATES:
        parts.append(f"""
    SELECT '{det}' AS det_col, '{dep}' AS dep_col,
           CAST(COUNT(*) AS BIGINT) AS n_det,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS violations,
           CAST(CASE WHEN SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
                THEN 1 ELSE 0 END AS BIGINT) AS holds
    FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS nd
          FROM {tbl} GROUP BY {det})""")
    return " UNION ALL ".join(parts)


@query("qs258_fd_profile", oracle=_fd_oracle())
def qs258(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency profile — for each candidate A → B,
    count determinant values whose dependent is not unique: zero
    violations means the FD holds (and a held FD with a row-unique
    determinant is a discovered candidate KEY). The data-profiling
    primitive schema-inference and normalization audits run before
    trusting upstream contracts — qs88 profiles COLUMNS in
    isolation; this profiles column RELATIONSHIPS.

    Determinism: counts only. Scale: each candidate is one
    (det → count distinct dep) hash aggregate — map-side combined,
    one shuffle per candidate on the determinant key, the natural
    partitioning — followed by a 1-row rollup; candidates run as a
    union of independent narrow plans (2-column scans each,
    verified column pruning)."""
    from cds_etl_spark.operators.skew import spread_scan

    out = None
    for tbl, det, dep in _FD_CANDIDATES:
        t = load_table(spark, sf, tbl)
        # r15 (guide §2.5): single-file scans ran each candidate's
        # partial aggregate in ONE task; the det-keyed spread also
        # satisfies the groupBy's required distribution. Project to
        # the two columns BEFORE the exchange (guide §2.3).
        nd = (
            spread_scan(t.select(det, dep), det)
            .groupBy(det)
            .agg(F.countDistinct(dep).alias("nd"))
        )
        viol = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        row = nd.agg(
            F.lit(det).alias("det_col"),
            F.lit(dep).alias("dep_col"),
            F.count(F.lit(1)).cast("long").alias("n_det"),
            viol.cast("long").alias("violations"),
            F.when(viol == 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# qs259 Gini decision stump on order value
# ---------------------------------------------------------------------------

@query(
    "qs259_decision_stump",
    oracle="""
    WITH b AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 2500000
               AS bkt,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders),
    h AS (SELECT bkt, COUNT(*) AS n, SUM(y) AS pos FROM b
          GROUP BY bkt),
    c AS (
      SELECT bkt, n, pos,
             SUM(n) OVER (ORDER BY bkt ROWS UNBOUNDED PRECEDING)
               AS ln,
             SUM(pos) OVER (ORDER BY bkt ROWS UNBOUNDED PRECEDING)
               AS lp,
             SUM(n) OVER () AS tn, SUM(pos) OVER () AS tp
      FROM h),
    s AS (
      SELECT bkt, ln, lp, tn - ln AS rn, tp - lp AS rp,
             (CAST(ln AS DOUBLE)
              - (CAST(lp * lp AS DOUBLE)
                 + CAST((ln - lp) * (ln - lp) AS DOUBLE))
                / CAST(ln AS DOUBLE))
             + (CAST(tn - ln AS DOUBLE)
                - (CAST((tp - lp) * (tp - lp) AS DOUBLE)
                   + CAST(((tn - ln) - (tp - lp))
                          * ((tn - ln) - (tp - lp)) AS DOUBLE))
                  / CAST(tn - ln AS DOUBLE)) AS cost
      FROM c WHERE ln > 0 AND tn - ln > 0),
    best AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cost, bkt) AS rn_
      FROM s)
    SELECT (bkt + 1) * 2500000 AS threshold_cents,
           CAST(ln AS BIGINT) AS n_left, CAST(lp AS BIGINT) AS pos_left,
           CAST(rn AS BIGINT) AS n_right, CAST(rp AS BIGINT)
             AS pos_right,
           ROUND(cost, 4) AS weighted_gini
    FROM best WHERE rn_ = 1
    """,
)
def qs259(spark: SparkSession, sf: str) -> DataFrame:
    """Best single split (decision stump) of order value predicting
    high-priority orders, by weighted Gini impurity — evaluate every
    $25k threshold from ONE histogram pass: left/right class counts
    come from cumulative sums over the bucket histogram, so the scan
    cost is one aggregate regardless of how many thresholds are
    scored. The CART building block (and the one-feature baseline
    every classifier must beat), stated the distributed way: no
    per-threshold rescan.

    Determinism: class counts are exact integers; each candidate's
    impurity is assembled from exact integer squares with two
    divisions, the SAME expression on both engines (identical
    doubles → identical argmin), tie-broken by lowest threshold;
    the reported cost rounds at 4 dp. Scale: corpus → ≤ 200-bucket
    histogram in one map-side-combined aggregate; windows run over
    the histogram."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    b = o.select(
        F.floor(cents / 2500000).alias("bkt"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    h = b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    wc = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    c = (
        h.withColumn("ln", F.sum("n").over(wc))
        .withColumn("lp", F.sum("pos").over(wc))
        .withColumn("tn", F.sum("n").over(wall))
        .withColumn("tp", F.sum("pos").over(wall))
    )
    ln, lp = F.col("ln"), F.col("lp")
    rn = F.col("tn") - ln
    rp = F.col("tp") - lp
    cost = (
        ln.cast("double")
        - (
            (lp * lp).cast("double")
            + ((ln - lp) * (ln - lp)).cast("double")
        )
        / ln.cast("double")
    ) + (
        rn.cast("double")
        - ((rp * rp).cast("double") + ((rn - rp) * (rn - rp)).cast("double"))
        / rn.cast("double")
    )
    s = c.filter((ln > 0) & (rn > 0)).select(
        "bkt",
        ln.alias("ln_"),
        lp.alias("lp_"),
        rn.alias("rn_v"),
        rp.alias("rp_v"),
        cost.alias("cost"),
    )
    best = s.withColumn(
        "rk", F.row_number().over(Window.orderBy("cost", "bkt"))
    ).filter(F.col("rk") == 1)
    return best.select(
        ((F.col("bkt") + 1) * 2500000).alias("threshold_cents"),
        F.col("ln_").cast("long").alias("n_left"),
        F.col("lp_").cast("long").alias("pos_left"),
        F.col("rn_v").cast("long").alias("n_right"),
        F.col("rp_v").cast("long").alias("pos_right"),
        F.round(F.col("cost"), 4).alias("weighted_gini"),
    )


# ---------------------------------------------------------------------------
# qs260 exact-integer HITS (2 iterations) on the customer→supplier graph
# ---------------------------------------------------------------------------

@query(
    "qs260_hits_scores",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    a1 AS (SELECT s, COUNT(*) AS a FROM e GROUP BY s),
    h1 AS (SELECT e.c, SUM(a1.a) AS h FROM e JOIN a1 ON e.s = a1.s
           GROUP BY e.c),
    a2 AS (SELECT e.s, SUM(h1.h) AS a FROM e JOIN h1 ON e.c = h1.c
           GROUP BY e.s)
    SELECT s AS node, CAST(a AS BIGINT) AS authority
    FROM a2 ORDER BY a DESC, s LIMIT 20
    """,
)
def qs260(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs-and-authorities, two unnormalized power iterations
    on the bipartite customer→supplier purchase graph (Kleinberg
    1999): a₁ = in-degree, h₁ = Σ a₁ over a customer's suppliers,
    a₂ = Σ h₁ over a supplier's customers — "a good supplier is
    bought by well-connected customers". qs94's PageRank ranks by
    random-walk mass; HITS separates the two bipartite roles, the
    natural fit here.

    Determinism: with the all-ones start, unnormalized HITS scores
    are EXACT INTEGERS (walk counts) — no float normalization
    anywhere, so no FP accumulation question at all; top-20
    tie-breaks by node. Scale: each half-iteration is one edge ⋈
    score join (score side one narrow row per node) plus a keyed
    aggregate — the connected-components/pagerank skeleton with a
    fixed 2-round unroll, edges deduplicated once up front."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    e = (
        o.select("o_orderkey", F.col("o_custkey").alias("c"))
        .join(
            li.select("l_orderkey", F.col("l_suppkey").alias("s")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("c", "s")
        .distinct()
        # r15 (guide §2.4): a1/h1/a2 each reference the edge set, so
        # the orders-lineitem join + distinct re-ran 3x.
    )
    e = cut_lineage(e)  # pin: corpus-scale edge set
    a1 = e.groupBy("s").agg(F.count(F.lit(1)).alias("a"))
    h1 = (
        e.join(a1, "s")
        .groupBy("c")
        .agg(F.sum("a").alias("h"))
    )
    a2 = (
        e.join(h1, "c")
        .groupBy("s")
        .agg(F.sum("h").alias("a"))
    )
    return (
        a2.select(
            F.col("s").alias("node"),
            F.col("a").cast("long").alias("authority"),
        )
        .orderBy(F.col("authority").desc(), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# qs261 Cochran–Armitage trend test
# ---------------------------------------------------------------------------

@query(
    "qs261_cochran_armitage",
    oracle="""
    WITH g AS (
      SELECT TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
             COUNT(*) AS n,
             SUM(CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END)
               AS r
      FROM orders
      WHERE o_totalprice IS NOT NULL
        AND TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
            IS NOT NULL
      GROUP BY 1),
    s AS (
      SELECT SUM(n) AS nn, SUM(r) AS rr, SUM(w * r) AS swr,
             SUM(w * n) AS swn, SUM(w * w * n) AS swwn
      FROM g)
    SELECT CAST(nn AS BIGINT) AS n, CAST(rr AS BIGINT) AS responders,
           ROUND(CAST(CAST(nn * swr - rr * swn AS HUGEINT)
                      * (nn * swr - rr * swn) AS DOUBLE) * nn
                 / (CAST(rr AS DOUBLE) * (nn - rr)
                    * CAST(nn * swwn - swn * swn AS DOUBLE)), 4)
             AS ca_chi2
    FROM s
    """,
)
def qs261(spark: SparkSession, sf: str) -> DataFrame:
    """Cochran–Armitage test for trend — is the high-value-order
    rate MONOTONE in the priority ordinal (1-URGENT … 5-LOW)?
    The dose-response statistic for ordered categories, strictly
    more powerful than qs241's chi-square when the alternative is a
    trend (chi-square spends power on arbitrary deviations; CA on
    the linear contrast Σwᵢrᵢ).

    Determinism: all five moment sums are exact integers; the
    squared numerator is widened to 128-bit (HUGEINT / DECIMAL(38))
    BEFORE squaring — (N·Σwr)² reaches 10³⁰ at sf10 — and one
    division produces the double, rounded 4 dp. Scale: one 5-row
    hash aggregate off the scan; the epilogue is constant."""
    o = load_table(spark, sf, "orders")
    # Complete-case dose-response: rows with an unparseable priority
    # (dose) or a missing price (response) are not observations (r15
    # NULL-axis convention; ANSI CAST throws on dirty strings).
    prio = F.substring("o_orderpriority", 1, 1).try_cast("long")
    g = o.filter(
        F.col("o_totalprice").isNotNull() & prio.isNotNull()
    ).groupBy(prio.alias("w")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("o_totalprice") > 250000, 1).otherwise(0)
        ).alias("r"),
    )
    s = g.agg(
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        F.sum(F.col("w") * F.col("r")).alias("swr"),
        F.sum(F.col("w") * F.col("n")).alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n")).alias("swwn"),
    )
    num = (
        F.col("nn") * F.col("swr") - F.col("rr") * F.col("swn")
    ).cast("decimal(38,0)")
    return s.select(
        F.col("nn").cast("long").alias("n"),
        F.col("rr").cast("long").alias("responders"),
        F.round(
            (num * num).cast("double")
            * F.col("nn")
            / (
                F.col("rr").cast("double")
                * (F.col("nn") - F.col("rr"))
                * (
                    F.col("nn") * F.col("swwn")
                    - F.col("swn") * F.col("swn")
                ).cast("double")
            ),
            4,
        ).alias("ca_chi2"),
    )


# ---------------------------------------------------------------------------
# qs262 first-occurrence n-gram novelty per document
# ---------------------------------------------------------------------------

@query(
    "qs262_ngram_novelty",
    oracle="""
    WITH rt AS (
      SELECT doc_id, string_split(text, ' ') AS rt FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, g
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(rt) - 1),
                     i -> rt[i] || ' ' || rt[i+1] || ' ' || rt[i+2]))
                     AS g
            FROM rt WHERE len(rt) >= 3)),
    owner AS (SELECT g, MIN(doc_id) AS first_doc FROM grams
              GROUP BY g)
    SELECT grams.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           ROUND(CAST(SUM(CASE WHEN owner.first_doc = grams.doc_id
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS novelty
    FROM grams JOIN owner ON grams.g = owner.g
    GROUP BY grams.doc_id
    """,
)
def qs262(spark: SparkSession, sf: str) -> DataFrame:
    """First-occurrence trigram novelty — for each document, the
    fraction of its DISTINCT word-trigrams whose earliest owner
    (min doc_id) is the document itself: the corpus-growth curve
    behind data-curation decisions ("are later crawls adding new
    content or re-serving old?"). qs142 measures how much of a doc
    is DUPLICATED span; this measures how much it CONTRIBUTES
    first — the two sides of incremental-corpus accounting.

    Determinism: set sizes and min-ownership are exact integers;
    one division, 4 dp. Scale: one explode to distinct (doc, gram)
    — the qs60 shingle shuffle — then a gram-keyed min aggregate
    joined back on the gram: both shuffles carry the gram key."""
    from cds_etl_spark.operators.skew import spread_scan

    d = load_table(spark, sf, "documents")
    # r15 (guide §2.5): spread the single-file scan — tokenize + gram
    # expansion otherwise run in one task on both diamond branches.
    # The gram diamond itself stays: both alternatives measured WORSE
    # on a settled box at sf0.1 (warm: spread-only 1.60 s; min() OVER
    # (PARTITION BY g) on one shared g exchange 2.97 s — WindowExec
    # sorts the grams where the hash aggregates never pay a sort;
    # localCheckpoint of the exploded distinct (doc, gram) set 1.75 s
    # — the qs155 lesson: materializing a many-times-the-input explode
    # costs about what re-running it does, and pins memory).
    rt = spread_scan(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.split(F.col("text"), " ").alias("rt")
    ).filter(F.size("rt") >= 3)
    grams = rt.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("rt") - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.col("rt")[i],
                    F.col("rt")[i + 1],
                    F.col("rt")[i + 2],
                ),
            )
        ).alias("g"),
    ).distinct()
    owner = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(owner, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.round(
                F.sum(
                    F.when(
                        F.col("first_doc") == F.col("doc_id"), 1
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# qs263 RAKE keyphrase extraction
# ---------------------------------------------------------------------------

_RAKE_STOPS = (
    "the", "a", "of", "and", "to", "in", "is", "that", "it", "for",
)


@query(
    "qs263_rake_keyphrases",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok,
             unnest(range(1, len(regexp_split_to_array(lower(text),
                                                       '\\s+')) + 1))
               AS pos
      FROM documents),
    flagged AS (
      SELECT doc_id, tok, pos,
             CASE WHEN tok = '' OR list_contains(
                    {list(_RAKE_STOPS)!r}, tok)
                  THEN 1 ELSE 0 END AS stop
      FROM toks),
    isl AS (
      SELECT doc_id, tok, pos, stop,
             SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged),
    phr AS (
      SELECT doc_id, island,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             COUNT(*) AS plen
      FROM isl WHERE stop = 0
      GROUP BY doc_id, island
      HAVING COUNT(*) BETWEEN 1 AND 4),
    members AS (
      SELECT doc_id, island, plen, phrase,
             unnest(string_split(phrase, ' ')) AS w
      FROM phr),
    wstats AS (
      SELECT w, COUNT(*) AS freq, SUM(plen) AS deg
      FROM members GROUP BY w),
    scored AS (
      SELECT m.phrase,
             SUM(CAST(ws.deg AS DOUBLE) / ws.freq) AS score
      FROM members m JOIN wstats ws ON m.w = ws.w
      GROUP BY m.doc_id, m.island, m.phrase),
    best AS (
      SELECT phrase, MAX(score) AS score,
             CAST(COUNT(*) AS BIGINT) AS occurrences
      FROM scored GROUP BY phrase)
    SELECT phrase, ROUND(score, 4) AS rake_score, occurrences
    FROM best ORDER BY ROUND(score, 4) DESC, phrase LIMIT 15
    """,
)
def qs263(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) — candidate
    phrases are maximal stopword-delimited token runs (length ≤ 4);
    each word scores degree/frequency over the phrase graph and a
    phrase scores the sum of its words: multi-word domain terms beat
    bare frequency because their words co-occur in LONG candidates.
    The keyphrase-side summary beside qs115's TF-IDF (per-doc terms)
    and qs224's log-odds (corpus-contrastive terms).

    Determinism: island segmentation is a cumulative integer flag
    sum in position order; freq/deg are exact integers; word scores
    are one division each and a phrase sums ≤ 4 of them, rounded at
    4 dp for ORDER BY and output (phrase-text tie-break). Plan:
    tokenize + flag row-locally, one doc-keyed window builds
    islands, phrase assembly is one ordered aggregate per (doc,
    island), word stats one hash aggregate, and the score join is
    vocabulary-sized."""
    from cds_etl_spark.operators.skew import spread_scan

    d = load_table(spark, sf, "documents")
    # r15 (guide §2.5): single-file scan — tokenize + the doc-keyed
    # island window otherwise run in ONE task; hashing on doc_id also
    # satisfies the window's required distribution (no extra exchange).
    toks = spread_scan(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.col("text")), r"\s+")
        ).alias("pos0", "tok"),
    ).select(
        "doc_id", "tok", (F.col("pos0") + 1).alias("pos")
    )
    stops = F.array(*[F.lit(w) for w in _RAKE_STOPS])
    flagged = toks.withColumn(
        "stop",
        F.when(
            (F.col("tok") == "") | F.array_contains(stops, F.col("tok")),
            1,
        ).otherwise(0),
    )
    wisl = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = flagged.withColumn("island", F.sum("stop").over(wisl))
    phr = (
        isl.filter(F.col("stop") == 0)
        .groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .filter((F.col("plen") >= 1) & (F.col("plen") <= 4))
    )
    members = phr.select(
        "doc_id",
        "island",
        "plen",
        "phrase",
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    # r15 (guide §2.4): members feeds BOTH wstats and the score join —
    # the diamond re-ran the tokenize + island window + phrase
    # aggregate chain twice. r16: one row per phrase WORD scales with
    # the corpus (ADVICE r15) — corpus class, cut_lineage.
    )
    members = cut_lineage(members)
    wstats = members.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    scored = (
        members.join(wstats, "w")
        .groupBy("doc_id", "island", "phrase")
        .agg(
            F.sum(
                F.col("deg").cast("double") / F.col("freq")
            ).alias("score")
        )
    )
    best = scored.groupBy("phrase").agg(
        F.max("score").alias("score"),
        F.count(F.lit(1)).cast("long").alias("occurrences"),
    )
    return (
        best.select(
            "phrase",
            F.round(F.col("score"), 4).alias("rake_score"),
            "occurrences",
        )
        .orderBy(F.col("rake_score").desc(), "phrase")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# qs264 calibration bins + expected calibration error
# ---------------------------------------------------------------------------

@query(
    "qs264_calibration_ece",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
    resp AS (SELECT DISTINCT o_custkey FROM orders
             WHERE year(o_orderdate) = 1996),
    lab AS (
      SELECT spend.o_custkey AS ck, s,
             CASE WHEN resp.o_custkey IS NULL THEN 0 ELSE 1 END AS y
      FROM spend LEFT JOIN resp ON spend.o_custkey = resp.o_custkey),
    train AS (SELECT * FROM lab WHERE ck % 2 = 1),
    test  AS (SELECT * FROM lab WHERE ck % 2 = 0),
    td AS (
      SELECT CAST(NTILE(10) OVER (ORDER BY s DESC, ck) AS INTEGER)
               AS d, s, y
      FROM train),
    model AS (
      SELECT d, MIN(s) AS lo, COUNT(*) AS n_train, SUM(y) AS r_train
      FROM td GROUP BY d),
    assigned AS (
      SELECT t.ck, t.y,
             COALESCE(MIN(m.d), 10) AS d
      FROM test t LEFT JOIN model m ON t.s >= m.lo
      GROUP BY t.ck, t.y),
    bins AS (
      SELECT a.d, COUNT(*) AS n_test, SUM(a.y) AS hits,
             MAX(m.n_train) AS n_train, MAX(m.r_train) AS r_train
      FROM assigned a JOIN model m ON a.d = m.d
      GROUP BY a.d),
    tot AS (SELECT SUM(n_test) AS nt FROM bins)
    SELECT d AS decile,
           CAST(n_test AS BIGINT) AS n_test,
           ROUND(CAST(r_train AS DOUBLE) / n_train, 4) AS confidence,
           ROUND(CAST(hits AS DOUBLE) / n_test, 4) AS accuracy,
           ROUND(ABS(CAST(r_train AS DOUBLE) / n_train
                     - CAST(hits AS DOUBLE) / n_test)
                 * n_test / (SELECT nt FROM tot), 6)
             AS ece_contrib
    FROM bins
    """,
)
def qs264(spark: SparkSession, sf: str) -> DataFrame:
    """Calibration (reliability) bins with per-bin ECE contribution —
    the qs245 decile model trained on ODD customers (per-decile 1996
    reorder rate = its predicted confidence) is scored on EVEN
    customers assigned to the train decile boundaries: a calibrated
    model has accuracy ≈ confidence per bin, and Σ ece_contrib is
    the expected calibration error. The honest-holdout eval the
    in-sample gains table (qs245) cannot give, and the calibration
    axis qs215's NDCG (ranking) and qs244's kappa (agreement) miss.

    Determinism: spends are exact cents, decile boundaries are MINs,
    test assignment is COALESCE(MIN over qualifying boundaries, last
    bin) — pure integer comparisons; rates are exact-integer
    divisions rounded 4/6 dp. Plan: two year-pruned aggregates, one
    train-side NTILE over train customers, a 10-row broadcast
    boundary join for assignment, and a 10-row epilogue."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    spend = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("s"))
    )
    resp = (
        o.filter(F.year("o_orderdate") == 1996)
        .select("o_custkey")
        .distinct()
        .withColumn("y1", F.lit(1))
    )
    lab = spend.join(resp, "o_custkey", "left").select(
        F.col("o_custkey").alias("ck"),
        "s",
        F.coalesce(F.col("y1"), F.lit(0)).alias("y"),
    )
    train = lab.filter(F.col("ck") % 2 == 1)
    test = lab.filter(F.col("ck") % 2 == 0)
    td = train.select(
        F.ntile(10)
        .over(Window.orderBy(F.col("s").desc(), "ck"))
        .alias("d"),
        "s",
        "y",
    )
    model = td.groupBy("d").agg(
        F.min("s").alias("lo"),
        F.count(F.lit(1)).alias("n_train"),
        F.sum("y").alias("r_train"),
    )
    assigned = (
        test.join(F.broadcast(model), test["s"] >= model["lo"], "left")
        .groupBy("ck", "y")
        .agg(F.coalesce(F.min("d"), F.lit(10)).alias("d"))
    )
    bins = (
        assigned.join(F.broadcast(model), "d")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum("y").alias("hits"),
            F.max("n_train").alias("n_train"),
            F.max("r_train").alias("r_train"),
        )
    )
    tot = bins.agg(F.sum("n_test").alias("nt"))
    conf = F.col("r_train").cast("double") / F.col("n_train")
    acc = F.col("hits").cast("double") / F.col("n_test")
    return bins.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("decile"),
        F.col("n_test").cast("long").alias("n_test"),
        F.round(conf, 4).alias("confidence"),
        F.round(acc, 4).alias("accuracy"),
        F.round(
            F.abs(conf - acc) * F.col("n_test") / F.col("nt"), 6
        ).alias("ece_contrib"),
    )


# ---------------------------------------------------------------------------
# qs265 Neyman optimal stratified-sample allocation
# ---------------------------------------------------------------------------

@query(
    "qs265_neyman_allocation",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS stratum, COUNT(*) AS nh,
             STDDEV_SAMP(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               AS sh
      FROM orders GROUP BY 1),
    t AS (SELECT SUM(nh * sh) AS tot FROM g)
    SELECT stratum, CAST(nh AS BIGINT) AS n_stratum,
           ROUND(sh / 100.0, 2) AS sigma_dollars,
           ROUND(nh * sh / (SELECT tot FROM t), 6) AS weight,
           CAST(FLOOR(10000 * nh * sh / (SELECT tot FROM t))
                AS BIGINT) AS alloc
    FROM g
    """,
)
def qs265(spark: SparkSession, sf: str) -> DataFrame:
    """Neyman optimal allocation for a stratified sample of 10,000
    orders — sample each stratum proportionally to Nₕ·σₕ, not Nₕ:
    high-variance strata get oversampled because that is where the
    estimator's variance lives (Neyman 1934). The sampling-DESIGN
    companion to qs67's stratified executor: qs67 applies given
    rates; this computes the rates a fixed budget should use.

    Determinism: counts are exact; σ is the engines' numerically
    stable stddev over exact cent integers (identical input set →
    last-ulp agreement, guarded by 2/6 dp rounds; the floor of the
    shared allocation quotient is the same double on both sides).
    Plan: one 5-row hash aggregate + scalar total — the allocation
    table is broadcast-sized by construction at any corpus scale."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    g = o.groupBy(
        F.col("o_orderpriority").alias("stratum")
    ).agg(
        F.count(F.lit(1)).alias("nh"),
        F.stddev_samp(cents).alias("sh"),
    )
    t = g.agg(F.sum(F.col("nh") * F.col("sh")).alias("tot"))
    return g.crossJoin(F.broadcast(t)).select(
        "stratum",
        F.col("nh").cast("long").alias("n_stratum"),
        F.round(F.col("sh") / 100.0, 2).alias("sigma_dollars"),
        F.round(F.col("nh") * F.col("sh") / F.col("tot"), 6).alias(
            "weight"
        ),
        F.floor(
            10000 * F.col("nh") * F.col("sh") / F.col("tot")
        )
        .cast("long")
        .alias("alloc"),
    )


# ---------------------------------------------------------------------------
# qs266 temporal-consistency audit (cross-table date contract)
# ---------------------------------------------------------------------------

@query(
    "qs266_temporal_consistency",
    oracle="""
    SELECT year(o.o_orderdate) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS ship_before_order,
           CAST(SUM(CASE WHEN l.l_shipdate >= o.o_orderdate
                          AND CAST(l.l_shipdate AS DATE)
                              > CAST(o.o_orderdate AS DATE)
                                + INTERVAL 365 DAY
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS ship_over_1y,
           ROUND(CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS violation_rate
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def qs266(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table temporal-consistency audit — per order year, how
    many line items ship BEFORE their order exists, and how many
    ship implausibly late (> 1 year): the date-contract sibling of
    qs258's FD profile (value relationships) and the reference's
    validation-report surface (O22–O27 audit rows, not exceptions
    — violations are COUNTED and rated, the pipeline keeps moving).

    Determinism: pure integer date comparisons and counts, one
    rate division. Plan: the orderkey equi-join is the natural
    co-partitioning (both sides bucket on the same key in the
    warehouse layout); flags fold into ONE aggregate with map-side
    combine — a scan-shaped audit that runs at any scale."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    j = li.select("l_orderkey", "l_shipdate").join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    before = F.when(
        F.col("l_shipdate") < F.col("o_orderdate"), 1
    ).otherwise(0)
    late = F.when(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 365)
        ),
        1,
    ).otherwise(0)
    return j.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(before).cast("long").alias("ship_before_order"),
        F.sum(late).cast("long").alias("ship_over_1y"),
        F.round(
            F.sum(before).cast("double") / F.count(F.lit(1)), 4
        ).alias("violation_rate"),
    )


# ---------------------------------------------------------------------------
# qs267 Markov entropy rate of the event-type process
# ---------------------------------------------------------------------------

@query(
    "qs267_markov_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    pair AS (
      SELECT event_type AS cur, nxt, COUNT(*) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    ctx AS (
      SELECT cur, SUM(c) AS n FROM pair GROUP BY cur),
    tot AS (SELECT SUM(c) AS t FROM pair),
    terms AS (
      SELECT pair.cur, pair.c, ctx.n, tot.t
      FROM pair JOIN ctx ON pair.cur = ctx.cur, tot)
    SELECT CAST(MAX(t) AS BIGINT) AS n_transitions,
           ROUND(-SUM((CAST(c AS DOUBLE) / t)
                      * ln(CAST(c AS DOUBLE) / n)) / ln(2), 4)
             AS entropy_rate_bits,
           ROUND(-SUM((CAST(c AS DOUBLE) / t)
                      * ln(CAST(c AS DOUBLE) / t)) / ln(2), 4)
             AS joint_entropy_bits
    FROM terms
    """,
)
def qs267(spark: SparkSession, sf: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain —
    H(next | current) = −Σ p(cur,next)·log₂ p(next|cur) over observed
    transitions, beside the joint pair entropy: how PREDICTABLE is
    the next step given where the user is now. Complements qs123
    (the transition probabilities themselves), qs166 (MI of one
    pair), and qs160 (marginal token entropy) with the process-level
    number sequence models are bounded by — an entropy rate near the
    marginal entropy means history buys nothing.

    Determinism: transition, context, and total counts are exact
    integers from ONE user-keyed window pass; each term is built
    from the same two divisions and one ln on both engines (the
    qs184 ln contract) and the Σ runs over ≤ |types|² = 25 terms,
    rounded 4 dp. Plan: one shuffle by user for the LEAD window,
    then a 25-row aggregate epilogue."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    pair = seq.groupBy(
        F.col("event_type").alias("cur"), "nxt"
    ).agg(F.count(F.lit(1)).alias("c"))
    ctx = pair.groupBy("cur").agg(F.sum("c").alias("n"))
    tot = pair.agg(F.sum("c").alias("t"))
    terms = pair.join(F.broadcast(ctx), "cur").crossJoin(
        F.broadcast(tot)
    )
    p_joint = F.col("c").cast("double") / F.col("t")
    return terms.agg(
        F.max("t").cast("long").alias("n_transitions"),
        F.round(
            -F.sum(
                p_joint
                * F.log(F.col("c").cast("double") / F.col("n"))
            )
            / F.log(F.lit(2.0)),
            4,
        ).alias("entropy_rate_bits"),
        F.round(
            -F.sum(
                p_joint
                * F.log(F.col("c").cast("double") / F.col("t"))
            )
            / F.log(F.lit(2.0)),
            4,
        ).alias("joint_entropy_bits"),
    )


# ---------------------------------------------------------------------------
# qs268 weighted vocabulary Jaccard between sources
# ---------------------------------------------------------------------------

@query(
    "qs268_weighted_vocab_jaccard",
    oracle="""
    WITH toks AS (
      SELECT source, t AS term
      FROM (SELECT source,
                   unnest(regexp_split_to_array(lower(text), '\\s+'))
                     AS t
            FROM documents)
      WHERE t <> ''),
    cnt AS (SELECT source, term, COUNT(*) AS c FROM toks
            GROUP BY 1, 2),
    pairs AS (
      SELECT a.source AS s1, b.source AS s2,
             SUM(LEAST(a.c, b.c)) AS smin,
             SUM(GREATEST(a.c, b.c)) AS sboth
      FROM cnt a JOIN cnt b
        ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2),
    tot AS (SELECT source, SUM(c) AS tot FROM cnt GROUP BY source),
    only_ AS (
      SELECT p.s1, p.s2, p.smin,
             p.sboth + (x.tot - ps1.shared) + (y.tot - ps2.shared)
               AS smax
      FROM pairs p
      JOIN tot x ON p.s1 = x.source
      JOIN tot y ON p.s2 = y.source
      JOIN (SELECT a.source AS s, b.source AS o, SUM(a.c) AS shared
            FROM cnt a JOIN cnt b
              ON a.term = b.term AND a.source <> b.source
            GROUP BY 1, 2) ps1
        ON ps1.s = p.s1 AND ps1.o = p.s2
      JOIN (SELECT a.source AS s, b.source AS o, SUM(a.c) AS shared
            FROM cnt a JOIN cnt b
              ON a.term = b.term AND a.source <> b.source
            GROUP BY 1, 2) ps2
        ON ps2.s = p.s2 AND ps2.o = p.s1)
    SELECT s1, s2, CAST(smin AS BIGINT) AS w_inter,
           CAST(smax AS BIGINT) AS w_union,
           ROUND(CAST(smin AS DOUBLE) / CAST(smax AS DOUBLE), 4)
             AS weighted_jaccard
    FROM only_
    """,
)
def qs268(spark: SparkSession, sf: str) -> DataFrame:
    """WEIGHTED vocabulary Jaccard between sources —
    Σ min(c₁,c₂) / (Σ max(c₁,c₂) + mass unique to either side) over
    term counts: qs252's set Jaccard says whether vocabularies
    OVERLAP; this says whether the sources USE the shared words at
    the same rate, so a boilerplate farm that hammers 50 shared
    templates scores near 1 here while its set overlap looks modest.
    The multiset similarity weighted-MinHash approximates at corpus
    scale, computed exactly.

    Determinism: min/max/unique-mass sums are exact integers (the
    union mass adds each side's total minus its shared mass, so
    terms absent from one side contribute their full count); one
    division, 4 dp. Plan: one (source, term) count aggregate feeds
    everything; the term-keyed self-join fans out ≤ |sources| per
    term; totals and shared-mass tables are sources²-sized
    broadcasts."""
    from cds_etl_spark.operators.skew import spread_scan

    d = load_table(spark, sf, "documents")
    # r15 (guide §2.4/§2.5, the qs253 fix): spread the single-file
    # scan and pin the (source, term) count — the pair self-join
    # sides, totals and both shared-mass self-joins all reference it,
    # re-running the scan + tokenize explode + count per reference.
    # The table is vocabulary × sources, bounded.
    toks = spread_scan(d.select("source", "text"), "source").select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "term"
        ),
    ).filter(F.col("term") != "")
    cnt = cut_lineage(  # pin: vocabulary-scale counts — corpus class
        toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    )
    a = cnt.select(
        F.col("source").alias("s1"), "term", F.col("c").alias("c1")
    )
    b = cnt.select(
        F.col("source").alias("s2"), "term", F.col("c").alias("c2")
    )
    pairs = (
        a.join(b, "term")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.sum(F.least("c1", "c2")).alias("smin"),
            F.sum(F.greatest("c1", "c2")).alias("sboth"),
        )
    )
    shared = (
        a.join(
            b.withColumnRenamed("s2", "o").withColumnRenamed(
                "c2", "co"
            ),
            "term",
        )
        .filter(F.col("s1") != F.col("o"))
        .groupBy(F.col("s1").alias("s"), F.col("o"))
        .agg(F.sum("c1").alias("shared"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("tot"))
    out = (
        pairs.join(
            F.broadcast(
                tot.select(
                    F.col("source").alias("s1"),
                    F.col("tot").alias("t1"),
                )
            ),
            "s1",
        )
        .join(
            F.broadcast(
                tot.select(
                    F.col("source").alias("s2"),
                    F.col("tot").alias("t2"),
                )
            ),
            "s2",
        )
        .join(
            F.broadcast(
                shared.select(
                    F.col("s").alias("s1"),
                    F.col("o").alias("s2"),
                    F.col("shared").alias("sh1"),
                )
            ),
            ["s1", "s2"],
        )
        .join(
            F.broadcast(
                shared.select(
                    F.col("o").alias("s1"),
                    F.col("s").alias("s2"),
                    F.col("shared").alias("sh2"),
                )
            ),
            ["s1", "s2"],
        )
    )
    smax = (
        F.col("sboth")
        + (F.col("t1") - F.col("sh1"))
        + (F.col("t2") - F.col("sh2"))
    )
    return out.select(
        "s1",
        "s2",
        F.col("smin").cast("long").alias("w_inter"),
        smax.cast("long").alias("w_union"),
        F.round(
            F.col("smin").cast("double") / smax.cast("double"), 4
        ).alias("weighted_jaccard"),
    )


# ---------------------------------------------------------------------------
# qs285 local clustering coefficient on the supplier co-order graph
# ---------------------------------------------------------------------------


@query(
    "qs285_clustering_coefficient",
    oracle="""
    WITH os AS (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
      FROM lineitem),
    e AS (
      SELECT a.s AS s1, b.s AS s2
      FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    deg AS (
      SELECT s AS node, COUNT(*) AS d FROM (
        SELECT s1 AS s FROM e UNION ALL SELECT s2 FROM e)
      GROUP BY s),
    tri AS (
      SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
      FROM e e1
      JOIN e e2 ON e2.s1 = e1.s2
      JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
    tn AS (
      SELECT v, COUNT(*) AS t FROM (
        SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
      GROUP BY v),
    cc AS (
      SELECT deg.node, deg.d, COALESCE(tn.t, 0) AS t,
             2.0 * COALESCE(tn.t, 0) / (deg.d * (deg.d - 1)) AS cc
      FROM deg LEFT JOIN tn ON tn.v = deg.node
      WHERE deg.d >= 2),
    agg AS (
      SELECT COUNT(*) AS n_nodes, SUM(t) AS t3,
             SUM(d * (d - 1)) AS wedges2, AVG(cc) AS avg_cc
      FROM cc)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(t3 / 3 AS BIGINT) AS n_triangles,
           ROUND(avg_cc, 4) AS avg_clustering,
           ROUND(CAST(t3 AS DOUBLE) / wedges2, 4) AS transitivity
    FROM agg
    """,
)
def qs285(spark: SparkSession, sf: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT over the supplier co-order
    graph (suppliers sharing ≥2 orders — min-support thresholding:
    the raw ≥1 projection DENSIFIES with scale (avg degree ~1800 at
    sf1, ~10¹⁰ triangles — unenumerable by any engine), while
    expected pair support drops ~1/V, so support ≥2 sparsifies
    super-linearly; the qs187 basket projection
    — overlapping per-order cliques, so CC is informative, unlike
    the (lang, n_chars) block graph whose blocks are exact
    cliques): per node cc = 2t/(d(d−1)), reported as the average CC
    (Watts–Strogatz) beside the global transitivity 3·triangles /
    wedges — the local-density counterparts of qs106's global
    triangle count and qs214's assortativity.

    Determinism: edges, degrees, per-node triangle counts and wedge
    counts are exact integers; avg_cc sums ~node-count bounded
    rationals (noise ≪ ROUND 4). Plan: per-order supplier pairs are
    row-local bounded expansion (qs187); per-node triangle counts
    come from ONE native array_intersect per edge over adjacency
    lists — t(v) = ½·Σ_{u∈N(v)} |N(u)∩N(v)| — instead of the
    canonical two-hop triangle join, so nothing triangle-dimension
    is ever materialized (the oracle enumerates triples directly;
    both count each triangle once per member node). Everything
    after is node-dimension-sized. The pair projection is the
    dominant cost and the DAG references it multiple times — pure
    plans re-evaluate per reference, so it is materialized ONCE
    with an eager localCheckpoint (the qs249/components.py
    iterative-graph precedent; the edge table is
    support-thresholded and node-dimension-bounded, far smaller
    than the corpus it projects from)."""
    li = load_table(spark, sf, "lineitem")
    # r15: the pair projection used a distinct + self-join on o — the
    # diamond scanned lineitem twice and paid ~5 exchanges.  The
    # docstring's "row-local bounded expansion" is now literal: ONE
    # exchange groups suppliers per order (collect_set dedups in the
    # same agg), pairs expand row-locally from the sorted set, and the
    # (s1, s2) support count is the only other exchange.
    per_order = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("s")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = per_order.select(
        F.explode_outer(
            F.flatten(
                F.expr(
                    "transform(ss, (x, i) -> transform("
                    "slice(ss, i + 2, size(ss) - i - 1), "
                    "y -> struct(x AS s1, y AS s2)))"
                )
            )
        ).alias("p")
    )
    e = (
        pairs.groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .agg(F.count(F.lit(1)).alias("_w"))
        .filter(F.col("_w") >= 2)
        .select("s1", "s2")
    )
    e = cut_lineage(e)  # pin: corpus-scale edge set
    # r15 second pass: the wedge/closure enumeration materialized 79M
    # wedge rows, 54M triangle rows and a 162M-row explode — on this
    # graph (1000 nodes, 344k edges, 69% dense at sf0.1) the rows ARE
    # the cost.  Per-node triangle participation has a row-free dual:
    #   t(v) = ½ · Σ_{u∈N(v)} |N(u) ∩ N(v)|
    # (each triangle at v is seen by BOTH of its incident edges at v),
    # so ONE native array_intersect per edge over adjacency lists
    # replaces the three-leg join: output is 2·E narrow rows instead
    # of 54M triangle rows (guide §2.3 — shuffle/materialize decisions
    # on lightweight proxies).  Adjacency lists are node-dimension
    # (Σ|ns| = 2E) and this graph SPARSIFIES with scale (support ≥ 2
    # cuts expected degree ~1/V, header docstring), so no hub-row
    # hazard.  Measured at sf0.1: warm 7.0 s → 2.0 s, cold 14.8 → 5.9.
    nbrs = (
        e.select(F.col("s1").alias("node"), F.col("s2").alias("nb"))
        .unionByName(
            e.select(F.col("s2").alias("node"), F.col("s1").alias("nb"))
        )
        .groupBy("node")
        .agg(F.collect_set("nb").alias("ns"))
    )
    # pin: corpus-scale adjacency lists; referenced 3x (deg + both joins)
    nbrs = cut_lineage(nbrs)
    deg = nbrs.select("node", F.size("ns").alias("d"))
    # Pin the per-edge intersect stage: the checkpointed e is tiny on
    # disk, so AQE would coalesce the exchange to ONE task (guide
    # §2.5); the adjacency sides stay AQE-broadcast (no hint — at
    # scale they fall back to SMJ).
    _npart = spark.sparkContext.defaultParallelism * 4
    cnt = (
        e.repartition(_npart, "s1", "s2")
        .join(
            nbrs.select(F.col("node").alias("s1"), F.col("ns").alias("na")),
            "s1",
        )
        .join(
            nbrs.select(F.col("node").alias("s2"), F.col("ns").alias("nb")),
            "s2",
        )
        .select(
            "s1", "s2", F.size(F.array_intersect("na", "nb")).alias("w")
        )
    )
    tn = (
        cnt.select(
            F.explode(
                F.array(
                    F.struct(F.col("s1").alias("v"), F.col("w")),
                    F.struct(F.col("s2").alias("v"), F.col("w")),
                )
            ).alias("x")
        )
        .select(F.col("x.v").alias("v"), F.col("x.w").alias("w"))
        .groupBy("v")
        .agg(F.expr("SUM(w) DIV 2").alias("t"))
    )
    cc = (
        deg.filter(F.col("d") >= 2)
        .join(tn, deg.node == tn.v, "left")
        .select(
            "d",
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
            (
                F.lit(2.0)
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1))
            ).alias("cc"),
        )
    )
    agg = cc.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("t").alias("t3"),
        F.sum(F.col("d") * (F.col("d") - 1)).alias("wedges2"),
        F.avg("cc").alias("avg_cc"),
    )
    # Edge count from degrees (Σd = 2E) — one fewer reference to
    # the expensive pair-projection subplan.
    ecnt = deg.agg(F.expr("SUM(d) DIV 2").alias("n_edges"))
    return agg.crossJoin(F.broadcast(ecnt)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.expr("t3 DIV 3").cast("long").alias("n_triangles"),
        F.round("avg_cc", 4).alias("avg_clustering"),
        F.round(
            F.col("t3").cast("double") / F.col("wedges2"), 4
        ).alias("transitivity"),
    )


# ---------------------------------------------------------------------------
# qs294 rich-club coefficient on the support-≥2 supplier co-order graph
# ---------------------------------------------------------------------------


@query(
    "qs294_rich_club",
    oracle="""
    WITH os AS (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
      FROM lineitem),
    e AS (
      SELECT a.s AS s1, b.s AS s2
      FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    deg AS (
      SELECT s AS node, COUNT(*) AS d FROM (
        SELECT s1 AS s FROM e UNION ALL SELECT s2 FROM e)
      GROUP BY s),
    ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
    club AS (
      SELECT ks.k, deg.node FROM ks JOIN deg ON deg.d > ks.k),
    cn AS (SELECT k, COUNT(*) AS n_k FROM club GROUP BY k),
    ce AS (
      SELECT c1.k, COUNT(*) AS e_k
      FROM e JOIN club c1 ON c1.node = e.s1
             JOIN club c2 ON c2.node = e.s2 AND c2.k = c1.k
      GROUP BY c1.k)
    SELECT cn.k AS k, CAST(cn.n_k AS BIGINT) AS n_nodes,
           CAST(COALESCE(ce.e_k, 0) AS BIGINT) AS n_edges,
           CASE WHEN cn.n_k >= 2 THEN
             ROUND(2.0 * COALESCE(ce.e_k, 0)
                   / (cn.n_k * (cn.n_k - 1.0)), 4)
           ELSE 0.0 END AS phi
    FROM cn LEFT JOIN ce ON ce.k = cn.k ORDER BY cn.k
    """,
)
def qs294(spark: SparkSession, sf: str) -> DataFrame:
    """RICH-CLUB coefficient φ(k) = 2·E_{>k}/(N_{>k}(N_{>k}−1)) on
    the support-≥2 supplier co-order graph (qs285's edges): do the
    highest-degree suppliers preferentially interconnect (φ→1, an
    elite core — concentration risk in the supply network) or not?
    Evaluated at k ∈ {2,4,8,16} — the hub-structure summary beside
    qs214's assortativity (correlation view) and qs285's clustering
    (local-density view).

    Determinism: edges, degrees, club memberships and within-club
    edge counts are exact integers; φ is one double division per k,
    ROUND 4. Plan: the qs187-bounded pair projection is the dominant
    cost and the DAG references it via degrees (which club/cn/c1/c2
    re-reference 3×) plus the within-club edge count — so the edge
    table is materialized ONCE with an eager localCheckpoint (qs285/
    qs249 precedent) and the node-dimension degree aggregate once
    more on top; club joins broadcast the (k, node) list; output is
    4 rows."""
    li = load_table(spark, sf, "lineitem")
    os_ = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    e = (
        os_.alias("x")
        .join(os_.alias("y"), "o")
        .filter(F.col("x.s") < F.col("y.s"))
        .groupBy(F.col("x.s").alias("s1"), F.col("y.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("_w"))
        .filter(F.col("_w") >= 2)
        .select("s1", "s2")
    )
    e = cut_lineage(e)  # pin: corpus-scale edge set
    # Explode-not-union: one reference to the expensive pair
    # projection instead of two (each DAG reference re-evaluates it).
    # Degrees are node-dimension-sized but club/cn/c1/c2 reference
    # them 3x — checkpoint the tiny aggregate too so the explode+agg
    # over the edge table runs once.
    deg = cut_lineage(  # pin: node-dimension degrees (grow with input)
        e.select(F.explode(F.array("s1", "s2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # r15 (guide §3.1): createDataFrame built ks as a PYTHON-RDD-backed
    # scan (applySchemaToPythonRDD, UnknownPartitioning, no stats) —
    # every club join planned as a CartesianProduct over pickled rows
    # and ce ran as TWO sort-merge joins that re-sorted the edge table
    # per execution. A JVM literal fixes the physics, and pinning club
    # (re-referenced by cn/c1/c2) gives AQE accurate sizes so it picks
    # the broadcast itself while club is genuinely small (no explicit
    # hint: club is node-dimension-sized — allowlist policy).
    ks = spark.range(1).select(
        F.explode(
            F.array(F.lit(2), F.lit(4), F.lit(8), F.lit(16))
        ).alias("k")
    )
    club = cut_lineage(  # pin: node-dimension club list (AQE sizes it)
        ks.join(deg, deg.d > ks.k).select("k", "node")
    )
    cn = club.groupBy("k").agg(F.count(F.lit(1)).alias("n_k"))
    c1 = club.select(F.col("k"), F.col("node").alias("s1"))
    c2 = club.select(F.col("k"), F.col("node").alias("s2"))
    ce = (
        e.join(c1, "s1")
        .join(c2, ["k", "s2"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e_k"))
    )
    phi = F.when(
        F.col("n_k") >= 2,
        F.round(
            F.lit(2.0)
            * F.coalesce(F.col("e_k"), F.lit(0))
            / (F.col("n_k") * (F.col("n_k") - F.lit(1.0))),
            4,
        ),
    ).otherwise(F.lit(0.0))
    return (
        cn.join(ce, "k", "left")
        .select(
            "k",
            F.col("n_k").cast("long").alias("n_nodes"),
            F.coalesce(F.col("e_k"), F.lit(0))
            .cast("long")
            .alias("n_edges"),
            phi.alias("phi"),
        )
        .orderBy("k")
    )
