"""Remaining TPC-H shapes + the LLM-pipeline corpus block: mixing
weights, duplicate spans, Gopher rules, PII, DSIR, BPE, SemDeDup,
temperature mixing, sketches (qs125-qs156) — one family of the declared oracle-checkable
query set. Registration contract, aliasing and cross-engine
rules: cds_etl_spark/plans/registry.py. Split from the former
single queries module with zero query changes; registration
order is preserved by the import order in plans/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.operators.skew import spread_scan
from cds_etl_spark.plans.registry import query
from cds_etl_spark.operators.pin import cut_lineage
from cds_etl_spark.functions.vector import cosine_similarity, dot_product
from cds_etl_spark.plans.q_dedup_text import _JACCARD_SQL, _MINHASH_SIG_SQL, _SHINGLES_CTE

# --------------------------------------------------------------------------
# Round-5 additions: the remaining TPC-H shapes expressible over the
# shipped star schema (no partsupp table; Q4/Q12/Q14/Q19/Q22 adapted to
# the available columns, keeping each query's canonical PLAN property —
# the thing worth regression-testing at 100 TB).
# --------------------------------------------------------------------------


@query(
    "qs125_tpch_q4_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
    GROUP BY o_orderpriority
    """,
)
def qs125(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking) shape: EXISTS decorrelates to
    a LEFT SEMI join — the fact side never duplicates however many
    lineitems match, and the semi join degenerates to a distinct-keys
    probe build. The date filter prunes orders before the shuffle."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
        )
        .join(
            li.filter(F.col("l_discount") > 0.05).select("l_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "qs126_tpch_q12_shipmode",
    oracle="""
    SELECT l_returnflag,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def qs126(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 (shipping-modes/priority) shape: fact-fact equi-join
    with the selective filter pushed to the lineitem scan, then a
    conditional two-way count — integer aggregates, no float
    sensitivity. l_returnflag stands in for the schema's missing
    l_shipmode; the plan property (filter-before-join + map-side
    partial agg on a low-cardinality key) is Q12's."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "qs127_tpch_q14_promo",
    oracle="""
    SELECT
      CAST(SUM(CASE WHEN p_type = 'PROMO'
            THEN CAST(ROUND(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS promo_e4,
      CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT))
           AS BIGINT) AS total_e4
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1997-09-01' AND l_shipdate < DATE '1997-10-01'
    """,
)
def qs127(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 (promotion effect) shape: month-sliced lineitem with a
    BROADCAST part join (dimension never shuffles the fact), conditional
    revenue ratio held as exact 1e-4-scaled integer numerator +
    denominator (qs100's cents policy) — the caller divides; the stored
    artifact stays accumulation-order-independent."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("bigint")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-09-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("date"))
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
            .alias("promo_e4"),
            F.sum(rev).alias("total_e4"),
        )
    )


@query(
    "qs128_tpch_q19_disjunctive",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100,0) AS BIGINT))
                AS BIGINT) AS rev_c,
           COUNT(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def qs128(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue) shape: OR-of-ANDs spanning both
    join sides. The single-side conjuncts are derivable per branch —
    Catalyst pushes the disjunction of part-only predicates
    (brand+size) below the join on the part side and the quantity
    disjunction on the lineitem side, so the broadcast join probes a
    pre-filtered fact instead of filtering post-join. Exact-cents sum."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    cond = (
        ((b == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#3") & sz.between(1, 15) & q.between(20, 30))
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("bigint")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(F.sum(rev).alias("rev_c"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "qs129_tpch_q22_antijoin",
    oracle="""
    WITH s AS (
      SELECT CAST(SUM(CAST(ROUND(c_acctbal*100,0) AS BIGINT)) AS BIGINT) AS tot,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0)
    SELECT c_mktsegment, COUNT(*) AS numcust,
           CAST(SUM(CAST(ROUND(c_acctbal*100,0) AS BIGINT)) AS BIGINT) AS totbal_c
    FROM customer, s
    WHERE CAST(ROUND(c_acctbal*100,0) AS BIGINT) * s.n > s.tot
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    GROUP BY c_mktsegment
    """,
)
def qs129(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 (global-sales-opportunity) shape: above-average
    account balance via a broadcast one-row aggregate, NOT EXISTS as a
    LEFT ANTI join (here against big-ticket orders — every customer has
    SOME order in this data, so Q22's "no orders at all" would be
    degenerate). The average threshold compares in EXACT integer space
    (cents*count > total-cents) — a float mean differs in the last ulp
    between engines and could flip a boundary customer; the integer
    cross-multiplication cannot. c_mktsegment stands in for the
    schema's missing phone-prefix grouping."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    stats = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(cents).alias("tot"), F.count(F.lit(1)).alias("n"))
    )
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(cents * F.col("n") > F.col("tot"))
        .join(
            o.filter(F.col("o_totalprice") > 400000).select("o_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(cents).alias("totbal_c"),
        )
    )


@query(
    "qs130_tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100,0) AS BIGINT))
                  AS BIGINT) AS total_c
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
      GROUP BY l_suppkey),
    mx AS (SELECT MAX(total_c) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name, r.total_c
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey, mx
    WHERE r.total_c = mx.m
    """,
)
def qs130(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 (top supplier) shape: quarterly revenue per supplier,
    then the argmax via a broadcast one-row MAX — the "create view +
    self-compare" formulation without materializing a view twice. The
    supplier dim broadcasts; revenue is exact cents so the MAX
    comparison cannot split ties differently across engines."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("bigint")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev_c).alias("total_c"))
    )
    mx = rev.agg(F.max("total_c").alias("m"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_c") == F.col("m"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_c")
    )


@query(
    "qs131_tpch_q17_small_qty",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS qsum_c,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT)) AS BIGINT)
             AS rev_c,
           COUNT(*) AS n_small
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND CAST(ROUND(l.l_quantity*100,0) AS BIGINT) * 5 * pa.n < pa.qsum_c
    """,
)
def qs131(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue) shape: the correlated
    per-part average decorrelates to one aggregate over lineitem joined
    back on the part key. The threshold l_quantity < 0.2*avg compares
    as exact integers (qty_cents * 5 * count < sum_cents) — no float
    mean crosses the comparison. Brand filter prunes the part side to
    broadcast size; the per-part aggregate joins on the same key the
    probe side already shuffles on."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    qty_c = F.round(F.col("l_quantity") * 100, 0).cast("bigint")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        F.sum(qty_c).alias("qsum_c"), F.count(F.lit(1)).alias("n")
    )
    prc_c = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    return (
        li.join(
            p.filter(F.col("p_brand") == "Brand#23"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(pa, F.col("pa_partkey") == F.col("l_partkey"))
        .filter(qty_c * 5 * F.col("n") < F.col("qsum_c"))
        .agg(F.sum(prc_c).alias("rev_c"), F.count(F.lit(1)).alias("n_small"))
    )


@query(
    "qs132_tpch_q21_sole_fault",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey AND l1.l_returnflag = 'R'
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def qs132(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting) shape, adapted to
    the shipped columns (l_returnflag='R' plays the late-delivery
    marker; the schema has no commit/receipt dates): per returned line
    of a finalized order, EXISTS another supplier on the order (semi
    join) and NOT EXISTS another supplier who also returned (anti
    join). Both correlated subqueries decorrelate onto the SAME
    (l_orderkey) shuffle key as the main fact — three co-partitioned
    passes over lineitem, no per-row probing. Top-20 compiles to
    TakeOrderedAndProject."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    o = load_table(spark, sf, "orders")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    return (
        l1.join(
            o.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .join(
            l2,
            (F.col("o2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("o3") == F.col("l_orderkey")) & (F.col("s3") != F.col("l_suppkey")),
            "left_anti",
        )
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "qs133_tpch_q11_heavy_parts",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS BIGINT)
               AS value_c
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(value_c) AS BIGINT) AS t, COUNT(*) AS nparts FROM pv)
    SELECT pv.l_partkey AS p_partkey, pv.value_c
    FROM pv, tot
    WHERE pv.value_c * tot.nparts * 10 > tot.t * 11
    """,
)
def qs133(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 (important stock) shape on the shipped schema:
    per-part traded value, keep parts whose value exceeds 1.1x the
    mean part value (the uniform part mix caps the max near 1.2x —
    2x would be degenerate) — the group-aggregate-vs-global-scalar
    pattern. The threshold (value/total > 1.1/nparts) cross-multiplies
    into exact integer space like qs129/qs131; the one-row total
    broadcasts."""
    li = load_table(spark, sf, "lineitem")
    prc_c = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    pv = li.groupBy("l_partkey").agg(F.sum(prc_c).alias("value_c"))
    tot = pv.agg(
        F.sum("value_c").alias("t"), F.count(F.lit(1)).alias("nparts")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("value_c") * F.col("nparts") * 10 > F.col("t") * 11)
        .select(F.col("l_partkey").alias("p_partkey"), "value_c")
    )


@query(
    "qs134_corpus_mixing_weights",
    oracle="""
    WITH g AS (SELECT lang, source, COUNT(*) AS cnt FROM documents
               GROUP BY lang, source),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                   COUNT(*) AS n_groups FROM g)
    SELECT g.lang, g.source, g.cnt,
           CAST((1000000 * tot.total) // (tot.n_groups * g.cnt) AS BIGINT)
             AS weight_e6
    FROM g, tot
    """,
)
def qs134(spark: SparkSession, sf: str) -> DataFrame:
    """Training-corpus mixing weights: per-(lang, source) resampling
    weight that flattens the corpus toward a uniform group mix —
    weight ∝ target_share / actual_share, held as an exact integer
    (1e6-scaled floor division) so both engines agree bit-for-bit.
    The classic pre-training data-mixing step (cf. temperature-based
    sampling in multilingual LM training); composes with
    qs97_weighted_sample to materialize the resample."""
    d = load_table(spark, sf, "documents")
    g = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("cnt"))
    tot = g.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_groups")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "cnt",
            # Integer `div`, not floor(double /): past 2^53 total docs a
            # correctly-rounded double quotient can land on the next
            # integer and disagree with DuckDB's exact `//` by 1.
            F.expr("1000000 * total div (n_groups * cnt)")
            .cast("bigint")
            .alias("weight_e6"),
        )
    )


@query(
    "qs135_duplicate_spans",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    kg AS (SELECT doc_id, g.i AS pos,
             md5(array_to_string(toks[g.i:g.i+9], ' ')) AS h
           FROM tok, (SELECT unnest(range(1, 100000)) AS i) g
           WHERE g.i + 9 <= len(toks)),
    dup AS (SELECT h FROM kg GROUP BY h
            HAVING COUNT(*) > 1 AND COUNT(DISTINCT doc_id) > 1)
    SELECT kg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(MIN(kg.pos) AS BIGINT) AS first_pos
    FROM kg JOIN dup ON kg.h = dup.h
    GROUP BY kg.doc_id
    """,
)
def qs135(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicated-substring spans (the Lee et al. 2022
    "Deduplicating Training Data" signal, hashed-shingle formulation):
    every 10-token window is hashed map-side; windows whose hash occurs
    in >1 document are cross-document duplicated text — the spans a
    span-level dedup would cut, where whole-document dedup (qs54) sees
    distinct docs. The explode carries (doc, pos, 16-byte hash), never
    the text; the duplicate-hash set is aggregation output, so the
    shuffle is hash-sized — the same economics that replace the
    suffix array at corpus scale. Oracle restates it with a bounded
    position series."""
    # r15 single-pass form (guide §2.4): the old dup-set groupBy +
    # join-back referenced kg twice — pure-plan diamonds re-evaluate
    # per reference, so the gram transform ran twice — and shipped
    # 32-char hex hashes. Now: hash once per window into 16-byte
    # binary (unhex(md5) — internal column, bijective with the hex),
    # pre-aggregate per (h, doc), and decide duplication with ONE
    # h-partitioned window (nd > 1 ⟺ min(doc) ≠ max(doc); no
    # count_distinct-over-window needed). One pinned h exchange
    # serves the groupBy and the window; explode_outer suppresses the
    # implicit size>0 pushdown that re-evaluates the interpreted gram
    # transform at the scan (the explicit token-count filter already
    # guarantees non-empty gram arrays).
    d = spread_scan(load_table(spark, sf, "documents"), "doc_id")
    toks = F.split(F.col("text"), " ")
    k = 10
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.unhex(
                F.md5(
                    F.concat_ws(
                        " ",
                        *[
                            F.element_at(toks, (i + j).cast("int"))
                            for j in range(k)
                        ],
                    )
                )
            ).alias("h"),
        ),
    )
    kg = (
        d.filter(F.size(toks) >= k)
        .select("doc_id", F.explode_outer(grams).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )
    npart = spark.sparkContext.defaultParallelism * 4
    kgd = (
        kg.repartition(npart, "h")
        .groupBy("h", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min("pos").alias("_mp"),
        )
    )
    wh = Window.partitionBy("h")
    return (
        kgd.withColumn("_n", F.sum("_c").over(wh))
        .withColumn("_nd", F.count(F.lit(1)).over(wh))
        .filter((F.col("_n") > 1) & (F.col("_nd") > 1))
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("n_dup_spans"),
            F.min("_mp").cast("long").alias("first_pos"),
        )
    )


@query(
    "qs136_rag_chunks",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    t AS (SELECT doc_id, len(toks) AS n FROM tok WHERE len(toks) > 0),
    c AS (SELECT doc_id, n, g.i AS ci, (g.i - 1) * 96 + 1 AS start_pos
          FROM t, (SELECT unnest(range(1, 100000)) AS i) g
          WHERE g.i <= GREATEST(1, (n + 63) // 96))
    SELECT doc_id, CAST(ci - 1 AS BIGINT) AS chunk_idx,
           CAST(start_pos AS BIGINT) AS start_pos,
           CAST(LEAST(n - start_pos + 1, 128) AS BIGINT) AS chunk_len,
           md5(doc_id || ':' || CAST(ci - 1 AS VARCHAR)) AS chunk_id
    FROM c
    """,
)
def qs136(spark: SparkSession, sf: str) -> DataFrame:
    """RAG-style overlapping chunk manifest: 128-token windows with
    32-token overlap (stride 96) per document — the retrieval-corpus
    preparation step between ingest and embedding. Row-local sequence
    explode (no shuffle at all until a consumer aggregates); chunk ids
    are content-addressed (doc, index) hashes so re-runs are
    idempotent. Differs from qs82 packing (greedy concat across docs
    for training) — chunking never crosses document boundaries.

    Chunk count is the closed form max(1, (n+63)//96) = 1 + ceil((n-128)
    /96) for n>128: a tail window that would sit entirely inside the
    previous chunk's overlap is NOT emitted (it adds no new tokens)."""
    d = load_table(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    size, overlap = 128, 32
    stride = size - overlap
    n = F.size(toks).cast("long")
    n_chunks = F.greatest(
        F.lit(1).cast("long"), F.floor((n + 63) / F.lit(stride)).cast("long")
    )
    idxs = F.sequence(F.lit(0).cast("long"), n_chunks - 1)
    return (
        d.filter(n > 0)
        .select(
            "doc_id",
            n.alias("_n"),
            F.explode(idxs).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * stride + 1).cast("long").alias("start_pos"),
            F.least(
                F.col("_n") - (F.col("chunk_idx") * stride + 1) + 1, F.lit(size)
            ).cast("long").alias("chunk_len"),
            F.md5(
                F.concat_ws(":", F.col("doc_id"), F.col("chunk_idx").cast("string"))
            ).alias("chunk_id"),
        )
    )


@query(
    "qs137_sketch_heavy_hitters",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
                 FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tok, tot
    GROUP BY tok, tot.n
    HAVING COUNT(*) * 1000 >= tot.n
    """,
)
def qs137(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy-hitter tokens (≥ 0.1% of the corpus stream) via the
    two-pass sketch-prune-then-verify pattern that makes corpus-scale
    top-k feasible: a Count-Min sketch (operators/sketches.cms_build —
    its shuffle carries ≤ depth·width rows per map task, independent
    of input size) prunes the candidate set, and an exact count runs
    only over tokens surviving the prune. CMS never underestimates, so
    the candidate set is a superset of the true heavy hitters and the
    verified output is EXACT — which is why this composition can be
    hash-checked against a plain GROUP BY … HAVING oracle while the
    sketch stage itself (qs90-style) cannot. Thresholds compare as
    integer cross-products (cnt*1000 >= total), no float share.

    Pass accounting (r5 review, r16 restructure): the corpus is
    tokenized ONCE and aggregated ONCE to the vocabulary-scale
    (tok, cnt) table; the sketch build (cms_build with
    weight_col="cnt" — Σ of per-token counts lands on exactly the
    (j, bucket) counters that Σ over occurrences produced: same
    longs), the probe and the exact verify are all reads of that
    table. r15 pinned the exploded one-row-per-TOKEN stream — the
    qs155 exploded-materialization lesson says that is the wrong
    thing to pin; the vocab table is orders smaller and carries the
    same information (A/B in fresh sessions at sf0.1: cold parity
    — both forms JIT-dominated on first run — warm 4.5-6.0 s →
    0.9-2.6 s)."""
    from cds_etl_spark.operators.pin import pin_stage
    from cds_etl_spark.operators.sketches import cms_build, cms_estimate
    from cds_etl_spark.operators.skew import spread_scan

    d = load_table(spark, sf, "documents")
    # spread (r15, §2.5): the single-file scan ran the tokenize explode
    # + every partial aggregate in one task. pin (r16): vocabulary-
    # scale counts — corpus class, string-heavy → columnar persist.
    tok_counts = pin_stage(
        spread_scan(d.select("text"))
        .select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt")),
        "corpus",
        via="persist",
    )
    total = d.agg(
        F.sum(F.size(F.split(F.lower(F.col("text")), " ")))
        .cast("long")
        .alias("n")
    )
    sketch = cms_build(tok_counts, "tok", weight_col="cnt")
    candidates = (
        cms_estimate(sketch, tok_counts, "tok")
        .crossJoin(F.broadcast(total))
        .filter(F.col("est") * 1000 >= F.col("n"))
        .select("tok")
    )
    # No hint on `candidates`: at the default width a counter averages
    # n/256 > n/1000, so most tokens clear the prune and the candidate
    # set grows with the vocabulary. Spark picks the join strategy
    # from the sizes it sees.
    return (
        tok_counts.join(candidates, "tok", "left_semi")
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 1000 >= F.col("n"))
        .select("tok", "cnt")
    )


@query(
    "qs138_repetition_rowlocal",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                 FROM documents),
    g AS (SELECT doc_id,
            unnest(list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i+1])) AS gram
          FROM tok WHERE len(toks) >= 2),
    c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram)
    SELECT doc_id, MAX(cnt) AS top_cnt, CAST(SUM(cnt) AS BIGINT) AS n_grams,
           MAX(cnt)::DOUBLE / SUM(cnt)::DOUBLE AS top_fraction
    FROM c GROUP BY doc_id
    """,
)
def qs138(spark: SparkSession, sf: str) -> DataFrame:
    """qs89's repetition signal with the ALTERNATIVE physical strategy
    (the qs52/qs61 pattern — same logical op, different physics, must
    produce identical rows): instead of exploding (doc, gram) pairs
    through two shuffles, the bigram multiset is counted INSIDE each
    row (functions/text.bigram_repetition_stats — the shared builder
    the streaming corpus filter also uses, total for single-token
    docs). Zero shuffles, streaming-safe, same oracle as qs89; the
    token-count gate reproduces qs89's emit-only-gram-bearing-docs
    contract (qs89 is the spread/shuffle variant of the same values;
    this query's declared contract IS the exchange-free plan, so no
    spread_scan here — r16, tests/test_plans.py guards it)."""
    from cds_etl_spark.functions.text import bigram_repetition_stats

    d = load_table(spark, sf, "documents")
    stats = bigram_repetition_stats(F.col("text"))
    # r15 (guide §1.3): gate on the equivalent cheap token-count
    # predicate BEFORE the stats projection — the old `_s.n_grams > 0`
    # post-filter pushed below the projection with the whole struct
    # expression substituted in, evaluating the interpreted aggregate
    # twice per row.
    # n_grams > 0  ⟺  size(split(lower(text), ' ')) >= 2 exactly
    # (n_grams = max(size - 1, 0), functions/text.py).
    return (
        d.select("doc_id", "text")
        .filter(F.size(F.split(F.lower(F.col("text")), " ")) >= 2)
        .select("doc_id", stats.alias("_s"))
        .select(
            "doc_id",
            F.col("_s.top_cnt").alias("top_cnt"),
            F.col("_s.n_grams").alias("n_grams"),
            F.col("_s.top_fraction").alias("top_fraction"),
        )
    )


@query(
    "qs139_tpch_q13_custdist",
    oracle="""
    WITH co AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    """,
)
def qs139(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 (customer distribution) shape: distribution of an
    aggregate — LEFT OUTER join (customers with zero qualifying orders
    must appear as c_count=0, which an inner join silently drops, the
    classic Q13 trap), COUNT of the nullable right key, then a second
    aggregation over the first's output. The join-side filter lives in
    the JOIN CONDITION, not a WHERE (a WHERE would turn the outer join
    inner). All counts — integer-exact. The non-URGENT predicate plays
    the reference's 'not special requests' comment filter (no comment
    column in the shipped schema)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    co = (
        c.join(
            o.filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "qs140_tpch_q8_market_share",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      CAST(SUM(CASE WHEN sn.n_name = 'NATION_7'
            THEN CAST(ROUND(l.l_extendedprice*(1-l.l_discount)*10000,0) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS nation_e4,
      CAST(SUM(CAST(ROUND(l.l_extendedprice*(1-l.l_discount)*10000,0) AS BIGINT))
           AS BIGINT) AS total_e4
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'ASIA'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    GROUP BY year(o.o_orderdate)
    """,
)
def qs140(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 (national market share) shape: the deepest join tree in
    the suite — fact lineitem against orders plus a 5-dim snowflake
    (customer→nation→region filters the MARKET, supplier→nation labels
    the SHARE). Every dimension broadcasts; only the lineitem⋈orders
    fact-fact edge shuffles. The share is held as exact 1e-4-scaled
    integer numerator/denominator per year (qs127's policy) — the
    caller divides."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    s = load_table(spark, sf, "supplier")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("bigint")
    cn = n.alias("cn")
    sn = n.alias("sn")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn.n_nationkey") == F.col("c_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("cn.n_regionkey"),
        )
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn.n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("sn.n_name") == "NATION_7", rev).otherwise(F.lit(0))
            ).alias("nation_e4"),
            F.sum(rev).alias("total_e4"),
        )
    )


@query(
    "qs141_tpch_q6_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 10000, 0)
                         AS BIGINT)) AS BIGINT) AS revenue_e4,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def qs141(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical
    scan-dominated query — three conjunctive predicates, no join, no
    grouping. Its whole value is the PLAN property: every predicate
    must reach the parquet reader (PushedFilters) so row groups prune
    on shipdate/discount/quantity stats and the aggregation sees only
    surviving pages; the 1e-4-scaled integer sum keeps the single
    output row engine-exact. With this, every TPC-H query expressible
    over the shipped schema (no partsupp) has a registered shape:
    Q1,3,4,5,6,7,8,10,11,12,13,14,15,17,18,19,21,22."""
    li = load_table(spark, sf, "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 10000, 0
    ).cast("bigint")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).alias("revenue_e4"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "qs142_duplicate_span_coverage",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    kg AS (SELECT doc_id, g.i AS pos,
             md5(array_to_string(toks[g.i:g.i+9], ' ')) AS h
           FROM tok, (SELECT unnest(range(1, 100000)) AS i) g
           WHERE g.i + 9 <= len(toks)),
    dup AS (SELECT h FROM kg GROUP BY h
            HAVING COUNT(*) > 1 AND COUNT(DISTINCT doc_id) > 1),
    spans AS (SELECT kg.doc_id, kg.pos AS s, kg.pos + 9 AS e
              FROM kg JOIN dup ON kg.h = dup.h),
    isl AS (SELECT doc_id, s, e,
              CASE WHEN s > COALESCE(MAX(e) OVER (
                     PARTITION BY doc_id ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     -1)
                   THEN 1 ELSE 0 END AS new_island
            FROM spans),
    grp AS (SELECT doc_id, s, e,
              SUM(new_island) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            FROM isl),
    merged AS (SELECT doc_id, island,
                 MAX(e) - MIN(s) + 1 AS span_len
               FROM grp GROUP BY doc_id, island),
    per_doc AS (SELECT doc_id,
                  CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
                  CAST(COUNT(*) AS BIGINT) AS n_islands
                FROM merged GROUP BY doc_id)
    SELECT p.doc_id, p.dup_tokens, p.n_islands,
           p.dup_tokens::DOUBLE / len(t.toks)::DOUBLE AS coverage
    FROM per_doc p JOIN tok t ON p.doc_id = t.doc_id
    """,
)
def qs142(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated-span COVERAGE per document: qs135 finds the
    cross-document duplicated 10-token windows; this merges each
    document's overlapping windows into maximal islands
    (gaps-and-islands via running-max window — one sort per doc
    partition, no self-join) and reports merged duplicated-token
    counts and the coverage fraction — the per-document statistic a
    span-level dedup (Lee et al. 2022) thresholds on, where qs135
    reports raw window hits. Shuffles: the qs135 hash agg, then ONE
    doc-keyed exchange shared by both window steps and the final
    aggregate (same-key partitioning reused across stages). The
    fraction is exact integer division (engine-safe, qs89 policy);
    span positions stay integers throughout."""
    # r15 single-pass form — same restructure as qs135 (see its
    # comment): hash each window once into 16-byte binary, and mark
    # duplicated windows with ONE h-partitioned window function
    # (count(*) > 1 for repetition, min(doc) ≠ max(doc) for the
    # cross-document requirement) instead of the dup-set groupBy +
    # join-back that re-evaluated the gram transform per reference.
    # Every occurrence row is kept (the islands merge needs each
    # position), so there is no per-(h, doc) pre-aggregation here.
    d = spread_scan(load_table(spark, sf, "documents"), "doc_id")
    toks = F.split(F.col("text"), " ")
    k = 10
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.unhex(
                F.md5(
                    F.concat_ws(
                        " ",
                        *[
                            F.element_at(toks, (i + j).cast("int"))
                            for j in range(k)
                        ],
                    )
                )
            ).alias("h"),
        ),
    )
    kg = (
        d.filter(F.size(toks) >= k)
        .select("doc_id", F.explode_outer(grams).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )
    npart = spark.sparkContext.defaultParallelism * 4
    wh = Window.partitionBy("h")
    spans = (
        kg.repartition(npart, "h")
        .withColumn("_n", F.count(F.lit(1)).over(wh))
        .withColumn("_dmin", F.min("doc_id").over(wh))
        .withColumn("_dmax", F.max("doc_id").over(wh))
        .filter((F.col("_n") > 1) & (F.col("_dmin") < F.col("_dmax")))
        .select(
            "doc_id",
            F.col("pos").alias("s"),
            (F.col("pos") + (k - 1)).alias("e"),
        )
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = (
        spans.withColumn(
            "new_island",
            F.when(
                F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(w_run))
        .groupBy("doc_id", "island")
        .agg((F.max("e") - F.min("s") + 1).alias("span_len"))
        .groupBy("doc_id")
        .agg(
            F.sum("span_len").cast("long").alias("dup_tokens"),
            F.count(F.lit(1)).alias("n_islands"),
        )
    )
    doc_len = d.select("doc_id", F.size(toks).cast("long").alias("_n_toks"))
    return (
        islands.join(doc_len, "doc_id")
        .select(
            "doc_id",
            "dup_tokens",
            "n_islands",
            (
                F.col("dup_tokens").cast("double") / F.col("_n_toks").cast("double")
            ).alias("coverage"),
        )
    )


def _qs143_oracle() -> str:
    # The register CTE of the shared portable-HLL oracle, emitted as a
    # standalone query so the MERGEABLE ARTIFACT (the register table)
    # is itself hash-checked, the way qs110 checks the CMS counter
    # table. Generated from the same module constants as the Spark
    # plan (p=8 -> m=256).
    return """
    WITH h AS (
      SELECT l_returnflag,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 256 AS idx,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 9, 8))::BIGINT
               AS w
      FROM lineitem)
    SELECT l_returnflag, idx,
           CAST(MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END)
                AS INT) AS r
    FROM h GROUP BY l_returnflag, idx
    """


@query("qs143_hll_register_table", oracle=_qs143_oracle())
def qs143(spark: SparkSession, sf: str) -> DataFrame:
    """Portable-HLL REGISTER table per return flag
    (operators/sketches.hll_build, p=8): the mergeable artifact
    itself, as qs110 ships the CMS counter table. This is what a
    100 TB incremental distinct-count pipeline stores per shard/day —
    registers max-merge (hll_merge) without re-reading data, and the
    estimate (qs90) is derivable from any merged subset. Registers
    are integer-exact (md5-derived bucket + bit-length rank), so the
    table hash-checks with no floating point anywhere. Shuffle is
    bounded by groups x 256 rows after map-side partial max."""
    from cds_etl_spark.operators.sketches import hll_build

    # r15 measured and REVERTED (guide §1.5): round-robin spreading
    # the single-file scan costs the local sort-before-repartition +
    # a full-row exchange for a map stage that is ONE cheap md5 per
    # row (warm 1.6 -> 1.9-2.3 s at sf0.1). The one-task partial max
    # is cheaper; real-scale scans split by themselves.
    li = load_table(spark, sf, "lineitem")
    return hll_build(li, "l_returnflag", "l_orderkey", p=8)


@query(
    "qs144_dsir_importance_weights",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    t AS (SELECT doc_id, lang,
            ('0x' || substr(md5(term), 1, 8))::BIGINT % 256 AS b
          FROM tok WHERE term <> ''),
    raw_b AS (SELECT b, COUNT(*) AS c FROM t GROUP BY b),
    tgt_b AS (SELECT b, COUNT(*) AS c FROM t WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT COUNT(*) FROM t) AS n_raw,
                   (SELECT COUNT(*) FROM t WHERE lang = 'en') AS n_tgt),
    lr AS (SELECT r.b,
             CAST(ROUND(ln( ((COALESCE(g.c,0)+1)::DOUBLE/(tot.n_tgt+256)::DOUBLE)
                          / ((r.c+1)::DOUBLE/(tot.n_raw+256)::DOUBLE) )
                        * 1000000) AS BIGINT) AS lr_e6
           FROM raw_b r LEFT JOIN tgt_b g USING (b), tot),
    doc_b AS (SELECT doc_id, b, COUNT(*) AS k FROM t GROUP BY doc_id, b)
    SELECT d.doc_id, CAST(SUM(d.k * lr.lr_e6) AS BIGINT) AS weight_e6,
           CAST(SUM(d.k) AS BIGINT) AS n_tokens
    FROM doc_b d JOIN lr ON d.b = lr.b
    GROUP BY d.doc_id
    """,
)
def qs144(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    per-document log importance weight of a target distribution (the
    'en'-labeled slice) against the raw corpus, over 256 hashed
    unigram buckets with Laplace smoothing.

    Determinism design: the only transcendental (ln) is evaluated at
    256 BUCKET sites, rounded to integer micro-nats there, and each
    document's weight is then an exact integer dot product
    sum(count_b * lr_e6(b)) — accumulation order cannot change it,
    unlike a per-token float log-sum (the qs137 "round at the small
    side, keep the big side integer-exact" pattern). Scale: the
    bucket table is 256 rows (broadcast); shuffles are the (doc,
    bucket) and doc aggregations — never keyed on raw terms. The hash
    is the engine-portable md5 family (sketches module), so DuckDB
    rebuilds identical buckets."""
    d = load_table(spark, sf, "documents")
    t = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
                % 256
            ).alias("b"),
        )
    )
    raw_b = t.groupBy("b").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt_b = (
        t.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    totals = t.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_tgt"),
    )
    lr = (
        raw_b.join(tgt_b, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("c_tgt"), F.lit(0)) + 1).cast("double")
                        / (F.col("n_tgt") + 256).cast("double")
                    )
                    / (
                        (F.col("c_raw") + 1).cast("double")
                        / (F.col("n_raw") + 256).cast("double")
                    )
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lr_e6"),
        )
    )
    doc_b = t.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("k"))
    return (
        doc_b.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("k") * F.col("lr_e6")).alias("weight_e6"),
            F.sum("k").alias("n_tokens"),
        )
    )


@query(
    "qs145_bpe_pair_step",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
    wf AS (SELECT w, COUNT(*) AS freq FROM words WHERE w <> '' GROUP BY w),
    pairs AS (
      SELECT substr(w, g.i, 2) AS pair, freq
      FROM wf, (SELECT unnest(range(1, 64)) AS i) g
      WHERE g.i < length(w)),
    agg AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM pairs GROUP BY pair)
    SELECT pair, cnt FROM agg
    ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def qs145(spark: SparkSession, sf: str) -> DataFrame:
    """One merge-selection step of BPE tokenizer training (Sennrich et
    al. 2016): count adjacent character pairs across the corpus
    weighted by word frequency, return the top-20 candidates — the
    argmax is the pair a BPE trainer would merge next. The word-
    frequency pre-aggregation is the scale move: pair extraction runs
    over DISTINCT words (vocabulary-sized, Zipf-bounded), not over
    every token occurrence, and the final shuffle carries (pair, cnt)
    partials bounded by alphabet². Top-20 compiles to
    TakeOrderedAndProject (per-partition k). Ties break on the pair
    string so the LIMIT is deterministic cross-engine."""
    d = load_table(spark, sf, "documents")
    wf = (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # substring with a dynamic start position needs the SQL form (the
    # Python F.substring takes literal start only). The length guard is
    # load-bearing: Spark's sequence(1, 0) DESCENDS instead of being
    # empty (the qs138 single-char lesson), so 1-char words must be
    # filtered, not relied on to produce an empty pair list.
    pairs = wf.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


@query(
    "qs146_semantic_dedup",
    oracle="""
    WITH k AS (SELECT greatest(10, COUNT(*) // 200) AS n_anchor FROM embeddings),
    c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
               FROM embeddings, k WHERE vec_id < k.n_anchor),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
    scored AS (
      SELECT v.vec_id, v.vv, c.cid,
             ROUND(list_cosine_similarity(v.vv, c.cvec), 6) AS s
      FROM v, c),
    assigned AS (
      SELECT vec_id, vv, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) rn
        FROM scored) WHERE rn = 1),
    dups AS (
      SELECT DISTINCT a.vec_id
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND b.vec_id < a.vec_id
      WHERE ROUND(list_cosine_similarity(a.vv, b.vv), 4) >= 0.4)
    SELECT assigned.vec_id, assigned.cid,
           CAST(CASE WHEN dups.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
    FROM assigned LEFT JOIN dups ON assigned.vec_id = dups.vec_id
    """,
)
def qs146(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup semantic deduplication (operators/dedup.semantic_dedup;
    Abbas et al. 2023): assign every embedding to its nearest anchor,
    then inside each cluster mark every vector that has a lower-id
    neighbour with cosine >= 0.4 as a duplicate. The within-cluster
    blocking is the whole scale story: pair counts are bounded by
    cluster size, never corpus², exactly how the paper's k=50k
    clusters tame LAION-scale dedup — which is why the anchor count
    SCALES with the corpus, k = max(10, n/200) (deterministic
    lowest-vec_id anchors), so mean cluster size stays ~200 and the
    quadratic check is bounded at every sf. Anything fixed (the
    original k=10) re-grows clusters linearly with n — measured
    quadratic blowup at the 200k-vector scale point. The oracle replays the anchor-count rule, assignment,
    and the dup rule bit-identically (rounded cosines)."""
    from cds_etl_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, sf, "embeddings")
    n_anchor = emb.agg(
        F.greatest(F.lit(10), (F.count(F.lit(1)) / 200).cast("long")).alias(
            "n_anchor"
        )
    )
    anchors = (
        emb.join(F.broadcast(n_anchor))
        .filter(F.col("vec_id") < F.col("n_anchor"))
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("cvec"),
        )
    )
    out = semantic_dedup(emb, anchors, threshold=0.4)
    return out.select(
        "vec_id", "cid", F.col("is_dup").cast("long").alias("is_dup")
    )


@query(
    "qs147_gopher_quality_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    f AS (
      SELECT doc_id,
        CASE WHEN len(toks) BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS words_ok,
        CASE WHEN list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks)
               BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS mean_len_ok,
        CASE WHEN len(list_filter(toks, t -> list_contains(
               ['the','and','of','to','in','a','is','that'], t))) >= 2
             THEN 1 ELSE 0 END AS stopwords_ok,
        CASE WHEN len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))::DOUBLE
               / len(toks) >= 0.8 THEN 1 ELSE 0 END AS alpha_ok
      FROM t)
    SELECT doc_id,
           CAST(words_ok AS BIGINT) AS words_ok,
           CAST(mean_len_ok AS BIGINT) AS mean_len_ok,
           CAST(stopwords_ok AS BIGINT) AS stopwords_ok,
           CAST(alpha_ok AS BIGINT) AS alpha_ok,
           CAST(words_ok * mean_len_ok * stopwords_ok * alpha_ok AS BIGINT) AS passed
    FROM f
    """,
)
def qs147(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style quality gate (operators/text_analysis.
    gopher_quality_flags; Rae et al. 2021 rule subset): word-count
    bounds, mean word length, stopword presence, alpha-token fraction,
    and the conjunction — per document, all row-local array algebra
    fused into the scan (zero shuffle; at 100 TB this IS the scan).
    Flags are emitted as 0/1 BIGINT (not BOOLEAN) so the cross-engine
    value hash never depends on engine bool encodings. The mean-length
    comparison is deterministic: integer sums on both sides, one
    correctly-rounded division."""
    from cds_etl_spark.operators.text_analysis import gopher_quality_flags

    d = load_table(spark, sf, "documents")
    flags = gopher_quality_flags(F.col("text"))
    return d.select(
        "doc_id",
        flags["words_ok"].cast("long").alias("words_ok"),
        flags["mean_len_ok"].cast("long").alias("mean_len_ok"),
        flags["stopwords_ok"].cast("long").alias("stopwords_ok"),
        flags["alpha_ok"].cast("long").alias("alpha_ok"),
        flags["pass"].cast("long").alias("passed"),
    )


# Synthetic PII fixture text, built identically in both engines from
# customer columns (the shipped tables carry no real PII — by design;
# the query's subject is the regex surface, not the data).
_PII_TEXT_SQL = (
    "c_name || ' <user' || CAST(c_custkey AS STRING) || '@mail.test> ip 10.' || "
    "CAST(c_custkey % 250 AS STRING) || '.0.' || CAST(c_nationkey % 250 AS STRING) || "
    "CASE WHEN c_custkey % 3 = 0 THEN ' ssn ' || lpad(CAST(c_custkey % 1000 AS STRING), 3, '0') "
    "  || '-' || lpad(CAST(c_nationkey % 100 AS STRING), 2, '0') || '-' "
    "  || lpad(CAST(c_custkey % 10000 AS STRING), 4, '0') ELSE '' END || "
    "CASE WHEN c_custkey % 4 = 0 THEN ' tel ' || lpad(CAST(c_nationkey % 100 AS STRING), 2, '0') "
    "  || '-' || lpad(CAST(c_custkey % 1000 AS STRING), 3, '0') || '-' "
    "  || lpad(CAST(c_nationkey % 1000 AS STRING), 3, '0') || '-' "
    "  || lpad(CAST(c_custkey % 10000 AS STRING), 4, '0') ELSE '' END"
)


@query(
    "qs148_pii_scan_redact",
    oracle=f"""
    WITH t AS (SELECT c_custkey, {_PII_TEXT_SQL} AS txt FROM customer)
    SELECT c_custkey,
      CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_email,
      CAST(len(regexp_extract_all(txt, '[0-9]{{2}}-[0-9]{{3}}-[0-9]{{3}}-[0-9]{{4}}')) AS BIGINT) AS n_phone,
      CAST(len(regexp_extract_all(txt, '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}')) AS BIGINT) AS n_ssn,
      CAST(len(regexp_extract_all(txt, '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}')) AS BIGINT) AS n_ipv4,
      md5(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
              '[0-9]{{2}}-[0-9]{{3}}-[0-9]{{3}}-[0-9]{{4}}', '[PHONE]', 'g'),
            '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}', '[SSN]', 'g'),
          '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}', '[IPV4]', 'g')
      ) AS redacted_h
    FROM t
    """,
)
def qs148(spark: SparkSession, sf: str) -> DataFrame:
    """PII detect + redact (operators/pii): per-category regex match
    counts and the md5 of the redacted text, over a deterministic
    synthetic PII fixture built from customer columns (tables ship no
    real PII). Generalizes the reference's report-only SSN scan
    (cds_transformation_functions.py:284-299) into the detect+redact
    pass a corpus release needs. Patterns live in the RE2∩Java-regex
    subset, so the literal same strings run in Spark and DuckDB — the
    redaction is value-checked cross-engine, not just counted. Pure
    row-local projection: zero shuffle at any scale."""
    from cds_etl_spark.operators.pii import pii_counts, pii_redact

    c = load_table(spark, sf, "customer")
    txt = F.expr(_PII_TEXT_SQL)
    counts = pii_counts(txt)
    return c.select(
        "c_custkey",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ssn"].alias("n_ssn"),
        counts["ipv4"].alias("n_ipv4"),
        F.md5(pii_redact(txt)).alias("redacted_h"),
    )


@query(
    "qs149_temperature_mixing",
    oracle="""
    WITH g AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    mx AS (SELECT MAX(cnt) AS max_cnt FROM g)
    SELECT g.lang, g.cnt,
           CAST(FLOOR(1000000.0 * sqrt(g.cnt::DOUBLE / mx.max_cnt)) AS BIGINT)
             AS weight_e6
    FROM g, mx
    """,
)
def qs149(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based corpus mixing (operators/sampling.
    temperature_weights; Conneau & Lample 2019): per-language sampling
    weight ∝ (n_l / n_max)^0.5 — the α<1 upsampling rule multilingual
    pretraining uses, complementing qs134's uniform-target weights.
    Determinism: α=0.5 routes through IEEE-correctly-rounded sqrt (pow
    is not guaranteed correctly rounded by libm); the operand is one
    exact integer division, so weight_e6 is bit-identical across
    engines. One count aggregate + a broadcast of the max — at 100 TB
    the cost is the scan."""
    from cds_etl_spark.operators.sampling import temperature_weights

    return temperature_weights(
        load_table(spark, sf, "documents"), ["lang"], alpha=0.5
    )


@query(
    "qs150_incremental_minhash_dedup",
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
      SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id
      FROM exploded n JOIN exploded i
        ON n.bi = i.bi AND n.key = i.key
      WHERE n.doc_id % 5 = 4 AND i.doc_id % 5 <> 4
    )
    SELECT cand.new_id, cand.index_id,
      {_JACCARD_SQL.format(a='sa.shset', b='sb.shset')} AS jac
    FROM cand JOIN sh sa ON cand.new_id = sa.doc_id
              JOIN sh sb ON cand.index_id = sb.doc_id
    WHERE jac >= 0.5
    """,
)
def qs150(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental LSH dedup (operators/dedup.minhash_lsh_incremental):
    an arriving batch (doc_id % 5 = 4, ~20%) probes the standing index
    (the rest) for near-duplicates — the production shape of corpus
    dedup, where each ingest checks against the indexed corpus instead
    of re-self-joining it. The batch's band keys BROADCAST against the
    index bands, so the index never shuffles and probe cost scales
    with the batch: the asymmetry that makes continuous dedup viable
    at 100 TB. Same portable md5-sliced signature family as qs55, so
    the oracle rebuilds candidates bit-identically."""
    from cds_etl_spark.operators.dedup import minhash_lsh_incremental

    d = load_table(spark, sf, "documents")
    return minhash_lsh_incremental(
        d.filter(F.col("doc_id") % 5 == 4),
        d.filter(F.col("doc_id") % 5 != 4),
    )


@query(
    "qs151_pq_ann",
    oracle="""
    WITH subsp AS (SELECT unnest(range(0, 4)) AS sub),
    cb AS (
      SELECT subsp.sub, e.vec_id AS code,
             (CAST(e.embedding AS DOUBLE[]))[subsp.sub*16+1 : subsp.sub*16+16] AS cwvec
      FROM embeddings e, subsp WHERE e.vec_id < 8),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
    subs AS (SELECT vec_id, subsp.sub, vv[subsp.sub*16+1 : subsp.sub*16+16] AS sv
             FROM v, subsp),
    scored AS (
      SELECT subs.vec_id, subs.sub, cb.code,
             ROUND(list_dot_product(subs.sv, cb.cwvec), 6) AS d
      FROM subs JOIN cb ON subs.sub = cb.sub),
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d DESC, code) rn
        FROM scored) WHERE rn = 1),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    lut AS (
      SELECT cb.sub, cb.code,
             CAST(ROUND(list_dot_product(cb.cwvec, qv[cb.sub*16+1 : cb.sub*16+16])
                        * 1000000) AS BIGINT) AS e6
      FROM cb, q)
    SELECT c.vec_id, CAST(SUM(l.e6) AS BIGINT) AS score_e6
    FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
    GROUP BY c.vec_id ORDER BY score_e6 DESC, vec_id LIMIT 10
    """,
)
def qs151(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.pq_encode +
    pq_adc_topk; Jégou et al. 2011): 64-dim vectors → 4 sub-spaces ×
    8 deterministic codewords (sub-vectors of vec_id < 8), asymmetric-
    distance top-10 for the vec_id=0 query. Completes the ANN family
    (brute qs52/qs61, IVF qs59, hyperplane-LSH qs112) with the
    memory-bound regime's tool: codes are 4 small ints per vector —
    64× compression — and search touches ONLY the code table plus a
    32-entry broadcast lookup, never the vectors. ADC scores are exact
    integer sums of micro-unit table entries, so ranking is
    accumulation-order-proof; the oracle rebuilds codebooks, codes,
    and the lookup bit-identically."""
    from cds_etl_spark.operators.similarity import pq_adc_topk, pq_encode

    e = load_table(spark, sf, "embeddings")
    cb = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("code"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("embedding").cast("array<double>"), s * 16 + 1, 16)
                    for s in range(4)
                ]
            )
        ).alias("sub", "cwvec"),
    ).select("sub", "code", "cwvec")
    q = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("qvec"))
    )
    codes = pq_encode(e, cb)
    return pq_adc_topk(codes, cb, q, k=10)


def _qs152_oracle(k: int = 3, n_words: int = 64) -> str:
    total_bits = n_words * 32
    bit_j = (
        "('0x' || substr(md5('{j}:' || s), 1, 8))::BIGINT % " + str(total_bits)
    )
    bits_union = " UNION ALL ".join(
        f"SELECT doc_id, s, {bit_j.format(j=j)} AS bit FROM items" for j in range(k)
    )
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
          range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        ELSE [] END AS shset
      FROM t),
    items AS (SELECT doc_id, unnest(shset) AS s FROM sh),
    member_bits AS (
      SELECT bit FROM ({bits_union}) b WHERE doc_id % 10 = 0),
    words AS (
      SELECT bit // 32 AS word, bit_or(1::BIGINT << CAST(bit % 32 AS INTEGER)) AS bits
      FROM member_bits GROUP BY bit // 32),
    probe_bits AS (
      SELECT doc_id, s, bit FROM ({bits_union}) b WHERE doc_id % 10 <> 0),
    tested AS (
      SELECT p.doc_id, p.s,
        CASE WHEN w.bits IS NOT NULL
               AND (w.bits & (1::BIGINT << CAST(p.bit % 32 AS INTEGER))) <> 0
             THEN 1 ELSE 0 END AS bit_set
      FROM probe_bits p LEFT JOIN words w ON p.bit // 32 = w.word),
    hits AS (
      SELECT doc_id, s,
             CASE WHEN SUM(bit_set) = COUNT(*) THEN 1 ELSE 0 END AS hit
      FROM tested GROUP BY doc_id, s)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(hit) AS BIGINT) AS n_flagged
    FROM hits GROUP BY doc_id
    """


@query("qs152_bloom_decontaminate", oracle=_qs152_oracle())
def qs152(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter decontamination (operators/sketches.bloom_build /
    bloom_probe — the BFF shape used by Dolma-scale pipelines): build
    a 64-word × 32-bit filter over the benchmark slice's 3-shingles
    (doc_id % 10 = 0), probe every other document's shingles, report
    per-document shingle and flagged-shingle counts. Completes the
    sketch trio — HLL (distinct), CMS (frequency), Bloom (membership).
    Versus the exact join decontamination (qs83): the filter is ≤64
    rows broadcast EVERYWHERE, so the benchmark corpus itself never
    ships or shuffles — the probe is map-side bit tests, and Bloom's
    no-false-negative guarantee means nothing contaminated escapes
    (false positives only inflate n_flagged, bounded by
    (1-e^{-kn/m})^k). The md5 bit family is the CMS one, so the
    oracle reconstructs the filter word-for-word in SQL."""
    from cds_etl_spark.functions.text import word_shingles_from_tokens
    from cds_etl_spark.operators.sketches import bloom_build, bloom_probe

    from cds_etl_spark.operators.skew import spread_scan

    d = load_table(spark, sf, "documents")
    # r15: spread the single-file scan (the shingle explode ran in ONE
    # task) and explode_outer + NULL drop — the inner explode's
    # implicit `size > 0` pushdown re-evaluated the interpreted shingle
    # transform per row (guide §1.3; the qs83 fix class). The NULL
    # filter sits ABOVE the Generate (it is on the generated column),
    # so short documents drop without re-running the transform. The
    # tokens are staged as a column: inline, the split would sit inside
    # the shingle transform's lambda and re-split the document at every
    # shingle position.
    sh = (
        spread_scan(d.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
        .select(
            "doc_id",
            F.explode_outer(word_shingles_from_tokens(F.col("_toks"), 3)).alias("s"),
        )
        .filter(F.col("s").isNotNull())
    )
    member = sh.filter(F.col("doc_id") % 10 == 0)
    probe = sh.filter(F.col("doc_id") % 10 != 0)
    bloom = bloom_build(member.select("s"), "s")
    hits = bloom_probe(probe, bloom, "s", "doc_id")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("hit").alias("n_flagged"),
    )


@query(
    "qs153_unpivot_measures",
    oracle="""
    WITH m AS (
      SELECT l_returnflag, measure, value FROM (
        SELECT l_returnflag, 'qty' AS measure, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'tax', l_tax FROM lineitem) u)
    SELECT l_returnflag, measure,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS sum_e4
    FROM m GROUP BY l_returnflag, measure
    """,
)
def qs153(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT / melt (DataFrame.unpivot — the inverse of qs16's
    pivot, closing the reshape pair): four lineitem measures melt to
    (returnflag, measure, value) rows, then aggregate per (flag,
    measure). The reference's transpose surface is O16
    (cds_transformation_functions.py:96-118) — pivot one way only;
    wide→long is what a metrics store or per-measure profiler needs.
    Unpivot is a zero-shuffle row-local expand (×4 here — Spark
    compiles it to an Expand node fused into the scan); the one
    shuffle is the 6×4-group aggregate, map-side combined. Sums ride
    the integer-cents contract (×1e4 → BIGINT) so accumulation order
    can't wobble the hash."""
    li = load_table(spark, sf, "lineitem")
    melted = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    ).withColumn(
        "measure",
        F.element_at(
            F.create_map(
                F.lit("l_quantity"), F.lit("qty"),
                F.lit("l_extendedprice"), F.lit("price"),
                F.lit("l_discount"), F.lit("discount"),
                F.lit("l_tax"), F.lit("tax"),
            ),
            F.col("measure"),
        ),
    )
    return melted.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("sum_e4"),
    )


@query(
    "qs154_histogram_quantile_sketch",
    oracle="""
    WITH hist AS (
      SELECT o_orderstatus,
             least(greatest(CAST(FLOOR(o_totalprice / 4096.0) AS BIGINT), 0), 127) AS bucket,
             COUNT(*) AS cnt
      FROM orders GROUP BY 1, 2),
    cum AS (
      SELECT o_orderstatus, bucket,
             SUM(cnt) OVER (PARTITION BY o_orderstatus ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY o_orderstatus) AS total
      FROM hist)
    SELECT o_orderstatus,
           CAST(MAX(total) AS BIGINT) AS total,
           CAST(MIN(CASE WHEN cum >= (total * 50 + 99) // 100 THEN bucket END) * 4096 AS BIGINT) AS q50_lo,
           CAST(MIN(CASE WHEN cum >= (total * 90 + 99) // 100 THEN bucket END) * 4096 AS BIGINT) AS q90_lo,
           CAST(MIN(CASE WHEN cum >= (total * 99 + 99) // 100 THEN bucket END) * 4096 AS BIGINT) AS q99_lo
    FROM cum GROUP BY o_orderstatus
    """,
)
def qs154(spark: SparkSession, sf: str) -> DataFrame:
    """Histogram quantile sketch (operators/sketches.
    histogram_quantile_buckets): P50/P90/P99 bucket lower bounds of
    o_totalprice per order status over fixed 4096-wide buckets — the
    fourth relational sketch (HLL distinct / CMS frequency / Bloom
    membership / histogram QUANTILES). Versus qs63's Greenwald-Khanna
    percentile_approx: fixed boundaries make the sketch mergeable by
    counter addition AND exactly reproducible cross-engine — bucket,
    cumulate, and threshold-pick are pure integer arithmetic (error
    bounded by the bucket width by construction). State is ≤128
    counters per group whatever the input size; the one corpus
    shuffle is map-side-combined (group, bucket) rows."""
    from cds_etl_spark.operators.sketches import histogram_quantile_buckets

    return histogram_quantile_buckets(
        load_table(spark, sf, "orders"),
        "o_orderstatus",
        "o_totalprice",
        bucket_width=4096.0,
        n_buckets=128,
        quantiles=(0.5, 0.9, 0.99),
    )


@query(
    "qs155_token_cooccurrence",
    oracle="""
    WITH t AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents),
    support AS (
      SELECT tok FROM t GROUP BY tok
      HAVING COUNT(DISTINCT doc_id) >= (SELECT COUNT(*) FROM documents) // 20),
    ft AS (SELECT t.doc_id, t.tok FROM t JOIN support USING (tok)),
    pairs AS (
      SELECT a.tok AS t1, b.tok AS t2
      FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok)
    SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pairs GROUP BY t1, t2
    ORDER BY n_docs DESC, t1, t2 LIMIT 20
    """,
)
def qs155(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent token co-occurrence with a-priori support pruning
    (Agrawal & Srikant 1994's first lattice level): tokens appearing
    in ≥5% of documents, pairwise document co-occurrence counts,
    top-20. The pruning IS the scale design: the pair lattice is
    quadratic in the number of FREQUENT tokens per document (31 here),
    never in vocabulary or document length — the monotonicity
    guarantee (a pair can't beat the support of its rarer member)
    makes the prune lossless for any pair meeting the support floor.
    Pair generation is a row-local nested array transform fused into
    the scan (no self-join of the exploded corpus); the only shuffles
    are the support count and the final pair aggregate, and the
    support list broadcasts."""
    d = load_table(spark, sf, "documents")
    exploded = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    )
    total = d.select((F.count(F.lit(1)) / 20).cast("long").alias("_floor"))
    support = (
        exploded.groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("_d"))
        .join(F.broadcast(total))
        .filter(F.col("_d") >= F.col("_floor"))
        .select("tok")
    )
    freq = (
        exploded.join(F.broadcast(support), "tok", "left_semi")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("tok")).alias("fts"))
    )
    pairs = freq.select(
        F.explode(
            F.expr(
                "flatten(transform(fts, (x, i) -> "
                "transform(slice(fts, i + 2, size(fts)), "
                "y -> struct(x AS t1, y AS t2))))"
            )
        ).alias("p")
    ).select("p.t1", "p.t2")
    return (
        pairs.groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "t1", "t2")
        .limit(20)
    )


@query(
    "qs156_robust_outliers",
    oracle="""
    WITH c AS (SELECT o_orderstatus AS st,
                      CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
               FROM orders),
    med AS (SELECT st, quantile_cont(cents, 0.5) AS med FROM c GROUP BY st),
    dev AS (SELECT c.st, c.cents, abs(c.cents - med.med) AS d
            FROM c JOIN med USING (st)),
    mad AS (SELECT st, quantile_cont(d, 0.5) AS mad, COUNT(*) AS n
            FROM dev GROUP BY st)
    SELECT dev.st AS o_orderstatus,
           CAST(MAX(mad.n) AS BIGINT) AS n,
           MAX(med.med) AS med_cents,
           MAX(mad.mad) AS mad_cents,
           CAST(SUM(CASE WHEN dev.d > 4.4478 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev JOIN mad USING (st) JOIN med USING (st)
    GROUP BY dev.st
    """,
)
def qs156(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier profile (median/MAD, the 3-sigma rule's
    skew-proof replacement): per order status, exact median and median
    absolute deviation of integer cents, and the count of rows beyond
    3·1.4826·MAD (1.4826 = the normal-consistency constant). Extends
    the profiling family (qs88 one-pass profile, qs44 exact
    percentiles) with the data-quality gate that survives heavy tails
    — exactly what submitter-supplied numeric columns (the reference's
    validation surface, cds_transformation_functions.py:302-345) need.

    Determinism rides the qs44 contract: quantile interpolation over
    INTEGER cents yields exact .0/.5 doubles in every engine; devs are
    then exact, the MAD is exact .0/.25 multiples, and the one float
    product (4.4478·mad) is a single correctly-rounded multiply on
    identical operands. Plan shape: the per-group medians are
    broadcast-joined back (3-row dimension), so the corpus is scanned
    for grouped aggregation, never self-joined."""
    c = load_table(spark, sf, "orders").select(
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    # r15 (guide §2.4): med fed dev and the final attach (two extra
    # runs of the grouped median over the scan) and dev fed the MAD
    # aggregate AND the outlier count — each re-running the scan +
    # join. Pin the 3-row median table and the narrow (st, d)
    # deviation table once. No scan spread: the grouped-percentile
    # partial buffers merge per partition (the qs239 measured revert).
    # pin: bounded (3-row median table) — localCheckpoint IS the
    # bounded policy (operators/pin.py).
    med = (
        c.groupBy("st")
        .agg(F.percentile("cents", F.lit(0.5)).alias("med"))
        .localCheckpoint(eager=True)
    )
    dev = cut_lineage(  # pin: corpus-scale (row per order)
        c.join(F.broadcast(med), "st").select(
            "st", F.abs(F.col("cents") - F.col("med")).alias("d")
        )
    )
    mad = dev.groupBy("st").agg(
        F.percentile("d", F.lit(0.5)).alias("mad"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        dev.join(F.broadcast(mad), "st")
        .join(F.broadcast(med), "st")
        .groupBy("st")
        .agg(
            F.max("n").alias("n"),
            F.max("med").alias("med_cents"),
            F.max("mad").alias("mad_cents"),
            F.sum(
                F.when(F.col("d") > F.lit(4.4478) * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .withColumnRenamed("st", "o_orderstatus")
    )




# --------------------------------------------------------------------------
# qs314 filter-yield audit: marginal/total/cumulative kill per quality rule
# --------------------------------------------------------------------------

_YIELD_RULES = ("words_ok", "mean_len_ok", "stopwords_ok", "alpha_ok")


@query(
    "qs314_filter_yield_audit",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    f AS (
      SELECT doc_id,
        CASE WHEN len(toks) BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS words_ok,
        CASE WHEN list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks)
               BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS mean_len_ok,
        CASE WHEN len(list_filter(toks, t -> list_contains(
               ['the','and','of','to','in','a','is','that'], t))) >= 2
             THEN 1 ELSE 0 END AS stopwords_ok,
        CASE WHEN len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))::DOUBLE
               / len(toks) >= 0.8 THEN 1 ELSE 0 END AS alpha_ok
      FROM t),
    agg AS (
      SELECT COUNT(*) AS n_docs,
        {", ".join(
            f"SUM(1 - {r}) AS fail_{r}, "
            f"SUM((1 - {r}) * "
            + " * ".join(o for o in _YIELD_RULES if o != r)
            + f") AS only_{r}, "
            + "SUM("
            + " * ".join(_YIELD_RULES[: i + 1])
            + f") AS cum_{r}"
            for i, r in enumerate(_YIELD_RULES))}
      FROM f)
    SELECT u.rule, u.n_fail, u.n_only_fail, u.survivors_cum,
           agg.n_docs AS n_docs
    FROM agg, LATERAL (
      VALUES {", ".join(
          f"('{i + 1}_{r}', CAST(fail_{r} AS BIGINT), CAST(only_{r} AS BIGINT),"
          f" CAST(cum_{r} AS BIGINT))"
          for i, r in enumerate(_YIELD_RULES))}
    ) AS u(rule, n_fail, n_only_fail, survivors_cum)
    ORDER BY rule
    """,
)
def qs314(spark: SparkSession, sf: str) -> DataFrame:
    """FILTER-YIELD AUDIT over the Gopher quality rules (qs147's
    gate): per rule, how many documents it kills in total, how many
    it ALONE kills (marginal value — a rule with zero unique kills
    is redundant), and the cumulative survivor count applying rules
    in their fixed order — the curation dashboard every pretraining
    pipeline reads before committing a filter chain (kill too much
    → data starvation; a rule with no marginal kill → drop it).

    Determinism: every figure is an exact integer count over 0/1
    flags; no doubles anywhere. Plan: the flags are row-local scan
    algebra (qs147), ONE aggregate computes all 13 sums, and the
    4-row unpivot is a row-local stack of the one-row result — at
    100 TB this is one scan + one scalar exchange."""
    from cds_etl_spark.operators.text_analysis import gopher_quality_flags

    d = load_table(spark, sf, "documents")
    flags = gopher_quality_flags(F.col("text"))
    f = d.select(
        *[flags[r].cast("long").alias(r) for r in _YIELD_RULES]
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for i, r in enumerate(_YIELD_RULES):
        others = [o for o in _YIELD_RULES if o != r]
        prod_others = F.lit(1)
        for o in others:
            prod_others = prod_others * F.col(o)
        prod_cum = F.lit(1)
        for o in _YIELD_RULES[: i + 1]:
            prod_cum = prod_cum * F.col(o)
        aggs += [
            F.sum(1 - F.col(r)).alias(f"fail_{r}"),
            F.sum((1 - F.col(r)) * prod_others).alias(f"only_{r}"),
            F.sum(prod_cum).alias(f"cum_{r}"),
        ]
    one = f.agg(*aggs)
    stack_expr = "stack(4, " + ", ".join(
        f"'{i + 1}_{r}', fail_{r}, only_{r}, cum_{r}"
        for i, r in enumerate(_YIELD_RULES)
    ) + ") AS (rule, n_fail, n_only_fail, survivors_cum)"
    return one.select(F.expr(stack_expr), "n_docs").select(
        "rule",
        F.col("n_fail").cast("long").alias("n_fail"),
        F.col("n_only_fail").cast("long").alias("n_only_fail"),
        F.col("survivors_cum").cast("long").alias("survivors_cum"),
        F.col("n_docs").cast("long").alias("n_docs"),
    ).orderBy("rule")
