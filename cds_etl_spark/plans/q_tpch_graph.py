"""TPC-H Q3/Q5/Q18 shapes, inverted index, graph (triangles, recursive
CTE), CMS, segment dedup, LSH buckets, fuzzy link, TF-IDF (qs100-qs124) — one family of the declared oracle-checkable
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
from cds_etl_spark.plans.q_dedup_text import _MINHASH_SIG_SQL, _SHINGLES_CTE

@query(
    "qs100_tpch_q3",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*(1-l.l_discount)*10000, 0)
                         AS BIGINT)) AS BIGINT) AS rev_e4,
           o.o_orderdate, o.o_custkey
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_custkey
    """,
)
def qs100(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority) shape: selective 3-way
    customer ⋈ orders ⋈ lineitem star join + revenue aggregation.
    The filtered customer side is broadcast-sized; with ANALYZE stats
    CBO orders the join to reduce the intermediate before lineitem.
    Revenue is summed as exact 1e-4-scaled integers (per-row products
    are bit-identical cross-engine; integer summation removes
    accumulation-order sensitivity)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("bigint")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("date"))
        .join(
            li.filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("date")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_custkey")
        .agg(F.sum(rev).alias("rev_e4"))
        .select("l_orderkey", "rev_e4", "o_orderdate", "o_custkey")
    )


@query(
    "qs101_histogram",
    oracle="""
    WITH b AS (
      SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 1000.0)
                                       / 25000.0) AS BIGINT), -1), 19)
               AS bucket
      FROM orders)
    SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket
    """,
)
def qs101(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram of order totals: 20 uniform 25k buckets
    over [1000, 501000) with clamped under/overflow bins — one
    map-side bucket expression + hash aggregation. (The oracle
    restates the arithmetic manually: DuckDB 1.0 has no
    width_bucket.)"""
    o = load_table(spark, sf, "orders")
    bucket = F.least(
        F.greatest(
            F.floor((F.col("o_totalprice") - 1000.0) / 25000.0).cast("bigint"),
            F.lit(-1),
        ),
        F.lit(19),
    )
    return o.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))


@query(
    "qs102_schema_evolution_union",
    oracle="""
    SELECT n_nationkey AS k, n_name AS name, n_regionkey AS region,
           NULL AS comment_len
    FROM nation
    UNION ALL
    SELECT r_regionkey AS k, r_name AS name, NULL AS region,
           length(r_name) AS comment_len
    FROM region
    """,
)
def qs102(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-evolution union: frames with partially overlapping
    columns align BY NAME with missing columns null-filled
    (unionByName allowMissingColumns) — the append path when a feed
    adds or drops columns between batches, instead of the positional
    union that silently misaligns."""
    n = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("k"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("region"),
    )
    r = load_table(spark, sf, "region").select(
        F.col("r_regionkey").alias("k"),
        F.col("r_name").alias("name"),
        F.length("r_name").cast("long").alias("comment_len"),
    )
    return n.unionByName(r, allowMissingColumns=True)


@query(
    "qs103_tpch_q5",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def qs103(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5: six-table star-with-selection join. The scale shape:
    region/nation/supplier-side dims broadcast (Catalyst picks
    broadcast-hash under the 10 MB threshold; at warehouse scale CBO
    stats drive the same choice), the fact-side orders⋈lineitem join
    shuffles on the shared orderkey, and the c_nationkey = s_nationkey
    equality closes the cycle AFTER the cheap dim reductions instead
    of joining customer×supplier first. Revenue stays double + ROUND 2
    (per-row products are bit-identical across engines; qs10
    precedent)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "qs104_inverted_index",
    oracle="""
    SELECT term,
           COUNT(DISTINCT doc_id) AS df,
           COUNT(*) AS tf,
           MIN(doc_id) AS first_doc
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
          FROM documents)
    WHERE term <> ''
    GROUP BY term
    HAVING COUNT(DISTINCT doc_id) >= 5
    """,
)
def qs104(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index build: tokenize → explode → per-term postings
    stats (document frequency, term frequency, first posting). The
    retrieval-index construction pattern at corpus scale: explode
    carries (doc_id, term) narrow rows, the aggregation shuffles once
    on term, and partial aggregation collapses each partition's
    repeats map-side. Posting LISTS stay out of the result on purpose
    (array outputs break order-insensitive hashing); df/tf/min are the
    mergeable summaries an index shard holds."""
    d = load_table(spark, sf, "documents")
    terms = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term") != "")
    return (
        terms.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("df") >= 5)
    )


@query(
    "qs105_cap_per_group",
    oracle="""
    SELECT source, doc_id, pos
    FROM (SELECT source, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS pos
          FROM documents)
    WHERE pos <= 5
    """,
)
def qs105(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-group cap: keep at most k documents per
    source, chosen by md5-hash order — the 'no domain dominates the
    training mix' operator. Engine-portable determinism (same hash →
    same sample anywhere, no RNG state). Plan (r9): the handful of
    sources made the plain per-source window a 5-task stage over the
    whole corpus; operators/prefix.capped_row_number salts each row
    by a hash of its own order key into 64 sub-partitions, takes the
    per-salt top-k in parallel (superset-preserving prune), and
    ranks only the ≤ 5·64 survivors per source."""
    from cds_etl_spark.operators.prefix import capped_row_number

    d = load_table(spark, sf, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    return capped_row_number(
        d.select("source", "doc_id", h.alias("_h")),
        ["source"],
        ["_h", "doc_id"],
        5,
        out_col="pos",
    ).select("source", "doc_id", F.col("pos").cast("int").alias("pos"))


@query(
    "qs106_cumulative_distinct",
    oracle="""
    WITH firsts AS (
      SELECT event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                ORDER BY ts, event_id) AS visit_rank
      FROM events
    )
    SELECT event_id,
           CAST(SUM(CASE WHEN visit_rank = 1 THEN 1 ELSE 0 END)
                OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM firsts
    """,
)
def qs106(spark: SparkSession, sf: str) -> DataFrame:
    """Running distinct-user count per event type (growth curve).
    COUNT(DISTINCT) isn't a windowable aggregate in either engine; the
    standard two-window rewrite marks each user's first visit
    (row_number over (type, user)) then running-sums the first-visit
    flags — both windows shuffle-partition on keys, no state larger
    than a row ever accumulates."""
    e = load_table(spark, sf, "events")
    w_first = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        "event_id",
        "event_type",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("_f"),
    )
    return flagged.select(
        "event_id", F.sum("_f").over(w_cum).cast("long").alias("cum_users")
    )


@query(
    "qs107_merge_upsert",
    oracle="""
    WITH t AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
         s AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                      o_totalprice * 2 AS o_totalprice, o_orderdate,
                      'MERGED' AS o_orderpriority
               FROM orders WHERE o_orderkey % 10 >= 5)
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey
                ELSE t.o_custkey END AS o_custkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderdate
                ELSE t.o_orderdate END AS o_orderdate,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority
                ELSE t.o_orderpriority END AS o_orderpriority
    FROM t FULL JOIN s ON t.o_orderkey = s.o_orderkey
    WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
               AND s.o_orderstatus = 'F')
    """,
)
def qs107(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO semantics via operators.reconcile.merge_into: a CDC
    batch (keys ending 5-9, doubled price, restamped priority) applied
    onto a target slice (keys ending 0-7) — matched rows take source
    values, matched 'F'-status rows are deleted, unmatched source rows
    insert, untouched target rows pass through. Exercises the keyed
    upsert path the reference's whole-node overwrite model
    (cds-transformation_v1.3.py batch write) cannot express."""
    from cds_etl_spark.operators.reconcile import merge_into

    o = load_table(spark, sf, "orders")
    target = o.filter(F.col("o_orderkey") % 10 < 8)
    source = o.filter(F.col("o_orderkey") % 10 >= 5).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        "o_orderdate",
        F.lit("MERGED").alias("o_orderpriority"),
    )
    return merge_into(
        target,
        source,
        key_cols=["o_orderkey"],
        delete_condition=F.col("o_orderstatus") == "F",
    )


@query(
    "qs108_triangle_count",
    oracle="""
    WITH e AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
               FROM lineitem a
               JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                              AND a.l_suppkey < b.l_suppkey
               GROUP BY 1, 2
               HAVING COUNT(*) >= 3),
         tri AS (SELECT p.s1 AS x, p.s2 AS y, q.s2 AS z
                 FROM e p
                 JOIN e q ON p.s2 = q.s1
                 JOIN e r ON r.s1 = p.s1 AND r.s2 = q.s2)
    SELECT node, COUNT(*) AS triangles
    FROM (SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY node
    """,
)
def qs108(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle counts over the supplier co-occurrence graph
    (suppliers sharing >= 3 orders). The Spark side runs the
    degree-ordered compact-forward algorithm
    (operators.components.triangle_count) whose join fan-out is bounded
    by oriented out-degree — the skew-safe formulation — while the
    oracle enumerates id-ordered triples directly; both count each
    triangle exactly once per member node."""
    from cds_etl_spark.operators.components import triangle_count

    li = load_table(spark, sf, "lineitem")
    # r15: the pair projection was a lineitem self-join — two scans and
    # a join exchange.  One exchange groups suppliers per order
    # (collect_list keeps the oracle's multiset semantics: an order
    # holding a supplier twice contributes each cross pair twice), then
    # pairs expand row-locally from the sorted list; the strict y > x
    # filter reproduces the join's s1 < s2 predicate exactly.
    per_order = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .groupBy("o")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = per_order.select(
        F.explode_outer(
            F.flatten(
                F.expr(
                    "transform(ss, (x, i) -> transform("
                    "filter(slice(ss, i + 2, size(ss) - i - 1), y -> y > x), "
                    "y -> struct(x AS s1, y AS s2)))"
                )
            )
        ).alias("p")
    )
    edges = (
        pairs.groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 3)
        .select("s1", "s2")
    )
    return triangle_count(edges, "s1", "s2")


@query(
    "qs109_tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o.o_orderkey, o_orderdate, o_totalprice,
           big.total_qty
    FROM orders o
    JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 300) big
      ON o.o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def qs109(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): orders whose total lineitem
    quantity exceeds a threshold, with customer attribution. Scale
    shape: the lineitem aggregate is the only big shuffle (map-side
    partial sums collapse ~4 lines/order before the exchange), the
    HAVING filter reduces it to a sliver, the orders join shuffles
    only that sliver, and customer broadcasts. Quantity sums are
    integer-valued doubles — exact in FP, no rounding needed."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    c = load_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
    )


@query(
    "qs110_cms_sketch",
    oracle="""
    SELECT j,
           ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || term), 1, 8))::BIGINT
             % 64 AS bucket,
           COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
          FROM documents) terms,
         (SELECT unnest(range(4)) AS j) js
    WHERE term <> ''
    GROUP BY j, bucket
    """,
)
def qs110(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch (depth 4 x width 64) of the corpus term
    stream — operators.sketches.cms_build. The sketch table itself is
    the query result: because the hash family is engine-portable
    (salted md5 hex), DuckDB rebuilds the exact same 256 counters in
    SQL, giving a mergeable approximate structure a full value-hash
    oracle rather than a rows-only check."""
    from cds_etl_spark.operators.sketches import cms_build

    d = load_table(spark, sf, "documents")
    terms = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    return cms_build(terms, "term", depth=4, width=64)


@query(
    "qs111_segment_dedup",
    oracle="""
    WITH segs AS (
      SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS seg
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    ),
    clean AS (SELECT * FROM segs WHERE seg <> ''),
    blocked AS (
      SELECT seg FROM clean GROUP BY seg
      HAVING COUNT(DISTINCT doc_id) >= 100
    ),
    kept AS (
      SELECT c.* FROM clean c LEFT JOIN blocked b USING (seg)
      WHERE b.seg IS NULL
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
           COALESCE(r.n_kept, 0) AS n_kept
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def qs111(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document boilerplate removal with in-order reassembly
    (operators.dedup.segment_dedup): segments occurring in >= 100
    distinct documents are dropped corpus-wide, every document is
    rebuilt from its surviving segments in original order. The
    blocklist (Zipf head) broadcasts, so the exploded corpus is
    filtered with zero shuffle; reassembly is the one per-document
    shuffle. Word-level segmentation here because the synthetic corpus
    is single-line; the operator takes any separator."""
    from cds_etl_spark.operators.dedup import segment_dedup

    d = load_table(spark, sf, "documents")
    return segment_dedup(
        d, "doc_id", "text", sep=" ", max_doc_frequency=100
    )


def _lsh_bucket_sql(seed: int = 0, n_bits: int = 8, dim: int = 64) -> str:
    """Generate the unrolled DuckDB expression for the hyperplane-LSH
    bucket — same md5-derived sign matrix, same left-to-right double
    summation as the Spark side, so bucket ids are bit-identical."""
    from cds_etl_spark.operators.similarity import lsh_sign_matrix

    signs = lsh_sign_matrix(seed, n_bits, dim)
    bits = []
    for i, row in enumerate(signs):
        terms = " + ".join(
            (
                f"CAST(embedding[{d + 1}] AS DOUBLE)"
                if s > 0
                else f"-CAST(embedding[{d + 1}] AS DOUBLE)"
            )
            for d, s in enumerate(row)
        )
        bits.append(f"CASE WHEN ({terms}) >= 0 THEN {1 << i} ELSE 0 END")
    return " + ".join(bits)


@query(
    "qs112_lsh_buckets",
    oracle=f"""
    SELECT bucket, COUNT(*) AS n, MIN(vec_id) AS min_id
    FROM (SELECT vec_id, CAST({_lsh_bucket_sql()} AS BIGINT) AS bucket
          FROM embeddings)
    GROUP BY bucket
    """,
)
def qs112(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperplane-LSH index build (operators.similarity.
    hyperplane_lsh_assign): 8-bit signed-projection buckets over the
    embedding corpus, histogrammed. Bucketing is a single scan-fused
    projection — no shuffle until the histogram — and the md5-derived
    sign matrix makes the assignment engine-portable: the oracle
    recomputes every bucket bit-identically from generated SQL."""
    from cds_etl_spark.operators.similarity import hyperplane_lsh_assign

    e = load_table(spark, sf, "embeddings")
    return (
        hyperplane_lsh_assign(e, dim=64, n_bits=8)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("vec_id").alias("min_id"),
        )
    )


@query(
    "qs113_recursive_cte",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT c_custkey AS node, c_custkey AS root, CAST(0 AS BIGINT) AS depth
      FROM customer WHERE c_custkey < 10
      UNION ALL
      SELECT c.c_custkey, a.root, a.depth + 1
      FROM customer c JOIN anc a ON c.c_custkey // 10 = a.node
      WHERE c.c_custkey >= 10
    )
    SELECT node, root, depth FROM anc
    """,
)
def qs113(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): root ancestor + depth
    for every node of the derived customer forest (parent = key DIV
    10; contiguous TPC-H keys make it well-formed, depth <= 4).
    Transitive closure / org-chart traversal — the §2.3 capability
    class batch engines historically lacked; Spark executes it as
    iterated joins against the working set, each round a keyed
    shuffle, terminating when a round adds no rows."""
    load_table(spark, sf, "customer").createOrReplaceTempView("v_customer_113")
    return spark.sql("""
    WITH RECURSIVE anc AS (
      SELECT c_custkey AS node, c_custkey AS root, CAST(0 AS BIGINT) AS depth
      FROM v_customer_113 WHERE c_custkey < 10
      UNION ALL
      SELECT c.c_custkey, a.root, a.depth + 1
      FROM v_customer_113 c JOIN anc a ON c.c_custkey DIV 10 = a.node
      WHERE c.c_custkey >= 10
    )
    SELECT node, root, depth FROM anc
    """)


@query(
    "qs114_fuzzy_link",
    oracle="""
    WITH l AS (SELECT c_custkey AS lid, c_name AS lname FROM customer),
         r AS (SELECT c_custkey AS rid,
                      substr(c_name, 1, length(c_name) - 1) || 'X' AS rname
               FROM customer)
    SELECT lid, rid, CAST(levenshtein(lname, rname) AS INTEGER) AS dist
    FROM l JOIN r ON substr(lname, 1, 16) = substr(rname, 1, 16)
    WHERE levenshtein(lname, rname) <= 1
    """,
)
def qs114(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked fuzzy record linkage (operators.reconcile.fuzzy_join):
    link customer names against a last-character-corrupted copy —
    the submitter-typo reconciliation the reference's O5 fuzzy match
    does for columns, applied to rows. Prefix blocking bounds the
    candidate space (only same-prefix names pay the Levenshtein
    refine, which stays JVM-side in codegen); each corrupted name
    legitimately links to every original differing only in the final
    character (any distance-1 match here differs only in the final
    char, so a 16-char prefix block provably loses no matches while
    keeping per-block candidate sets ~100x smaller)."""
    from cds_etl_spark.operators.reconcile import fuzzy_join

    c = load_table(spark, sf, "customer")
    l = c.select(F.col("c_custkey").alias("lid"), F.col("c_name").alias("lname"))
    r = c.select(
        F.col("c_custkey").alias("rid"),
        F.concat(
            F.expr("substring(c_name, 1, length(c_name) - 1)"), F.lit("X")
        ).alias("rname"),
    )
    linked = fuzzy_join(
        l, r, "lname", "rname", max_distance=1,
        block=lambda col: F.substring(col, 1, 16),
    )
    return linked.select(
        "lid", "rid", F.levenshtein("lname", "rname").alias("dist")
    )


@query(
    "qs115_tfidf_top_terms",
    oracle="""
    WITH terms AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                   FROM documents),
    clean AS (SELECT * FROM terms WHERE term <> ''),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM clean GROUP BY doc_id, term),
    idf AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM clean GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM clean)
    SELECT doc_id, term, tfidf FROM (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / idf.df), 4) AS tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / idf.df), 4) DESC,
                        tf.term
             ) AS rn
      FROM tf JOIN idf USING (term) CROSS JOIN n
    ) WHERE rn <= 3
    """,
)
def qs115(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the classic retrieval
    companion to BM25 (qs84). Corpus stats stay in-plan: document
    frequency joins on the term (one shuffle of narrow (doc, term, tf)
    partials), corpus size N rides a broadcast one-row crossJoin, and
    the per-document top-3 is a rank window over the rounded score so
    the ordering is cross-engine exact (round-then-rank, tie-broken by
    term)."""
    d = load_table(spark, sf, "documents")
    clean = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = clean.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = clean.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = clean.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(idf, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "qs116_cohort_retention",
    oracle="""
    WITH f AS (SELECT user_id, MIN(ts) AS f_ts FROM events GROUP BY user_id)
    SELECT CAST(date_trunc('week', f.f_ts) AS DATE) AS cohort_week,
           CAST(date_diff('day', CAST(f.f_ts AS DATE), CAST(e.ts AS DATE)) // 7
                AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def qs116(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention triangle: users cohorted by first-activity
    week, retention = distinct actives per (cohort, week offset) — the
    growth-analytics shape sessionization (qs43) and funnels (qs99)
    don't cover. Two shuffles total: the first-activity aggregate on
    user_id and the (cohort, offset) count-distinct; the user-keyed
    join reuses the first shuffle's partitioning. Both engines truncate
    weeks to ISO Monday, and the offset divides day-diffs (always
    non-negative: f_ts is the user's min) so floor = integer div."""
    e = load_table(spark, sf, "events")
    f = e.groupBy("user_id").agg(F.min("ts").alias("f_ts"))
    return (
        e.join(f, "user_id")
        .select(
            F.date_trunc("week", "f_ts").cast("date").alias("cohort_week"),
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("f_ts").cast("date")) / 7
            )
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# --------------------------------------------------------------------------
# Round-4 additions: TPC-H Q7/Q10, LM scoring, BFS, skyline, signatures,
# Markov transitions, quality-filter chain
# --------------------------------------------------------------------------


@query(
    "qs117_tpch_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*(1-l.l_discount)*10000, 0)
                         AS BIGINT)) AS BIGINT) AS rev_e4
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= DATE '1996-01-01'
      AND l.l_shipdate < DATE '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def qs117(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 (volume shipping) shape: 6-way snowflake join with a
    disjunctive cross-nation predicate. The two nation dims broadcast
    (25 rows); the predicate can only prune AFTER both joins, so the
    plan's big-side work is orders ⋈ lineitem — at 100 TB both ride
    the o/l_orderkey bucketing the bench tables use. Revenue sums as
    exact 1e-4-scaled integers (qs100 pattern); year() CAST to INT on
    the DuckDB side matches Spark's int."""
    s = load_table(spark, sf, "supplier")
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("bigint")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(rev).alias("rev_e4"))
    )


@query(
    "qs118_tpch_q10",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*(1-l.l_discount)*10000, 0)
                         AS BIGINT)) AS BIGINT) AS rev_e4,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY rev_e4 DESC, c.c_custkey
    LIMIT 20
    """,
)
def qs118(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting) shape: quarter-filtered
    orders ⋈ returnflag-filtered lineitem ⋈ customer ⋈ broadcast
    nation, top-20 customers by lost revenue. Ordering is on the exact
    integer revenue with c_custkey tiebreak, so LIMIT keeps identical
    rows cross-engine. The orders-side date filter prunes before the
    lineitem join (at scale: partition pruning on o_orderdate)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    n = load_table(spark, sf, "nation")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("bigint")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
        )
        .join(li.filter(F.col("l_returnflag") == "R"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).alias("rev_e4"))
        .orderBy(F.col("rev_e4").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "rev_e4", "c_acctbal", "n_name")
    )


@query(
    "qs119_bigram_lm",
    oracle="""
    WITH t AS (SELECT doc_id,
        list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents),
    bge AS (
      SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
        SELECT doc_id, unnest(CASE WHEN len(ts) >= 2 THEN
            list_transform(range(1, len(ts)),
                           i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))
          ELSE [] END) AS bg
        FROM t)),
    cbg AS (SELECT w1, w2, COUNT(*) AS c FROM bge GROUP BY w1, w2),
    cctx AS (SELECT w1, COUNT(*) AS c FROM bge GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT term) AS v
          FROM (SELECT unnest(ts) AS term FROM t))
    SELECT bge.doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(ln((cbg.c + 1.0) / (cctx.c + v.v))), 4) AS avg_logp
    FROM bge
    JOIN cbg ON bge.w1 = cbg.w1 AND bge.w2 = cbg.w2
    JOIN cctx ON bge.w1 = cctx.w1
    CROSS JOIN v
    GROUP BY bge.doc_id
    """,
)
def qs119(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus bigram language-model scoring — the perplexity-style
    quality signal LLM data pipelines rank documents by: train
    Laplace-smoothed bigram counts over the corpus, score each doc by
    its mean log P(w_i | w_{i-1}). Bigram construction is a ROW-LOCAL
    array transform (no window, no per-doc shuffle); the model is two
    narrow count aggregates; scoring joins each doc's bigrams to the
    model on the bigram key and the vocab size rides a broadcast
    one-row crossJoin. ROUND(avg, 4) kills accumulation-order noise."""
    d = load_table(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
        ).alias("ts"),
    )
    bge = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> struct(element_at(ts, i) as w1, "
                    "element_at(ts, i + 1) as w2))"
                ),
            ).otherwise(F.array())
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    cbg = bge.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cctx = bge.groupBy("w1").agg(F.count(F.lit(1)).alias("cc"))
    v = toks.select(F.explode("ts").alias("term")).agg(
        F.countDistinct("term").alias("v")
    )
    return (
        bge.join(cbg, ["w1", "w2"])
        .join(cctx, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("cb") + 1.0) / (F.col("cc") + F.col("v")))), 4
            ).alias("avg_logp"),
        )
    )


@query(
    "qs120_graph_bfs",
    oracle="""
    WITH RECURSIVE
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.n_chars = b.n_chars
       AND a.doc_id < b.doc_id),
    edges AS (
      SELECT DISTINCT a, b FROM (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION ALL
        SELECT d2 AS a, d1 AS b FROM pairs) WHERE a <> b),
    seeds AS (SELECT DISTINCT a AS node FROM edges WHERE a % 20 = 0),
    walk(node, lvl) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT e.b, w.lvl + 1
      FROM walk w JOIN edges e ON e.a = w.node
      WHERE w.lvl < 3)
    SELECT node, CAST(MIN(lvl) AS BIGINT) AS level FROM walk GROUP BY node
    """,
)
def qs120(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS (operators/components.bfs_levels) over the
    document blocking graph: minimum hop distance from the seed set
    (doc_id % 20 = 0), 3 hops. The Spark side is textbook frontier
    BFS — one equi-join + visited anti-join per hop, each node emitted
    once at its first level — while the oracle states the same closure
    as a depth-bounded recursive CTE with MIN(level). UNION (not ALL)
    in the oracle bounds the working set; the Spark anti-join is the
    equivalent dedup."""
    from cds_etl_spark.operators.components import bfs_levels

    d = load_table(spark, sf, "documents").alias("a")
    b = load_table(spark, sf, "documents").alias("b")
    pairs = d.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.n_chars") == F.col("b.n_chars"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
    nodes = (
        pairs.select(F.col("d1").alias("node"))
        .unionByName(pairs.select(F.col("d2").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % 20 == 0)
    return bfs_levels(pairs, "d1", "d2", seeds, max_hops=3, directed=False)


@query(
    "qs121_pareto_frontier",
    oracle="""
    SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    """,
)
def qs121(spark: SparkSession, sf: str) -> DataFrame:
    """2-D Pareto frontier (skyline): parts where no other part is both
    cheaper-or-equal and larger-or-equal (strict in one dimension).
    The oracle states it as NOT EXISTS; the Spark plan exploits the
    2-D structure instead of the quadratic self-join: reduce to one
    row per price (max size), a single ordered window computes the
    running max over strictly-smaller prices, and a (price, size) pair
    is on the frontier iff it beats that running max and is its
    price's best. The global window's input is the DISTINCT-price
    aggregate, which is DOMAIN-bounded (2-dp prices in a bounded
    range → ≤ ~120k rows no matter how many parts), not
    corpus-bounded — the corpus itself sees one map-side aggregate
    and one broadcast join back, never an all-pairs join."""
    p = load_table(spark, sf, "part")
    per_price = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("msize")
    )
    w = (
        Window.orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_pairs = (
        per_price.withColumn("prev_max", F.max("msize").over(w))
        .filter(
            F.col("prev_max").isNull() | (F.col("msize") > F.col("prev_max"))
        )
        .select("price", F.col("msize").alias("size"))
    )
    return (
        p.join(
            F.broadcast(frontier_pairs),
            (p["p_retailprice"] == F.col("price"))
            & (p["p_size"] == F.col("size")),
        )
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
    )


@query(
    "qs122_minhash_signatures",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (SELECT doc_id, shset, [{_MINHASH_SIG_SQL}] AS sg FROM sh
            WHERE len(shset) > 0)
    SELECT doc_id,
           sg[1]||','||sg[2]||','||sg[3]||','||sg[4]||','||sg[5]||','||sg[6]
           ||','||sg[7]||','||sg[8]||','||sg[9]||','||sg[10]||','||sg[11]
           ||','||sg[12] AS sig_csv
    FROM sig
    """,
)
def qs122(spark: SparkSession, sf: str) -> DataFrame:
    """Raw MinHash signatures as a queryable surface (the index-build
    artifact qs55 consumes): 12 md5-slice min-hashes per document,
    emitted as a CSV string so the byte-exact cross-engine equality of
    the signature machinery itself is driver-checked — not just the
    pair decisions derived from it. Pure scan-fused projection; no
    shuffle at all."""
    from cds_etl_spark.functions.text import (
        minhash_digest,
        minhash_from_digests,
        word_shingles_from_tokens,
    )

    # r15: spread the single-file scan (the md5 minhash projection ran
    # in one task), and filter on the cheap token-count predicate --
    # shingles are empty iff the doc has < 3 tokens, and a filter on
    # `_sh` would push below the projection with the interpreted
    # shingle transform substituted in (evaluated once more per row).
    # The tokens are staged as a column: inline, the split would sit
    # inside the shingle transform's lambda and re-split the document
    # at every shingle position.
    d = spread_scan(load_table(spark, sf, "documents"), "doc_id")
    sh = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
        .filter(F.size("_toks") >= 3)
        .select("doc_id", word_shingles_from_tokens(F.col("_toks"), 3).alias("_sh"))
    )
    digests = sh.select(
        "doc_id", *[minhash_digest(F.col("_sh"), g).alias(f"_d{g}") for g in range(3)]
    )
    return digests.select(
        "doc_id",
        F.array_join(
            minhash_from_digests([F.col(f"_d{g}") for g in range(3)], 12), ","
        ).alias("sig_csv"),
    )


@query(
    "qs123_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events),
    c AS (SELECT cur, nxt, COUNT(*) AS n FROM seq
          WHERE nxt IS NOT NULL GROUP BY cur, nxt)
    SELECT cur, nxt, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY cur), 4) AS p
    FROM c
    """,
)
def qs123(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), the session-model
    companion to sessionize (qs43) and funnel (qs99). One window
    shuffle keyed on user_id orders each user's history (event_id
    tiebreak makes simultaneous events deterministic); the count
    aggregate and per-row normalization are narrow over the 5x5
    transition space."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    wn = Window.partitionBy("cur")
    return c.select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wn), 4).alias("p"),
    )


@query(
    "qs124_quality_filter",
    oracle="""
    WITH t AS (SELECT doc_id,
        list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents),
    m AS (SELECT doc_id, len(ts) AS n_tok,
        len(list_filter(ts, x -> list_contains(
          ['the','a','an','of','and','to','in','is','it','that'], x)))
          AS n_stop,
        len(list_distinct(ts)) AS n_uniq
      FROM t)
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
      ROUND(CAST(n_stop AS DOUBLE) / n_tok, 4) AS stop_ratio,
      ROUND(CAST(n_uniq AS DOUBLE) / n_tok, 4) AS distinct_ratio,
      CASE WHEN n_tok < 10 THEN 'too_short'
           WHEN CAST(n_stop AS DOUBLE) / n_tok < 0.05 THEN 'low_stopword'
           WHEN CAST(n_uniq AS DOUBLE) / n_tok < 0.3 THEN 'repetitive'
           ELSE 'pass' END AS verdict
    FROM m WHERE n_tok > 0
    """,
)
def qs124(spark: SparkSession, sf: str) -> DataFrame:
    """C4/Gopher-style quality-filter chain with per-document verdicts:
    token count, stopword ratio, distinct-token ratio, and the FIRST
    failing rule as the rejection reason. Entirely scan-fused row-local
    array expressions (the stopword list is a literal array, not a
    join) — the shape of a 100 TB corpus filter is a single pass with
    zero shuffles. Ratios are exact IEEE divisions of integers, so the
    4-dp rounding is engine-stable."""
    d = load_table(spark, sf, "documents")
    stop = F.array(*[F.lit(x) for x in
                     ("the", "a", "an", "of", "and", "to", "in", "is", "it",
                      "that")])
    m = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
        ).alias("ts"),
    ).select(
        "doc_id",
        F.size("ts").cast("long").alias("n_tok"),
        F.size(
            F.filter(F.col("ts"), lambda x: F.array_contains(stop, x))
        ).alias("n_stop"),
        F.size(F.array_distinct("ts")).alias("n_uniq"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    distinct_ratio = F.col("n_uniq").cast("double") / F.col("n_tok")
    return m.filter(F.col("n_tok") > 0).select(
        "doc_id",
        "n_tok",
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.when(F.col("n_tok") < 10, "too_short")
        .when(stop_ratio < 0.05, "low_stopword")
        .when(distinct_ratio < 0.3, "repetitive")
        .otherwise("pass")
        .alias("verdict"),
    )


