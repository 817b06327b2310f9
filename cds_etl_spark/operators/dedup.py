"""Deduplication operators for large text corpora.

The LLM-pipeline extension surface (SURVEY.md §7.1 M5): exact dedup,
MinHash+LSH near-dup, SimHash grouping, blocked n-gram Jaccard, and
embedding-cosine near-dup. The reference's only dedup is an in-memory
full-row ``drop_duplicates`` (cds-transformation_v1.3.py:148-152);
these are its corpus-scale generalizations.

Scale design (the part that must survive 100 TB):

* Signatures (shingles → MinHash → band keys) are computed *inside the
  scan projection* as array expressions (functions/text.py) — no
  explode, no Python, no shuffle. A 100 MB document and a 1 KB document
  both contribute H·32 bytes to every downstream shuffle.
* Candidate generation explodes only (id, band_idx, band_key) — 3 small
  columns — and self-joins on the band key. This is the one shuffle,
  and its key space (md5 of band rows) is uniformly distributed, so no
  skew. Identical-text clusters DO collide on every band; dropping
  exact-dup rows first (exact_dedup) bounds bucket sizes.
* The Jaccard refine joins shingle sets back by doc id — a shuffle of
  only candidate ids against the corpus, proportional to candidate
  count, not corpus².
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.operators.pin import cut_lineage

from cds_etl_spark.functions.text import (
    jaccard,
    lsh_band_keys,
    minhash_digest,
    minhash_from_digests,
    simhash_from_hashes,
    token_hashes,
    tokens,
    word_shingles_from_tokens,
)
from cds_etl_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_norm,
)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one surviving (minimum) id
    per distinct text. Hash-partitioned aggregation — the md5 group key
    is computed map-side so the shuffle carries (32-byte hash, id), not
    the text."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(F.col(id_col)).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    min_jaccard: float = 0.5,
    hash_family: str = "portable",
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs with an exact-Jaccard refine.

    shingle → minhash → band → bucket-join → verify, all DataFrame
    algebra. Returns (d1, d2, jac) with d1 < d2 and jac ≥ min_jaccard.

    With H=12, r=3, b=4 the candidate probability is
    1-(1-j³)⁴ — ≈0 for j≤0.2, ≈0.9 for j≥0.8 — so the expensive exact
    refine only ever sees a near-linear number of pairs.

    ``hash_family="fast"`` swaps the md5 oracle family for xxhash64
    (see ``_signature_bands``): candidate sets differ hash-by-hash but
    the exact refine keeps the result a subset of the true >= j pairs
    with the same recall curve — the production knob.
    """
    sh, bands_df = _signature_bands(
        df, id_col, text_col, shingle_k, num_hashes, bands, hash_family
    )
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._bi") == F.col("b._bi"))
            & (F.col("a._key") == F.col("b._key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("d1"), F.col("b._id").alias("d2"))
        .distinct()
    )
    sets = sh.select(F.col("_id"), F.col("_sh"))
    return (
        cand.join(sets.withColumnRenamed("_id", "d1").withColumnRenamed("_sh", "_sa"), "d1")
        .join(sets.withColumnRenamed("_id", "d2").withColumnRenamed("_sh", "_sb"), "d2")
        .select("d1", "d2", jaccard(F.col("_sa"), F.col("_sb")).alias("jac"))
        .filter(F.col("jac") >= min_jaccard)
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Per-document SimHash fingerprint (bits-wide long). Documents
    sharing a fingerprint (or within small Hamming distance, via
    bit_count(a^b)) are near-duplicates. Computed row-local; grouping
    by fingerprint is a single narrow-key aggregation."""
    hashed = df.select(
        F.col(id_col),
        # Hash each token once into a materialized int array; the bits
        # vote aggregates then reuse it instead of re-hashing per bit.
        token_hashes(F.array_distinct(tokens(F.col(text_col)))).alias("_h"),
    )
    return hashed.select(
        F.col(id_col), simhash_from_hashes(F.col("_h"), bits).alias("simhash")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    length_bands: bool = True,
) -> DataFrame:
    """Blocked exact n-gram Jaccard: candidate pairs form only inside
    equality blocks (e.g. same lang) AND matching shingle-count length
    bands, then exact shingle Jaccard filters.

    The length band is part of the JOIN KEY, not a post-filter, so the
    per-block pair space is bounded at corpus scale: bands are
    geometric with base 1/min_jaccard, and since J(A,B) >= t implies
    min(|A|,|B|)/max(|A|,|B|) >= t, a qualifying pair's bands differ by
    at most 1. One side probes {band-1, band, band+1} (a 3x fan-out of
    ids+shingles, not of pairs), which makes the banding EXACT — no
    qualifying pair is lost, including pairs straddling a band
    boundary. Within a (block, band) bucket the candidate set is
    documents of near-equal length only, instead of the whole block
    quadratic. ``length_bands=False`` restores plain block-only
    joining (useful when callers band externally)."""
    if min_jaccard <= 0.0:
        raise ValueError(
            "ngram_jaccard_pairs requires min_jaccard > 0: the pair "
            "join enumerates only pairs sharing at least one shingle "
            "(a threshold of 0 would ask for every block pair "
            "including zero-overlap ones, which is the O(n^2) scan "
            "this operator exists to avoid)."
        )
    t_eff = min(max(min_jaccard, 1e-6), 0.9999)
    sh = (
        df.select(
            F.col(id_col).alias("_id"),
            *[F.col(c) for c in block_cols],
            F.split(F.col(text_col), " ").alias("_toks"),
        )
        .select(
            "_id",
            *[F.col(c) for c in block_cols],
            word_shingles_from_tokens(F.col("_toks"), shingle_k).alias("_sh"),
        )
        .withColumn("_sz", F.size("_sh"))
        .withColumn(
            "_band",
            F.floor(
                F.log(1.0 / t_eff, F.greatest(F.col("_sz"), F.lit(1)))
            ).cast("int"),
        )
    )
    sh = cut_lineage(sh)  # pin: corpus-scale; two join consumers below
    # r15 (guide §2.3/§8): the pair join moves POSTINGS — one narrow
    # (blocks, band, shingle, id, sz) row per shingle occurrence —
    # never the shingle arrays. A pair's intersection size is the
    # COUNT of joined posting rows (shingle sets are distinct), so
    # |∩| falls out of groupBy(d1, d2).count() and |∪| from the
    # carried set sizes; no array_intersect and no array shuffle.
    # Pairs sharing no shingle are absent, which is exact for
    # min_jaccard > 0 (guarded above). explode_outer: plain explode
    # pushes an implicit size > 0 filter below the checkpoint-free
    # paths re-evaluating the shingle transform; NULL postings are
    # dropped by the _g equi-join.
    post = sh.select(
        *[F.col(c) for c in block_cols],
        "_band",
        "_id",
        "_sz",
        F.explode_outer("_sh").alias("_g"),
    )
    if length_bands:
        a = post.withColumn(
            "_probe",
            F.explode(
                F.array(F.col("_band") - 1, F.col("_band"), F.col("_band") + 1)
            ),
        ).alias("a")
    else:
        a = post.alias("a")
    b = post.alias("b")
    cond = (F.col("a._id") < F.col("b._id")) & (
        F.col("a._g") == F.col("b._g")
    )
    if length_bands:
        # Equi-key: exactly one of the three probes equals b's band for
        # any qualifying pair, so each shared shingle contributes
        # exactly one joined row — no duplicates and no lost pairs —
        # and the band key splits hot shingles across length bands.
        cond = cond & (F.col("a._probe") == F.col("b._band"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # Size-ratio prune (semantics-preserving): J(A,B) ≤ min/max set
    # sizes, so a pair with size ratio < min_jaccard can never pass —
    # two integer compares drop the pair's posting rows before the
    # pair ever forms.
    cond = (
        cond
        & (F.col("a._sz") >= F.col("b._sz") * min_jaccard)
        & (F.col("b._sz") >= F.col("a._sz") * min_jaccard)
    )
    scored = (
        a.join(b, cond)
        .groupBy(
            F.col("a._id").alias("d1"),
            F.col("b._id").alias("d2"),
            F.col("a._sz").alias("_sza"),
            F.col("b._sz").alias("_szb"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    union = F.col("_sza") + F.col("_szb") - F.col("_inter")
    return (
        scored.select(
            "d1",
            "d2",
            F.when(
                union > 0, F.col("_inter").cast("double") / union.cast("double")
            ).otherwise(F.lit(0.0)).alias("jac"),
        )
        .filter(F.col("jac") >= min_jaccard)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    min_cosine: float = 0.4,
    allow_full_scan: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on an equality
    column (cluster/label/bucket id). The block join keeps the pair
    space per-block; at 100 TB the block column comes from a coarse
    quantizer (see similarity.ivf_assign) so no O(n²) global join ever
    forms.

    ``block_col=None`` therefore raises: an unblocked call silently
    builds the full O(n²) self-join, which is never the plan you want
    at scale. Derive a block column first (``ivf_assign`` for a
    learned quantizer, ``hyperplane_lsh_assign`` for a data-independent
    one), or
    pass ``allow_full_scan=True`` to explicitly opt in on a dataset
    known to be driver-small (tests, spot-checks)."""
    if block_col is None and not allow_full_scan:
        raise ValueError(
            "embedding_neardup_pairs(block_col=None) builds an O(n^2) "
            "all-pairs self-join. Assign a block column first (e.g. "
            "similarity.ivf_assign or similarity.hyperplane_lsh_assign"
            "), or pass "
            "allow_full_scan=True for a deliberately small input."
        )
    from cds_etl_spark.operators.skew import spread_scan

    v = spread_scan(
        df.select(
            F.col(id_col).alias("_id"),
            *( [F.col(block_col)] if block_col else [] ),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ),
        "_id",
    )
    if dim is not None:
        # Known dimension: norms computed ONCE per row BEFORE the
        # self-join, then ONE HOF dot per pair instead of three HOF
        # passes — bit-identical values (same left-to-right double
        # accumulation). r15 second pass: the dot itself is the HOF
        # form — an unrolled fixed-dim ``element_at`` sum measured
        # ~14x slower per row at dim=64 (codegen bails on the huge
        # expression).
        v = v.withColumn("_vn", l2_norm(F.col("_v")))
        a, b = v.alias("a"), v.alias("b")
        cond = F.col("a._id") < F.col("b._id")
        if block_col:
            cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        return (
            a.join(b, cond)
            .select(
                F.col("a._id").alias("d1"),
                F.col("b._id").alias("d2"),
                (
                    dot_product(F.col("a._v"), F.col("b._v"))
                    / (F.col("a._vn") * F.col("b._vn"))
                ).alias("cos"),
            )
            .filter(F.col("cos") >= min_cosine)
        )
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col("a._id").alias("d1"),
            F.col("b._id").alias("d2"),
            cosine_similarity(F.col("a._v"), F.col("b._v")).alias("cos"),
        )
        .filter(F.col("cos") >= min_cosine)
    )


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    max_doc_frequency: int | None = None,
    first_wins: bool = False,
) -> DataFrame:
    """Sub-document (paragraph/line/segment) dedup with in-order
    reassembly — the CCNet/RefinedWeb-style cleanup the whole-document
    dedup ops above cannot express: boilerplate headers, cookie
    banners, and license blocks repeat across millions of documents
    whose full texts are all distinct.

    Two policies, composable:
    * ``max_doc_frequency=k`` — drop segments occurring in ≥ k distinct
      documents (boilerplate removal). The blocklist is the HEAD of the
      document-frequency distribution — by Zipf a tiny set — so it is
      corpus-bounded (<= rows/threshold by pigeonhole, so the hint is
      omitted and AQE sizes the join) and the corpus-side filter is a LEFT ANTI
      join on the segment hash: the exploded corpus never shuffles.
    * ``first_wins=True`` — keep only the globally-first occurrence
      (min (doc, pos)) of every duplicated segment: one shuffle of the
      narrow (hash, id, pos) stream.

    Returns ``(id_col, clean_text, n_kept)`` for EVERY input document
    (fully-cleaned docs keep a row with empty text — a downstream
    length filter decides their fate, not this operator). Reassembly
    sorts each document's surviving (pos, segment) pairs inside a
    per-document aggregate; segment order never depends on shuffle
    order.

    Scale: exploded rows carry (id, pos, 16-byte segment hash, and the
    segment only on the reassembly path); the reassembly shuffle is the
    unavoidable one — its per-group state is the document being rebuilt.
    """
    segs = (
        df.select(F.col(id_col), F.posexplode(F.split(F.col(text_col), sep)))
        .withColumnRenamed("col", "seg")
        .filter(F.col("seg") != "")
        .withColumn("h", F.md5(F.col("seg")))
    )
    kept = segs
    if max_doc_frequency is not None:
        blocklist = (
            segs.groupBy("h")
            .agg(F.countDistinct(id_col).alias("ndocs"))
            .filter(F.col("ndocs") >= max_doc_frequency)
            .select("h")
        )
        kept = kept.join(blocklist, "h", "left_anti")
    if first_wins:
        winners = kept.groupBy("h").agg(
            F.min(F.struct(id_col, "pos")).alias("w")
        )
        kept = (
            kept.join(winners, "h")
            .filter(
                (F.col(id_col) == F.col("w")[id_col])
                & (F.col("pos") == F.col("w")["pos"])
            )
            .drop("w")
        )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def _signature_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
    hash_family: str = "portable",
) -> tuple[DataFrame, DataFrame]:
    """Shared signature plumbing: (id, shingle-set) and exploded
    (id, band_idx, band_key) frames, both materialized once. The one
    signature path of ``minhash_lsh_pairs``, the incremental check and
    the persisted index — at scale the bands frame IS the persisted
    dedup index.

    ``hash_family``: "portable" = md5-sliced (cross-engine, the oracle
    vehicle); "fast" = xxhash64 (native codegen int64s — the
    production family; sf10 measured ~4x cheaper signatures). The two
    produce different — never mixable — signatures; the exact-Jaccard
    refine downstream is family-independent, so the GUARANTEE class
    (1-(1-j^r)^b candidate recall, exact verify) is identical."""
    rows_per_band = num_hashes // bands
    # The shingle+signature projection is the expensive stage (md5 over
    # every shingle; higher-order fns evaluate interpreted) and it has
    # four consumers downstream (both sides of a band join, both sides
    # of the refine join). The pin materializes it once.
    sh = cut_lineage(  # pin: corpus-scale (shingle arrays per doc)
        df.select(F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_toks"))
        .select("_id", word_shingles_from_tokens(F.col("_toks"), shingle_k).alias("_sh"))
    )
    if hash_family == "fast":
        from cds_etl_spark.functions.text import (
            lsh_band_keys_fast,
            minhash_signature_fast,
        )

        sig = sh.select(
            "_id", minhash_signature_fast(F.col("_sh"), num_hashes).alias("_sig")
        ).select(
            "_id", lsh_band_keys_fast(F.col("_sig"), bands, rows_per_band).alias("_bk")
        )
    else:
        # Digest arrays as real columns: the md5 transforms (the
        # dominant cost) run once per row; the slice/min expressions
        # read the materialized arrays, and the band keys read the
        # materialized signature positionally.
        n_groups = (num_hashes + 3) // 4
        digests = sh.select(
            "_id", *[minhash_digest(F.col("_sh"), g).alias(f"_d{g}") for g in range(n_groups)]
        )
        sig = digests.select(
            "_id",
            minhash_from_digests(
                [F.col(f"_d{g}") for g in range(n_groups)], num_hashes
            ).alias("_sig"),
        ).select("_id", lsh_band_keys(F.col("_sig"), bands, rows_per_band).alias("_bk"))
    # Explode to (id, band_idx, band_key): the only wide payload (_sh)
    # stays behind — rejoined later only for surviving candidates.
    # posexplode_outer, not posexplode: posexplode's implicit
    # `size(_bk) > 0` filter is pushed below the signature projections
    # with the digest transforms substituted in, so every band key's
    # element_at would rebuild all the minima in a non-codegen Filter.
    # `_bk` always has `bands` entries, so the rows are the same.
    bands_df = cut_lineage(  # pin: corpus-scale (band rows per doc)
        sig.select("_id", F.posexplode_outer("_bk").alias("_bi", "_key"))
    )
    return sh, bands_df


def minhash_lsh_incremental(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    min_jaccard: float = 0.5,
    broadcast_batch: bool = True,
    hash_family: str = "portable",
) -> DataFrame:
    """Incremental near-dup check: a NEW batch of documents against an
    already-indexed corpus, without re-pairing the corpus with itself.

    The production dedup loop at 100 TB is never "self-join the whole
    corpus" — it is "each arriving batch probes the standing LSH index"
    (the reference's analogue is the per-workbook dup-ID check,
    cds_transformation_functions.py:209-246, rerun per submission).
    Band keys of the batch join band keys of the index; with
    ``broadcast_batch`` (the default, for the normal batch ≪ index
    regime) the batch broadcasts and the index never shuffles — probe
    cost proportional to the BATCH, not the corpus. Set it False when
    a backfill probes with a batch too large to broadcast (rule of
    thumb: > a few hundred MB of band keys, ~10M docs); the join then
    shuffles both sides on the band key, which is the correct plan at
    that size. Returns (new_id, index_id, jac) with jac >= threshold.
    """
    sh_new, bands_new = _signature_bands(
        new_df, id_col, text_col, shingle_k, num_hashes, bands, hash_family
    )
    sh_idx, bands_idx = _signature_bands(
        index_df, id_col, text_col, shingle_k, num_hashes, bands, hash_family
    )
    return _probe_pairs(
        sh_new, bands_new, sh_idx, bands_idx, min_jaccard, broadcast_batch
    )


def _probe_pairs(
    sh_new: DataFrame,
    bands_new: DataFrame,
    sh_idx: DataFrame,
    bands_idx: DataFrame,
    min_jaccard: float,
    broadcast_batch: bool,
) -> DataFrame:
    """Batch-vs-index candidate join + exact refine over prebuilt
    signature frames — shared by the in-memory incremental path and
    the persisted-index probe."""
    probe_side = bands_new.alias("n")
    if broadcast_batch:
        probe_side = F.broadcast(probe_side)
    cand = (
        bands_idx.alias("i")
        .join(
            probe_side,
            (F.col("i._bi") == F.col("n._bi")) & (F.col("i._key") == F.col("n._key")),
        )
        .select(F.col("n._id").alias("new_id"), F.col("i._id").alias("index_id"))
        .distinct()
    )
    refine_new = sh_new.withColumnRenamed("_id", "new_id").withColumnRenamed("_sh", "_sa")
    if broadcast_batch:
        refine_new = F.broadcast(refine_new)
    return (
        cand.join(
            refine_new,
            "new_id",
        )
        .join(sh_idx.withColumnRenamed("_id", "index_id").withColumnRenamed("_sh", "_sb"), "index_id")
        .select("new_id", "index_id", jaccard(F.col("_sa"), F.col("_sb")).alias("jac"))
        .filter(F.col("jac") >= min_jaccard)
    )


def _is_missing_path(exc) -> bool:
    """True iff an AnalysisException is the missing-input-path
    condition (the only one the "auto" guards may downgrade to the
    legacy-index warning — anything else re-raises, r14 ADVICE)."""
    cond = None
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(exc, attr, None)
        if fn is not None:
            try:
                cond = fn()
            except Exception:
                cond = None
        if cond:
            break
    return cond == "PATH_NOT_FOUND" or "Path does not exist" in str(exc)


def _auto_band_cap(
    spark,
    stats_path: str,
    bound: int,
    probe_name: str,
    build_name: str,
) -> int | None:
    """Shared "auto" policy for the persisted-index probes: read the
    build-time occupancy histogram; arm the cap at ``bound`` (with a
    warning) only when some band key exceeds it; fall back to the
    uncapped legacy output (with a warning) when the index predates
    stats. Returns the resolved ``max_band_entries``.

    Only the missing-path AnalysisException downgrades to the legacy
    warning (r14 ADVICE): a transient IO/permission error or a
    corrupted stats file must surface, not silently disable the
    guard."""
    import warnings

    from pyspark.errors import AnalysisException

    try:
        max_occ = (
            spark.read.parquet(stats_path)
            .agg(F.max("max_occ").alias("m"))
            .collect()[0]["m"]
        )
    except AnalysisException as exc:
        if not _is_missing_path(exc):
            raise
        warnings.warn(
            f"{probe_name}: no band_stats at {stats_path} — index "
            f"predates the r13 self-arming guard; probing UNCAPPED "
            f"(legacy output). Rebuild/compact with {build_name} or "
            f"pass max_band_entries explicitly. "
            f"[{str(exc).splitlines()[0]}]",
            RuntimeWarning,
            stacklevel=3,
        )
        return None
    if max_occ is not None and max_occ > bound:
        warnings.warn(
            f"{probe_name}: hottest band key holds {max_occ} index "
            f"entries (> bound {bound}) — probe output is quadratic "
            f"in template duplication; auto-capping at {bound}. "
            f"Mega-cluster templates belong to exact-hash dedup; see "
            f"the collateral-recall caveat in the probe docstring.",
            RuntimeWarning,
            stacklevel=3,
        )
        return bound
    return None


#: Documented band-occupancy bound for the self-arming hot-band guard
#: (r12 index skew audit → r13 auto-arm). A band key shared by more
#: index entries than this means that many documents agree on an ENTIRE
#: MinHash band — overwhelmingly exact-template mass, whose dedup is
#: exact-hash's job (one linear pass), not the LSH probe's. Probe
#: output per hot key is (batch copies)·(index copies) — the measured
#: 625× pair blowup at a 1% template (BASELINE r12) — so crossing this
#: bound auto-caps the probe with a warning.
DEFAULT_BAND_OCCUPANCY_BOUND = 256


def _write_minhash_stats(counts: DataFrame, path: str) -> None:
    """Materialize merged per-key counts, then overwrite both sidecars:
    ``band_counts`` (the incremental-merge substrate) and the
    ~bands·20-row ``band_stats`` histogram the probe guard reads.
    localCheckpoint breaks lineage BEFORE the overwrite so a refresh
    may read the old counts as its own input without
    self-truncation."""
    counts = cut_lineage(counts)  # pin: corpus-scale (row per band key)
    counts.write.mode("overwrite").parquet(f"{path}/band_counts")
    (
        counts.groupBy(
            "band_idx",
            F.ceil(F.log2("n")).cast("int").alias("occ_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.max("n").alias("max_occ"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/band_stats")
    )


def write_minhash_band_stats(spark, path: str) -> None:
    """(Re)compute the band-occupancy histogram for a persisted MinHash
    index and overwrite ``{path}/band_stats``: one row per (band_idx,
    ⌈log2 occupancy⌉ bucket) with key count and exact max occupancy —
    bands·~20 rows total, read in one footer hit by the probe.

    Cost: one aggregate scan of the bands table — the same class as
    any single probe (which joins against the full bands table), so
    refreshing stats per append batch does not change the ingest
    loop's asymptotics; ``compact_minhash_index`` refreshes them for
    free as part of its rewrite. Also persists the per-key
    ``band_counts`` sidecar so ``append_minhash_band_stats`` (r14)
    can fold later appends in by counter addition instead of
    rescanning the bands table."""
    counts = (
        spark.read.parquet(f"{path}/bands")
        .dropDuplicates()
        .groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _write_minhash_stats(counts, path)


def append_minhash_band_stats(
    spark, path: str, delta_bands: DataFrame
) -> bool:
    """Incrementally fold an appended batch's band rows into the
    persisted stats (r14, VERDICT r13 task 4): per-key occupancies
    merge by addition — delta aggregate (batch-scale) ∪ old
    ``band_counts`` (one narrow row per key) → one sum; no bands-table
    rescan, no full-row dropDuplicates shuffle over the index.
    ``delta_bands`` must carry the appended rows only, id column
    included (full-row dedup mirrors the full path's within-batch
    replay guard before counting). Returns False when no
    ``band_counts`` sidecar exists (legacy index — caller should
    full-refresh).

    EXACTNESS CONTRACT: equal to a full recompute iff the delta's ids
    are disjoint from the index (the ingest loop's probe + anti-join
    invariant). A crash-replayed append double-counts — which can only
    OVER-arm the hot-band guard (safe direction); any compaction or
    ``write_minhash_band_stats`` refresh restores exactness."""
    merged = _append_merged_counts(spark, path, delta_bands)
    if merged is None:
        return False
    _write_minhash_stats(merged, path)
    return True


def _append_merged_counts(
    spark, path: str, delta_bands: DataFrame
) -> DataFrame | None:
    """The append path's merged-counts plan, exposed as a seam so the
    plan-shape test can assert its scale contract directly: the plan
    reads the narrow ``band_counts`` sidecar and the batch-scale
    delta ONLY — never the bands table (the whole point of the r14
    incremental path; tests/test_dedup_banding.py freezes this).
    Returns None when no sidecar exists (legacy index)."""
    from pyspark.errors import AnalysisException

    try:
        old = spark.read.parquet(f"{path}/band_counts")
    except AnalysisException as exc:
        if not _is_missing_path(exc):
            raise
        return None
    delta = (
        delta_bands.dropDuplicates()
        .groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        old.unionByName(delta)
        .groupBy("band_idx", "band_key")
        .agg(F.sum("n").alias("n"))
    )


def build_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    hash_family: str = "fast",
    mode: str = "overwrite",
    band_stats: bool = True,
) -> None:
    """Persist a MinHash-LSH dedup index: two parquet tables under
    ``path`` — ``bands`` (id, band_idx, band_key; partitioned by
    band_idx so a probe prunes to matching band partitions) and
    ``shingles`` (id, shingle set, for the exact refine) — plus a
    tiny ``band_stats`` occupancy histogram (``band_stats=True``,
    the default) that lets ``probe_minhash_index``'s default "auto"
    guard self-arm against hot-template bands instead of relying on
    the caller knowing the ``max_band_entries`` knob exists (r12
    verdict task: the measured 625× pair blowup must not be opt-out
    by ignorance). Pass ``band_stats=False`` to skip the extra
    bands-table aggregate scan (e.g. a high-frequency ingest loop
    that refreshes stats on its compaction cadence instead).

    THIS is the production answer to the measured shingle-explode
    cost (BASELINE r6 corpus notes): shingling + signatures are paid
    ONCE at ingest, not on every dedup run — each arriving batch then
    probes a standing on-disk index (``probe_minhash_index``) and
    appends itself (``mode="append"``). Defaults to the fast
    (xxhash64) family since a persisted index never needs the
    cross-engine oracle; pick ONE family per index and never mix.
    """
    sh, bands_df = _signature_bands(
        df, id_col, text_col, shingle_k, num_hashes, bands, hash_family
    )
    bands_out = bands_df.select(
        F.col("_id").alias(id_col),
        F.col("_bi").alias("band_idx"),
        F.col("_key").alias("band_key"),
    )
    if mode == "append" and band_stats:
        # r14: materialize the delta's band rows once, so the
        # incremental stats merge (append_minhash_band_stats) reuses
        # them without re-running the shingle/signature stage — and
        # without lazily re-reading the path it was just appended to.
        bands_out = cut_lineage(bands_out)  # pin: corpus-scale delta
    bands_out.write.mode(mode).partitionBy("band_idx").parquet(
        f"{path}/bands"
    )
    (
        sh.select(F.col("_id").alias(id_col), F.col("_sh").alias("shingles"))
        .write.mode(mode)
        .parquet(f"{path}/shingles")
    )
    if band_stats:
        spark = df.sparkSession
        if mode == "append" and append_minhash_band_stats(
            spark, path, bands_out
        ):
            return
        # Full recompute from the on-disk table: the overwrite path,
        # or a legacy append target with no band_counts sidecar.
        write_minhash_band_stats(spark, path)


def probe_minhash_index(
    spark,
    new_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    min_jaccard: float = 0.5,
    hash_family: str = "fast",
    broadcast_batch: bool = True,
    max_band_entries: int | str | None = "auto",
    band_occupancy_bound: int = DEFAULT_BAND_OCCUPANCY_BOUND,
) -> DataFrame:
    """Probe a batch against a persisted index (``build_minhash_index``
    with the SAME parameters): returns (new_id, index_id, jac) pairs
    with jac >= threshold. The index is scanned, never re-shingled —
    probe cost is the batch's signatures plus a broadcast join against
    the index's band table.

    ``max_band_entries``: hot-band guard (r12 index skew audit). A
    template duplicated k× in the corpus puts k identical rows under
    EVERY band key, so a probe batch containing the template emits
    k·(batch copies) candidate pairs — quadratic output in the
    duplication rate (measured: 250 probe copies × 5000 index copies
    → 1.25M pairs at sf10). With a cap, band keys whose INDEX-side
    entry count exceeds it are excluded from candidate generation:
    near-dup recall on mega-cluster templates is the job of
    exact-hash dedup (one pass, linear), not the LSH probe.

    ``"auto"`` (default, r13 self-arming): read the tiny
    ``band_stats`` histogram the build wrote; if any band key's
    occupancy exceeds ``band_occupancy_bound``, warn and cap at the
    bound — a healthy index pays one footer read and no extra scan.
    A legacy index without stats warns once and runs uncapped (the
    pre-r13 output, bit for bit). ``None`` = never cap; an int =
    explicit cap, stats ignored.

    CAVEAT (collateral recall, r12 ADVICE): the guard drops ALL
    candidates in a hot band, not just template pairs — a genuine
    near-duplicate whose ONLY matching band (of ``bands``, default 4)
    happens to be hot silently loses that candidate. When hot bands
    can be populated by NON-identical content (e.g. boilerplate
    prefixes shared across distinct documents), raise ``bands`` (more
    independent chances to collide elsewhere) or raise the cap rather
    than relying on exact-hash dedup to catch the loss."""
    sh_new, bands_new = _signature_bands(
        new_df, id_col, text_col, shingle_k, num_hashes, bands, hash_family
    )
    if isinstance(max_band_entries, str) and max_band_entries != "auto":
        # A typo'd string would otherwise flow into the `_n > <str>`
        # filter where Spark's numeric cast yields null → empty hot
        # set → silently uncapped probe (r14 ADVICE).
        raise ValueError(
            f"max_band_entries must be an int, None, or the exact "
            f"string 'auto'; got {max_band_entries!r}"
        )
    if max_band_entries == "auto":
        max_band_entries = _auto_band_cap(
            spark,
            f"{path}/band_stats",
            band_occupancy_bound,
            "probe_minhash_index",
            "build_minhash_index",
        )
    # dropDuplicates = replay guard: a streaming ingest that appends to
    # the index inside foreachBatch may re-append an epoch after a
    # crash-replay; duplicated identical rows would duplicate refine
    # OUTPUT pairs (the candidate distinct() only guards band rows).
    # Content is identical on replay, so keep-any semantics are exact.
    bands_idx = (
        spark.read.parquet(f"{path}/bands")
        .select(
            F.col(id_col).alias("_id"),
            F.col("band_idx").alias("_bi"),
            F.col("band_key").alias("_key"),
        )
        .dropDuplicates()
    )
    if max_band_entries is not None:
        # Hot-band exclusion list: corpus-proportional in the worst
        # case, so the anti-join carries NO broadcast hint (the r12
        # broadcast-audit rule) — AQE sizes it.
        hot = (
            bands_idx.groupBy("_bi", "_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_band_entries)
            .select("_bi", "_key")
        )
        bands_idx = bands_idx.join(hot, ["_bi", "_key"], "left_anti")
    sh_idx = (
        spark.read.parquet(f"{path}/shingles")
        .select(F.col(id_col).alias("_id"), F.col("shingles").alias("_sh"))
        .dropDuplicates(["_id"])
    )
    return _probe_pairs(
        sh_new, bands_new, sh_idx, bands_idx, min_jaccard, broadcast_batch
    )


def semantic_dedup(
    emb: DataFrame,
    anchors: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then drop all
    but one representative from every within-cluster near-duplicate
    group.

    ``anchors`` is a small (cid, cvec) frame: any deterministic anchor
    set, such as qs146's lowest vec_ids. Assignment is a broadcast-scored
    MAX-STRUCT aggregate, not a window: ``max(struct(sim, -cid,
    ...))`` is lexicographic, so partial aggregation collapses the
    C-way crossjoin to ONE row per vector per partition before the
    exchange — the assignment shuffle carries n rows, not C·n (a
    window's row_number would ship the whole crossjoin). Ties resolve
    to the lowest cid, identically on any engine (rounded sims). The
    assigned frame is then materialized once (localCheckpoint): it
    feeds BOTH sides of the pair join and the final output, and
    recomputing it would re-scan the corpus twice more. The quadratic
    cosine check runs WITHIN clusters only, so k sized to
    corpus_size/k ≈ cluster_size bounds pair counts exactly the way
    the paper's k=50k does for LAION. Survivor rule: the lowest id
    whose similarity ties it to no smaller id (keep-first, same
    convention as exact_dedup).

    Returns (vec_id, cid, is_dup) for every input row.

    Both quadratic cosine stages (r15, guide §4.3/§8) compute L2 norms
    ONCE per row/anchor BEFORE the crossjoin and evaluate ONE HOF dot
    per pair instead of three HOF passes (dot + 2 norms) — the same
    left-to-right accumulation and ``dot / (norm * norm)`` op order as
    ``cosine_similarity``, so the doubles are bit-identical. An
    unrolled fixed-width ``element_at`` dot was tried here first: at
    width 64 its 255-node tree is beyond codegen's appetite and runs
    interpreted, ~14x slower per row than the HOF (qs146 pair stage
    3.9 s → 0.7 s measured).
    """
    from cds_etl_spark.operators.skew import spread_scan

    v = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_vv")
    )
    v = spread_scan(v, id_col).withColumn("_vn", l2_norm(F.col("_vv")))
    anchors = anchors.withColumn("_cn", l2_norm(F.col("cvec")))
    _sim = dot_product(F.col("_vv"), F.col("cvec")) / (
        F.col("_vn") * F.col("_cn")
    )
    scored = v.join(F.broadcast(anchors)).select(
        id_col,
        "_vv",
        "_vn",
        F.col("cid"),
        F.round(_sim, 6).alias("_s"),
    )
    assigned = (
        scored.groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("_s"),
                    (-F.col("cid")).alias("_nc"),
                    F.col("cid"),
                    F.col("_vv"),
                    # trailing field: cid above is unique per anchor, so
                    # _vn can never influence the lexicographic argmax
                    F.col("_vn"),
                )
            ).alias("_b")
        )
        .select(
            id_col,
            F.col("_b.cid").alias("cid"),
            F.col("_b._vv").alias("_vv"),
            F.col("_b._vn").alias("_vn"),
        )
    )
    assigned = cut_lineage(assigned, eager=False)  # pin: corpus-scale
    # Pin the pair join's cid exchange ABOVE the checkpoint (a
    # checkpoint scan reports UnknownPartitioning, so a repartition
    # below it is erased and the SMJ re-exchanges): without the pin,
    # AQE coalesces the tiny cid shuffle to ONE partition and the whole
    # quadratic within-cluster compare — with the cosine filter pushed
    # into the join condition — runs in a single task (guide §2.5). The
    # explicit numPartitions blocks AQE coalescing; parallelism is
    # bounded by the anchor count, which scales as corpus/200 by design.
    npart = emb.sparkSession.sparkContext.defaultParallelism * 4
    assigned = assigned.repartition(npart, "cid")
    a = assigned.alias("a")
    b = assigned.alias("b")
    _pair_cos = dot_product(F.col("a._vv"), F.col("b._vv")) / (
        F.col("a._vn") * F.col("b._vn")
    )
    dup_ids = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("b." + id_col) < F.col("a." + id_col)),
        )
        .filter(F.round(_pair_cos, 4) >= F.lit(threshold))
        .select(F.col("a." + id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.join(dup_ids, id_col, "left")
        .select(
            id_col,
            "cid",
            F.coalesce("_dup", F.lit(False)).alias("is_dup"),
        )
    )


def compact_minhash_index(spark, path: str, out_path: str) -> None:
    """Maintenance pass for an append-only MinHash index
    (``build_minhash_index(..., mode="append")`` grows it every
    ingest batch; crash-replays append identical rows): rewrite both
    tables deduplicated and bin-packed to ``out_path``. Probe results
    are unchanged by construction — ``probe_minhash_index`` already
    reads through a dropDuplicates guard; compaction makes the
    guard's work (and the small-file listing tax) disappear from
    every future probe instead of being re-paid per batch.

    Writes to a NEW directory (the sources/compact.py contract): the
    caller owns the atomic swap; an in-place overwrite that failed
    midway would destroy the standing index — the dedup loop's only
    state."""
    bands = spark.read.parquet(f"{path}/bands").dropDuplicates()
    sh = spark.read.parquet(f"{path}/shingles")
    id_col = [c for c in sh.columns if c != "shingles"][0]
    (
        bands.write.mode("overwrite")
        .partitionBy("band_idx")
        .parquet(f"{out_path}/bands")
    )
    sh.dropDuplicates([id_col]).write.mode("overwrite").parquet(
        f"{out_path}/shingles"
    )
    # Compaction is the natural stats-refresh point for ingest loops
    # that skip the per-append recompute (band_stats=False).
    write_minhash_band_stats(spark, out_path)
