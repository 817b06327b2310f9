"""Structured Streaming over event-shaped tables (SURVEY.md §7.1 M6).

The reference is batch-only; this is the engine's extension mapping the
`events` table onto `readStream` sources with event-time semantics:
watermarked tumbling/sliding windows, session windows, within-watermark
dedup, and a custom stateful operator via ``applyInPandasWithState``.

Scale notes:
* Every aggregation here keys its state by (window/session, key) —
  state is hash-partitioned across executors by the shuffle, and the
  watermark bounds state size (expired windows are evicted). That is
  the 100 TB/day story: state ∝ active windows × keys, not input.
* The file source is used in tests; on a cluster the same DataFrame
  code runs unchanged over Kafka (`format("kafka")`) since all
  operators only touch columns, not the source.
* Micro-batch parity with batch semantics is the test contract
  (tests/test_streaming.py): the same groupBy over the same data must
  produce identical results through the streaming engine in
  ``complete`` mode, and append/update modes must respect watermark
  eviction for late rows.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cds_etl_spark.operators.pin import cut_lineage
from pyspark.sql.types import StructType

from cds_etl_spark.catalog import load_table


def materialize_event_source(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> StructType:
    """Land the events table as `n_files` normalized parquet files in
    `out_dir` — the simulated stream inbox (files arriving = micro-batch
    input; with maxFilesPerTrigger=1, n_files micro-batches). Returns
    the source schema. ts is normalized to TIMESTAMP_NTZ at landing so
    the streaming path has no parquet-nanos legacy concerns."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        # Watermarks require TIMESTAMP (not NTZ); session tz is pinned
        # UTC (session.RUNTIME_CONFS) so the cast is value-preserving.
        "ts",
        F.col("ts").cast("timestamp"),
    )
    # File k must hold the k-th time slice AND be written after file
    # k-1: the file source orders batches by modification time, so a
    # parallel write (task-completion order) would deliver slices out
    # of order and everything behind the advanced watermark would be
    # dropped as late. Sequential slice writes simulate in-order
    # arrival — this is a test-inbox generator, not a scale path.
    qs = [i / n_files for i in range(1, n_files)]
    bounds = ev.select(
        F.percentile_approx("ts", qs, 100000).alias("b")
    ).first()["b"]
    lo = None
    for k in range(n_files):
        hi = bounds[k] if k < len(bounds) else None
        sl = ev
        if lo is not None:
            sl = sl.filter(F.col("ts") > F.lit(lo))
        if hi is not None:
            sl = sl.filter(F.col("ts") <= F.lit(hi))
        sl.coalesce(1).write.mode("append").parquet(out_dir)
        lo = hi
    return ev.schema


def event_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream. File sources require an explicit
    schema (no inference race on an empty inbox)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling (or sliding, when `slide` is given) window
    aggregation per event_type: count + sum(value). Works identically
    on a batch DataFrame (window() is an ordinary grouping expression),
    which is what the parity tests exploit."""
    w = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "15 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows per user: events within `gap` of each other merge
    into one session. State per (user, open session); closed sessions
    are evicted once the watermark passes."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "user_id",
            "n",
            "total",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Exactly-once by event_id within the watermark horizon:
    `dropDuplicatesWithinWatermark` keeps id-state only for the
    watermark span (bounded), vs `dropDuplicates` whose state grows
    forever. The batch analogue is plain dropDuplicates."""
    if not events.isStreaming:
        return events.dropDuplicates(["event_id"])
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


RUNNING_TOTALS_STATE = "n BIGINT, total DOUBLE"
RUNNING_TOTALS_OUT = "user_id BIGINT, n BIGINT, total DOUBLE"


def running_totals_stateful(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator: per-user running (count, sum(value))
    via ``applyInPandasWithState`` — the escape hatch for logic the
    built-in windowed aggs can't express. State is one (n, total) pair
    per user, partitioned by the groupBy shuffle; each micro-batch
    emits the updated totals for users seen in that batch."""
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "total": [round(total, 4)]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_OUT,
            stateStructType=RUNNING_TOTALS_STATE,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def run_to_completion(
    stream_df: DataFrame,
    sink_table: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> None:
    """Drain all available source data through the streaming engine into
    an in-memory sink table (micro-batch execution with availableNow),
    blocking until done. Test/demo harness; production sinks swap
    format for parquet/kafka with the same checkpoint contract."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(checkpoint_dir, sink_table))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def enrich_stream(
    events: DataFrame, dim: DataFrame, on: str | list[str], how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    stream (the streaming analogue of O12's parent-FK attach,
    cds-transformation_v1.3.py:83-95).

    Stream-static joins are STATELESS — no watermark, no join state:
    each micro-batch joins against the static side as of that batch,
    so a dimension table updated in place is picked up on the next
    trigger. The static side is broadcast: at 100 TB/day the stream
    side never shuffles for this join, which is the only formulation
    that holds up (shuffling a stream on a dimension key re-keys every
    micro-batch)."""
    return events.join(F.broadcast(dim), on, how)


def foreach_batch_partitioned_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    fault=None,
) -> None:
    """Exactly-once parquet sink for non-transactional stores via
    ``foreachBatch``: each micro-batch overwrites its own
    ``batch_id=<epoch>`` partition directory. Replays after failure
    rewrite the same partition with the same data — idempotent without
    a transaction log, the standard pattern when the target is plain
    object storage rather than a table format with ACID commits.
    Readers see the whole dataset with ``batch_id`` as a partition
    column (spark.read.parquet(out_dir)).

    ``fault`` (tests only): callable invoked with the epoch id AFTER
    the partition write but BEFORE foreachBatch returns — raising
    there simulates a crash in the exact window where the sink output
    is durable but the checkpoint commit is not, the window that
    duplicates rows in non-idempotent sinks. The crash-replay test
    (tests/test_streaming.py) restarts from the same checkpoint and
    asserts the replayed epoch overwrites, never appends."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={epoch_id}")
        )
        if fault is not None:
            fault(epoch_id)

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "30 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with right
    events for the same ``key`` whose timestamp falls in
    ``[left_ts, left_ts + within]`` (the click→purchase attribution
    shape). Column names apart from ``key``/timestamps must be
    disjoint between the two sides.

    Stream-stream joins are STATEFUL: both sides buffer rows keyed by
    the join key until the other side's matches can no longer arrive.
    The time-range predicate plus both watermarks is what BOUNDS that
    state — without them the buffers grow forever, which is why this
    operator requires the interval instead of exposing a plain
    equi-join. State is evicted once
    ``watermark + within`` has passed an event's timestamp; at
    100 TB/day the buffered window is proportional to rate × horizon,
    not to history. Works identically on batch frames (same predicate,
    no state), which the parity test exploits."""
    l, r = left.alias("l"), right.alias("r")
    if left.isStreaming:
        l = left.withWatermark(left_ts, watermark).alias("l")
    if right.isStreaming:
        r = right.withWatermark(right_ts, watermark).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


def _row_local_top_bigram_fraction(text: F.Column) -> F.Column:
    """Gopher-style repetition signal as a PURE column expression: the
    fraction of a document's word bigrams taken by the most frequent
    one. operators/text_analysis.top_ngram_fraction computes the same
    value with a per-(doc, gram) aggregation — two shuffles that are
    fine in batch but turn a stateless stream filter into a stateful
    aggregate. Here the multiset count happens INSIDE the row
    (functions/text.bigram_repetition_stats — shared with qs138, and
    total for single-token/empty documents). Zero shuffles,
    streaming-safe."""
    from cds_etl_spark.functions.text import bigram_repetition_stats

    return bigram_repetition_stats(text)["top_fraction"]


def stream_corpus_filter(
    docs: DataFrame,
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.5,
    max_repetition: float = 0.5,
) -> DataFrame:
    """The LLM pipeline's filter stages (llm_pipeline.py stages 1-2) as
    a STATELESS stream transform: language-ID, quality score, and the
    repetition gate are all row-local column expressions, so a
    continuously-ingesting corpus is filtered with no watermark and no
    state at all — the shape that holds at any ingest rate. Works
    identically on batch frames (parity-tested)."""
    from cds_etl_spark.operators.text_analysis import language_id, quality_score

    txt = F.col("text")
    return (
        docs.withColumn("lang_guess", language_id(txt))
        .filter(F.col("lang_guess").isin(list(languages)))
        .withColumn("quality", quality_score(txt))
        .filter(F.col("quality") >= min_quality)
        .withColumn("top_fraction", _row_local_top_bigram_fraction(txt))
        .filter(F.col("top_fraction") <= max_repetition)
    )


def stream_corpus_dedup(docs: DataFrame) -> DataFrame:
    """Exact content dedup for a document stream: first-seen wins per
    md5(text). Content hash is computed map-side so dedup state (and
    the shuffle) carries 32-char hashes, never documents — the
    streaming analogue of operators/dedup.exact_dedup. State here is
    one hash per distinct document ever seen (dropDuplicates, no
    watermark column on the documents schema); with an ingest-time
    column, swap in dropDuplicatesWithinWatermark to bound it, as
    stream_dedup does for events."""
    hashed = docs.withColumn("content_hash", F.md5(F.col("text")))
    return hashed.dropDuplicates(["content_hash"])


def running_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) on the Spark 4
    ``transformWithStateInPandas`` API — the successor to
    ``applyInPandasWithState`` (running_totals_stateful) with TYPED
    state handles instead of one opaque tuple.

    Kept alongside the legacy-API twin deliberately: the two must stay
    result-identical (parity-tested in tests/test_streaming.py), and
    the typed ValueState is the building block the richer operators
    (ListState timelines, MapState per-key sketches, timers for TTL
    eviction) grow from. Same scale shape as every stateful op here:
    state partitions with the groupBy shuffle, one small record per
    user, RocksDB-backed when the session enables it.

    Import-gated: the transformWithState worker protocol speaks
    protobuf (pyspark/sql/streaming/proto) — without a working
    ``google.protobuf``, Spark's driver worker crashes at stream
    start, so this raises up front with a clear message instead
    (same boundary policy as the PyAV-gated H.264 path).

    The protobuf-absence decision (r14, recorded PERMANENT
    environment gate — same rigor as the jpeg and PyAV codec gates):
    this container ships no protobuf wheel and has no package-index
    route (``pip download protobuf`` → name resolution failure), and
    vendoring a third-party runtime wholesale is out of policy, so
    the in-environment parity run is impossible rather than deferred.
    What IS verified here: the fail-fast gate fires at plan-build
    time with the escape hatch named (test_streaming.py, both the
    dedicated gate test and the parity test's gate branch — zero
    silent skips). In any protobuf environment the SAME parity test
    body runs live against the batch aggregate, so the gate retires
    itself the moment the dependency appears."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas requires google.protobuf "
            "(Spark's state-server protocol); install protobuf or use "
            "running_totals_stateful (applyInPandasWithState)"
        ) from exc
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n BIGINT, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, total = 0, 0.0
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "total": [round(total, 4)]}
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType=RUNNING_TOTALS_OUT,
            outputMode="Update",
            timeMode="None",
        )
    )


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API (any scheme —
    file://, s3a://, hdfs://). Used by the ingest loops to decide
    whether a standing index exists yet: an explicit check instead of
    try/except around the probe, because a blanket except would ALSO
    swallow real probe failures and silently disable dedup for every
    subsequent batch — the worst possible failure mode for a dedup
    loop (corrupt index, permission loss, and schema drift must
    surface, not no-op)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf).exists(jpath)


def stream_corpus_ingest_with_index(
    docs_stream: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.5,
    max_repetition: float = 0.5,
    min_jaccard: float = 0.5,
    hash_family: str = "fast",
) -> None:
    """Continuous corpus ingest with NEAR-duplicate dedup against a
    standing on-disk MinHash index — the round-6 pieces composed into
    the production loop: per micro-batch, (1) the stateless filter
    stages gate quality, (2) within-batch near-dups collapse to the
    lowest doc_id (minhash_lsh_pairs over the batch — batch-sized,
    cheap), (3) survivors probe the PERSISTED index
    (probe_minhash_index — the corpus is never re-shingled), (4) kept
    docs land in an epoch-partitioned parquet sink, and (5) their
    signatures append to the index so the NEXT batch sees them.

    Exactly-once story on plain object storage: the sink overwrites
    its own ``batch_id=<epoch>`` partition (idempotent replay, the
    foreach_batch_partitioned_sink pattern), and the index append is
    made replay-safe by probe_minhash_index's dropDuplicates guard —
    a re-appended epoch re-writes identical rows, which dedup to the
    same probe result. State lives entirely in the index tables:
    restart-proof, shardable, and sized by corpus content, not by
    stream history held on the heap (contrast stream_corpus_dedup's
    in-memory hash state).
    """
    from cds_etl_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs,
        probe_minhash_index,
    )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        filtered = stream_corpus_filter(
            batch_df, languages, min_quality, max_repetition
        )
        # Within-batch near-dups: keep the lowest id of every pair.
        intra = minhash_lsh_pairs(
            filtered, min_jaccard=min_jaccard, hash_family=hash_family
        )
        losers = intra.select(F.col("d2").alias("doc_id")).distinct()
        batch_kept = filtered.join(losers, "doc_id", "left_anti")
        # Cross-batch: probe the standing index. Explicit existence
        # check, NOT try/except — a swallowed probe error would
        # silently stop deduplicating forever (see _hadoop_path_exists).
        if _hadoop_path_exists(spark, f"{index_path}/bands"):
            pairs = probe_minhash_index(
                spark,
                batch_kept,
                index_path,
                min_jaccard=min_jaccard,
                hash_family=hash_family,
            )
            dup_ids = pairs.select(F.col("new_id").alias("doc_id")).distinct()
            kept = batch_kept.join(dup_ids, "doc_id", "left_anti")
        else:
            kept = batch_kept
        kept = cut_lineage(kept)  # pin: corpus-scale batch slice
        kept.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={epoch_id}")
        )
        build_minhash_index(
            kept.select("doc_id", "text"),
            index_path,
            hash_family=hash_family,
            mode="append",
        )

    q = (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_media_ingest_with_index(
    media_stream: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
) -> None:
    """Continuous IMAGE ingest with perceptual near-dup dedup against a
    standing pHash index — the multimodal twin of
    ``stream_corpus_ingest_with_index``: per micro-batch, (1) decode
    and hash every arriving image ONCE (``phash_images`` — the only
    expensive step, paid at ingest), (2) gate degenerate images —
    a solid/blank frame hashes to the all-zero signature, carries no
    training signal, and would bucket-collide every future blank
    frame, (3) collapse within-batch perceptual dups to the
    lowest media_id (``hamming_near_dup`` — batch-sized), (4) probe
    survivors against the PERSISTED index (``probe_phash_index`` — a
    map-side broadcast join over 16-byte index rows, the corpus is
    never re-decoded), (5) sink kept rows to an epoch-partitioned
    parquet dir, and (6) append their signatures so the NEXT batch
    sees them.

    Exactly-once story matches the text loop: the sink overwrites its
    own ``batch_id=<epoch>`` partition, and the index append is
    replay-safe via probe's dropDuplicates guard. All state lives in
    the index parquet — restart-proof, ~16 bytes per corpus image,
    nothing on any executor heap."""
    from cds_etl_spark.operators.multimodal import (
        _bands_for,
        build_phash_index,
        hamming_near_dup,
        phash_images,
        probe_phash_index,
    )

    # Stats must describe THIS loop's probe banding, not the default
    # max_hamming=3 one — otherwise every probe treats them as absent
    # and runs uncapped with a warning (r14: the suite's own ingest
    # test surfaced exactly that mismatch).
    stats_n_bands = _bands_for(max_hamming)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        images = batch_df.filter(F.col("kind") == "image")
        feats = phash_images(images)
        # Degenerate gate on the signature itself (a solid image has
        # all-zero AC bits) — avoids a second decode pass for stats.
        sigs = feats.filter(F.col("phash") != 0)
        intra = hamming_near_dup(
            sigs, max_hamming=max_hamming
        ).select(F.col("id_b").alias("media_id")).distinct()
        batch_kept = sigs.join(intra, "media_id", "left_anti")
        # Explicit index-existence check — same rationale as the text
        # loop: probe errors must surface, only absence no-ops.
        if _hadoop_path_exists(spark, index_path):
            pairs = probe_phash_index(
                spark, batch_kept, index_path, max_hamming=max_hamming
            )
            dup = pairs.select(F.col("new_id").alias("media_id")).distinct()
            kept_sigs = batch_kept.join(dup, "media_id", "left_anti")
        else:
            kept_sigs = batch_kept
        kept_sigs = cut_lineage(kept_sigs)  # pin: corpus-scale batch slice
        kept = images.join(kept_sigs.select("media_id"), "media_id")
        kept.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={epoch_id}")
        )
        build_phash_index(
            kept_sigs,
            index_path,
            mode="append",
            stats_n_bands=stats_n_bands,
        )

    q = (
        media_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_drift_monitor(
    events_stream: DataFrame,
    baseline_path: str,
    out_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    group_col: str = "event_type",
    width: float = 32.0,
    n_bins: int = 16,
    psi_alert: float = 0.25,
) -> None:
    """Continuous PSI drift monitoring: every micro-batch's value
    distribution is compared per group against a PERSISTED reference
    histogram (``operators/drift.build_drift_baseline``), emitting one
    (group, n, psi, alert) row per group per epoch — the alarm wire a
    training-data ingest hangs its circuit breaker on (rule of thumb:
    psi > 0.25 = the feature moved, stop and look).

    Shape: the per-batch histogram is one narrow groupBy of the batch;
    the baseline is (groups × bins) parquet rows re-read per epoch (a
    metadata-sized scan, deliberately NOT cached so a rebuilt baseline
    takes effect on the next batch); the epoch's result partition is
    overwritten idempotently on replay, and the baseline is never
    updated implicitly — a reference-window change is an operator
    decision, not a side effect of data arriving."""
    from cds_etl_spark.operators.drift import bin_histogram, psi

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = bin_histogram(batch_df, value_col, group_col, width, n_bins)
        base = spark.read.parquet(baseline_path)
        out = psi(cur, base, n_bins).select(
            F.col("grp").alias(group_col),
            "n_current",
            "n_baseline",
            "psi",
            (F.col("psi") > psi_alert).alias("alert"),
        )
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={epoch_id}")
        )

    q = (
        events_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_anomaly_monitor(
    events_stream: DataFrame,
    baseline_path: str,
    out_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    group_col: str = "event_type",
    z: float = 3.0,
) -> None:
    """Continuous point-anomaly flagging: every micro-batch's rows are
    z-scored against the PERSISTED per-group reference moments
    (``operators/drift.build_anomaly_baseline``) and the outliers land
    in an epoch-partitioned sink — the row-level alarm wire beside
    ``stream_drift_monitor``'s distribution-level one (point +
    distribution + level-shift is the qs167/qs159/qs169 monitoring
    trio; this is the streaming face of the first).

    Shape: the baseline is a groups-sized parquet read per epoch
    (deliberately NOT cached — a rebuilt reference takes effect next
    batch) and BROADCASTS into the join, so the batch itself never
    shuffles; the epoch partition overwrites idempotently on replay;
    the baseline never updates implicitly — a reference-window change
    is an operator decision, not a side effect of data arriving."""
    from cds_etl_spark.operators.drift import zscore_anomalies

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        base = spark.read.parquet(baseline_path)
        flagged = zscore_anomalies(
            batch_df, base, value_col, group_col, z
        )
        flagged.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={epoch_id}")
        )

    q = (
        events_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_cusum_monitor(
    events_stream: DataFrame,
    baseline_path: str,
    state_path: str,
    out_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    group_col: str = "event_type",
    k: float = 0.5,
    h: float = 5.0,
    fault=None,
) -> None:
    """Continuous CUSUM level-shift detection — the streaming face of
    qs242/qs169 that completes the monitoring trio beside
    ``stream_anomaly_monitor`` (point) and ``stream_drift_monitor``
    (distribution): a persistent 0.1σ mean shift never trips a z = 3
    row flag and barely moves PSI, but the tabular CUSUM recursion
    S⁺ = max(0, S⁺ + z − k), S⁻ = min(0, S⁻ + z + k) ACCUMULATES it
    across batches and alarms within a handful of epochs (Page 1954;
    z standardizes each batch MEAN by σ/√n against the persisted
    reference moments, so sensitivity grows with batch size).

    State story: per-group (S⁺, S⁻) lives as EPOCH-GENERATIONAL
    parquet (``state_path/epoch=<id>``) and epoch N always reads its
    PREDECESSOR (the newest epoch < N) — a crash-replayed epoch
    recomputes from the same predecessor and overwrites its own
    partition, so replay is exactly-once without a transaction log
    (the corpus-ingest index pattern). Groups absent from a batch
    carry their accumulation forward unchanged (full-outer state
    join); the reference moments never roll forward implicitly — a
    self-updating reference learns to love its own drift. Every
    output row carries a ``status`` column: ``ok``, ``no_baseline``
    (batch group absent from the reference moments — surfaced, not
    dropped), ``bad_sigma`` (sigma<=0 or NULL — accumulation held,
    flagged), or ``carried`` (group absent from this batch). Each epoch
    is a groups-sized broadcast join + one batch aggregate; nothing
    here scales with stream history."""

    def _prev_state_epoch(spark: SparkSession, epoch_id: int):
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(state_path)
        fs = jpath.getFileSystem(hconf)
        if not fs.exists(jpath):
            return None
        best = None
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if name.startswith("epoch="):
                e = int(name.split("=", 1)[1])
                if e < epoch_id and (best is None or e > best):
                    best = e
        return best

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        base = spark.read.parquet(baseline_path)
        cur = batch_df.groupBy(F.col(group_col).alias("grp")).agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.avg(value_col).alias("xbar"),
        )
        # LEFT join so a batch group missing from the reference
        # moments still surfaces (status='no_baseline') instead of
        # silently vanishing every epoch; sigma<=0 is guarded
        # explicitly (status='bad_sigma') rather than relying on a
        # NULL-divide quietly coalescing to a 0 increment.
        z = cur.join(
            F.broadcast(base.select("grp", "mu", "sigma")),
            "grp",
            "left",
        ).select(
            "grp",
            "n_batch",
            F.when(
                F.col("mu").isNull(), F.lit("no_baseline")
            )
            .when(
                F.col("sigma").isNull() | (F.col("sigma") <= 0.0),
                F.lit("bad_sigma"),
            )
            .otherwise(F.lit("ok"))
            .alias("status"),
            F.when(
                F.col("mu").isNotNull() & (F.col("sigma") > 0.0),
                (F.col("xbar") - F.col("mu"))
                / (F.col("sigma") / F.sqrt(F.col("n_batch"))),
            ).alias("z"),
        )
        prev = _prev_state_epoch(spark, epoch_id)
        if prev is not None:
            prior = spark.read.parquet(
                os.path.join(state_path, f"epoch={prev}")
            ).select("grp", "s_pos", "s_neg")
        else:
            prior = (
                z.select("grp")
                .limit(0)
                .withColumn("s_pos", F.lit(0.0))
                .withColumn("s_neg", F.lit(0.0))
            )
        # Absent group ⇒ z side null ⇒ the coalesced increment is 0
        # and max/min against the carried S is the identity.
        st = z.join(prior, "grp", "full_outer").select(
            "grp",
            F.coalesce("n_batch", F.lit(0)).alias("n_batch"),
            F.coalesce("status", F.lit("carried")).alias("status"),
            F.greatest(
                F.lit(0.0),
                F.coalesce("s_pos", F.lit(0.0))
                + F.coalesce(F.col("z") - k, F.lit(0.0)),
            ).alias("s_pos"),
            F.least(
                F.lit(0.0),
                F.coalesce("s_neg", F.lit(0.0))
                + F.coalesce(F.col("z") + k, F.lit(0.0)),
            ).alias("s_neg"),
        )
        out = cut_lineage(  # pin: key-dimension state, written twice
            st.withColumn(
                "alert", (F.col("s_pos") > h) | (F.col("s_neg") < -h)
            )
        )
        out.write.mode("overwrite").parquet(
            os.path.join(state_path, f"epoch={epoch_id}")
        )
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={epoch_id}")
        )
        # fault (tests only): raising here simulates a crash with the
        # epoch's state + output durable but the checkpoint commit
        # missing — the replay must recompute from the PREDECESSOR
        # state (its own epoch partition is excluded by e < epoch_id)
        # and overwrite, never chain onto itself.
        if fault is not None:
            fault(epoch_id)

    q = (
        events_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_page_hinkley_monitor(
    events_stream: DataFrame,
    state_path: str,
    out_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    group_col: str = "event_type",
    delta: float = 0.005,
    lam: float = 50.0,
) -> None:
    """Continuous Page–Hinkley mean-shift detection — the
    REFERENCE-FREE member of the monitoring family (the batch twin is
    qs349): where ``stream_cusum_monitor`` standardizes against a
    persisted baseline (and inherits its staleness), PH maintains the
    running mean ITSELF and accumulates m = Σ(x_e − x̄_e − δ) over the
    per-(group, epoch) batch means, alarming when m − min(m) > λ.
    That makes it the bootstrap monitor for NEW groups that have no
    baseline yet — exactly the rows CUSUM marks ``no_baseline``.

    State story: identical to the CUSUM epoch-generational contract —
    per-group (cnt, xsum, mt, mt_min) lives at
    ``state_path/epoch=<id>``, epoch N reads only its newest
    predecessor and overwrites its own partition, so a crash-replayed
    epoch recomputes byte-identically (exactly-once without a log).
    Groups absent from a batch carry state unchanged
    (status='carried'). Each epoch is one batch aggregate + a
    groups-sized full-outer state join; nothing scales with stream
    history."""

    def _prev_state_epoch(spark: SparkSession, epoch_id: int):
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(state_path)
        fs = jpath.getFileSystem(hconf)
        if not fs.exists(jpath):
            return None
        best = None
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if name.startswith("epoch="):
                e = int(name.split("=", 1)[1])
                if e < epoch_id and (best is None or e > best):
                    best = e
        return best

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = batch_df.groupBy(F.col(group_col).alias("grp")).agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.avg(value_col).alias("xbar"),
        )
        prev = _prev_state_epoch(spark, epoch_id)
        if prev is not None:
            prior = spark.read.parquet(
                os.path.join(state_path, f"epoch={prev}")
            ).select("grp", "cnt", "xsum", "mt", "mt_min")
        else:
            prior = (
                cur.select("grp")
                .limit(0)
                .withColumn("cnt", F.lit(0).cast("long"))
                .withColumn("xsum", F.lit(0.0))
                .withColumn("mt", F.lit(0.0))
                .withColumn("mt_min", F.lit(0.0))
            )
        j = cur.join(prior, "grp", "full_outer")
        has_obs = F.col("xbar").isNotNull()
        cnt1 = F.coalesce("cnt", F.lit(0)) + has_obs.cast("long")
        xsum1 = F.coalesce("xsum", F.lit(0.0)) + F.coalesce(
            "xbar", F.lit(0.0)
        )
        mean1 = xsum1 / cnt1
        mt1 = F.coalesce("mt", F.lit(0.0)) + F.when(
            has_obs, F.col("xbar") - mean1 - delta
        ).otherwise(F.lit(0.0))
        st = j.select(
            "grp",
            F.coalesce("n_batch", F.lit(0)).alias("n_batch"),
            F.when(has_obs, F.lit("ok"))
            .otherwise(F.lit("carried"))
            .alias("status"),
            cnt1.alias("cnt"),
            xsum1.alias("xsum"),
            mt1.alias("mt"),
            F.least(
                F.coalesce("mt_min", F.lit(0.0)), mt1
            ).alias("mt_min"),
        )
        out = cut_lineage(  # pin: key-dimension state, written twice
            st.withColumn("ph", F.col("mt") - F.col("mt_min")).withColumn(
                "alert", F.col("ph") > lam
            )
        )
        out.write.mode("overwrite").parquet(
            os.path.join(state_path, f"epoch={epoch_id}")
        )
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={epoch_id}")
        )

    q = (
        events_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_commitlog_sink(
    stream: DataFrame,
    table: str,
    checkpoint_dir: str,
    fault=None,
) -> None:
    """Exactly-once streaming ingest into a commit-log snapshot table
    (``sources/commitlog``): each micro-batch publishes as ONE atomic
    epoch-stamped commit, and a crash-replayed epoch is detected from
    the surviving manifests and skipped — the commit itself is the
    transaction marker, so there is no separate dedup ledger to drift
    from the data. Readers meanwhile pin manifest versions: they see
    every batch entirely or not at all, never a half-written epoch
    (the guarantee the plain partitioned sink approximates with
    directory overwrites, made transactional).

    Replay horizon: ``vacuum(keep_last=N)`` must keep at least as
    many manifests as epochs the checkpoint could replay.

    ``fault`` (tests only): callable invoked as ``fault(epoch_id,
    phase)`` with phase ``"pre"`` (replay-guard passed, commit not yet
    published) and ``"post"`` (commit published, checkpoint commit not
    yet recorded). Raising in either phase simulates the two crash
    windows of the protocol; the fault-injection soak
    (tests/test_fault_injection.py) restarts until drained and asserts
    exactly-once either way."""
    from cds_etl_spark.sources.commitlog import (
        commit_append,
        committed_epochs,
    )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if epoch_id in committed_epochs(spark, table):
            return
        if fault is not None:
            fault(epoch_id, "pre")
        commit_append(batch_df, table, epoch=epoch_id)
        if fault is not None:
            fault(epoch_id, "post")

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_heavy_hitters(
    stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    item_col: str = "event_type",
    k: int = 5,
    depth: int = 4,
    width: int = 256,
    fault=None,
) -> None:
    """Continuous heavy-hitters monitoring from MERGEABLE sketches:
    each micro-batch builds its own Count-Min sketch
    (``operators/sketches.cms_build``) and lands it in an
    epoch-named state partition; the current top-k estimate is read
    from the MERGE of all epoch sketches (counters are additive —
    ``cms_merge`` is a union + sum, never a raw-data rescan). The
    "what's trending across the whole stream so far" question at
    sketch cost.

    Replay safety comes from the partition layout, not a ledger: a
    replayed epoch OVERWRITES its own sketch partition byte-for-byte
    (sketch building is deterministic), so merged totals never
    double-count — the same idempotence-by-overwrite the drift and
    anomaly monitors use. State size: epochs × depth × width counter
    rows, compactable by pre-merging old epochs into one partition.
    Candidate top-k come from the UNION of every epoch's observed
    item set (persisted beside the sketches — CMS estimates need
    candidates, and a batch without yesterday's trending item must
    still rank it)."""
    from cds_etl_spark.operators.sketches import cms_build, cms_merge

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        sk = cms_build(batch_df, item_col, depth=depth, width=width)
        sk.write.mode("overwrite").parquet(
            os.path.join(state_dir, "sketch", f"batch_id={epoch_id}")
        )
        batch_df.select(F.col(item_col).alias("item")).distinct().write.mode(
            "overwrite"
        ).parquet(os.path.join(state_dir, "items", f"batch_id={epoch_id}"))
        merged = cms_merge(
            spark.read.parquet(os.path.join(state_dir, "sketch"))
        )
        # Estimate = min over rows of the item's bucket counter.
        items = (
            spark.read.parquet(os.path.join(state_dir, "items"))
            .select("item")
            .distinct()
        )
        est = (
            items.crossJoin(
                merged.withColumnRenamed("cnt", "_cnt")
            )
            .filter(
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("j").cast("string"),
                                    F.lit(":"),
                                    F.col("item"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % F.lit(width)
                )
                == F.col("bucket")
            )
            .groupBy("item")
            .agg(F.min("_cnt").alias("est_count"))
            .orderBy(F.col("est_count").desc(), "item")
            .limit(k)
        )
        est.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={epoch_id}")
        )
        # fault (tests only): crash window after durable writes,
        # before the checkpoint commit — replay must overwrite the
        # epoch's sketch/items partitions byte-for-byte so merged
        # totals never double-count.
        if fault is not None:
            fault(epoch_id)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
