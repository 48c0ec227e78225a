"""Structured Streaming wrapper over the batch operators.

The reference has no streaming surface (SURVEY.md §2.8) — this is the
engine's incremental-ingest path: new corpus files appear under a directory
(production: Iceberg table appends), each micro-batch runs the *identical*
fused extract operator via ``foreachBatch``, appending to the records table.
All state is per-document, so no watermarks or stateful operators are
needed.  Exactly-once = checkpointed source offsets (checkpointLocation)
PLUS an idempotent sink: each micro-batch overwrites its OWN
``batch=<id>`` partition directory, so a batch that commits data but dies
before the checkpoint records it simply overwrites the same directory on
replay instead of appending duplicates (a bare ``mode('append')`` parquet
sink would double the batch).  Production Iceberg equivalent: REPLACE on
a batch-id partition, or MERGE on doc_id.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..schema import CORPUS_SCHEMA
from ..operators import extract as ops


def _claim_bootstrap(index_path: str, batch_id: int,
                     checkpoint_dir: str) -> None:
    """Record WHICH stream run's micro-batch is bootstrapping the
    index, before the build starts (atomic tmp+rename).  Closes the one
    replay window segment-tag idempotence does not cover: a bootstrap
    that COMPLETES (its commit marker lands) but whose streaming offset
    never commits replays as batch 0 — without this marker the replay
    would see a complete index and APPEND the same docs a second time.
    The claim is (batch_id, checkpoint_dir): a replay shares BOTH (the
    restarted query reuses its checkpoint), while a NEW stream pointed
    at an existing index has a fresh checkpoint and must APPEND — a
    bare batch-id claim would make its batch 0 rebuild the index and
    destroy the previous corpus's entries."""
    import json
    import os
    os.makedirs(index_path, exist_ok=True)
    tmp = os.path.join(index_path, "._bootstrap_batch.tmp")
    with open(tmp, "w") as fh:
        json.dump({"batch_id": batch_id,
                   "checkpoint": os.path.abspath(checkpoint_dir)}, fh)
    os.rename(tmp, os.path.join(index_path, "_bootstrap_batch"))


def _is_bootstrap_replay(index_path: str, batch_id: int,
                         checkpoint_dir: str) -> bool:
    import json
    import os
    p = os.path.join(index_path, "_bootstrap_batch")
    if not os.path.exists(p):
        return False
    with open(p) as fh:
        claim = json.load(fh)
    return (claim.get("batch_id") == batch_id
            and claim.get("checkpoint") == os.path.abspath(checkpoint_dir))


def stream_extract(spark: SparkSession, corpus_dir: str, out_dir: str,
                   checkpoint_dir: str,
                   max_files_per_trigger: int = 4) -> StreamingQuery:
    """Watch ``corpus_dir`` for new corpus parquet files; extract each
    micro-batch with the batch operator; append records parquet."""
    stream = (spark.readStream.schema(CORPUS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(corpus_dir))

    def process(batch_df, batch_id: int) -> None:
        # idempotent per-batch sink: replaying batch N overwrites batch N
        (ops.extract_records(batch_df)
         .write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}"))

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def dedup_events_stream(events: DataFrame, id_cols: tuple = ("event_id",),
                        watermark: str = "30 minutes",
                        ts_col: str = "ts") -> DataFrame:
    """At-least-once → effectively-once event dedup for streams:
    ``dropDuplicatesWithinWatermark`` keeps the seen-key state only
    within the watermark horizon, so state is O(keys per horizon), not
    O(stream length) — the difference between a dedup that runs forever
    and one that OOMs the state store.  (Plain ``dropDuplicates`` on a
    stream never expires its keys.)  Exact within the horizon: a replayed
    or duplicate row arriving inside the watermark window is dropped;
    one arriving later than the horizon is a new row by definition.
    Works on a batch frame too (reduces to dropDuplicates)."""
    out = (events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
           .withWatermark(ts_col, watermark))
    if out.isStreaming:
        return out.dropDuplicatesWithinWatermark(list(id_cols))
    return out.dropDuplicates(list(id_cols))


def windowed_event_counts(events: DataFrame, window_duration: str = "10 minutes",
                          watermark: str = "30 minutes",
                          ts_col: str = "ts") -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the
    late-data-tolerant streaming aggregation idiom (readStream →
    withWatermark → window() groupBy).

    The watermark bounds state: a window is finalized (and, in append
    output mode, emitted exactly once) when the watermark passes its end;
    rows arriving later than ``watermark`` behind the max observed event
    time are dropped instead of reopening finalized windows.  At corpus
    scale this is what keeps the state store O(active windows × keys)
    instead of O(stream length).  Works identically on a batch DataFrame
    (watermark is a no-op there), so batch backfill and the live stream
    share one definition."""
    # watermarks require TIMESTAMP (ltz); parquet often stores NTZ — cast
    # is exact under the engine's pinned UTC session timezone
    return (events
            .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window_duration).alias("win"),
                     "event_type")
            .agg(F.count("*").cast("bigint").alias("n_events"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "event_type", "n_events"))


def session_event_stats(events: DataFrame, gap: str = "30 minutes",
                        watermark: str = "1 hour",
                        ts_col: str = "ts") -> DataFrame:
    """Watermarked SESSION-window stats per user — the stateful gap
    sessionization Structured Streaming runs incrementally: open
    sessions live in the state store, merge when events land within
    ``gap`` of them, and finalize (append-mode emit) once the watermark
    passes session end + gap.  State is O(open sessions), bounded by
    the watermark horizon, not stream length.

    Works identically on a batch frame (watermark is a no-op) — the
    batch leg is the ORACLED `session_window_counts` query, so backfill
    and live stream provably share one definition; the stream-vs-batch
    equality test (tests/test_resume_stream_media.py) closes the loop."""
    return (events
            .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .withWatermark(ts_col, watermark)
            .groupBy("user_id",
                     F.session_window(F.col(ts_col), gap).alias("sw"))
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select("user_id", F.col("sw.start").alias("session_start"),
                    F.col("sw.end").alias("session_end"),
                    "n_events", "sum_value"))


def stream_kmv_sketch(spark: SparkSession, events_dir: str, state_dir: str,
                      checkpoint_dir: str, schema,
                      group_col: str, value_col: str, k: int = 64,
                      n_salts: int = 8,
                      max_files_per_trigger: int = 4) -> StreamingQuery:
    """Incremental cardinality sketching: maintain per-group KMV distinct
    sketches over an unbounded stream WITHOUT keeping raw values.

    KMV's union-is-min-k mergeability makes the state APPEND-ONLY: each
    micro-batch writes its own (group, salt, min-k) partials to an
    idempotent ``batch=<id>`` partition (replay overwrites, never
    duplicates — same exactly-once recipe as ``stream_extract``), and the
    read side folds every partial through ``kmv_merge``.  No state-store
    round-trips, no read-modify-write races, state volume is
    O(batches × groups × salts × k) longs — compact batches into one
    partial per (group, salt) whenever that sum grows (Iceberg: REWRITE
    of the partials partition; the merge result IS a valid partial).
    The batch twin over the same data is the oracled ``kmv_distinct``
    query — `read_kmv_state` after the stream equals it digest-for-digest
    (tests/test_resume_stream_media.py)."""
    from ..operators import sketch as sk
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(events_dir))

    def process(batch_df, batch_id: int) -> None:
        (sk.kmv_partial(batch_df, group_col, value_col, k=k,
                        n_salts=n_salts)
         .write.mode("overwrite").parquet(f"{state_dir}/batch={batch_id}"))

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_kmv_state(spark: SparkSession, state_dir: str,
                   k: int = 64) -> DataFrame:
    """Fold every persisted partial sketch into the current per-group
    (grp, sketch_size, est_distinct, sketch_digest) view."""
    from ..operators import sketch as sk
    return sk.kmv_merge(
        spark.read.parquet(state_dir).select("grp", "_salt", "partial"),
        k=k)


def stream_cdc_state(spark: SparkSession, changes_dir: str, state_dir: str,
                     checkpoint_dir: str, schema,
                     key_cols: tuple, value_cols: tuple, seq_cols: tuple,
                     op_col: str = "op",
                     max_files_per_trigger: int = 4) -> StreamingQuery:
    """Incremental CDC materialization over an unbounded change stream
    WITHOUT a state store: each micro-batch writes its own FOLDED
    partial (latest change per key within the batch, op and seq kept)
    to an idempotent ``batch=<id>`` partition — replay overwrites,
    never duplicates, the same exactly-once recipe as
    ``stream_extract``.  Because ``fold_changes`` keys the winner on the
    log's total order (seq_cols), folding partials-of-partials equals
    folding the whole log — the associativity that lets per-batch state
    stay APPEND-ONLY (no read-modify-write races) and lets compaction
    rewrite many batch partitions into one partial at any time.
    ``read_cdc_state`` is the serving view; its batch twin is the
    ORACLED ``cdc_user_state`` query, and the stream-equals-batch test
    closes the loop (tests/test_resume_stream_media.py)."""
    from ..plans import maintenance as mt
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(changes_dir))

    def process(batch_df, batch_id: int) -> None:
        (mt.fold_changes(
            batch_df.select(*key_cols, *value_cols, op_col, *seq_cols),
            key_cols, seq_cols, op_col)
         .write.mode("overwrite").parquet(f"{state_dir}/batch={batch_id}"))

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_cdc_state(spark: SparkSession, state_dir: str,
                   key_cols: tuple, value_cols: tuple, seq_cols: tuple,
                   op_col: str = "op") -> DataFrame:
    """Fold every persisted per-batch partial into the current snapshot:
    latest change per key across ALL batches, tombstones dropped."""
    from ..plans import maintenance as mt
    folded = mt.fold_changes(spark.read.parquet(state_dir),
                             key_cols, seq_cols, op_col)
    return (folded.filter(F.col(op_col) != F.lit("D"))
            .select(*key_cols, *value_cols))


def conversion_join(clicks: DataFrame, purchases: DataFrame,
                    max_gap: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Stream-stream time-bounded equi-join: purchases attributed to the
    same user's click within ``max_gap`` — the conversion/attribution
    join Structured Streaming runs with BOUNDED state.  Both sides are
    watermarked and the join condition carries the time bound, so the
    state store retains each side only for watermark + gap (without the
    bound, a stream-stream join must buffer one side forever).  Inner
    join ⇒ matches emit as they arrive; the watermark only drives state
    eviction — so the availableNow backfill equals the batch join
    exactly (tests/test_resume_stream_media.py pins this equality, and
    the ORACLED batch twin is the `conversion_join` driver query).

    Input frames must carry (user_id, ts, event_id, value); works on
    batch frames too (watermarks are no-ops there)."""
    c = (clicks.select(F.col("user_id"),
                       F.col("ts").cast("timestamp").alias("click_ts"),
                       F.col("event_id").alias("click_id"))
         .withWatermark("click_ts", watermark))
    p = (purchases.select(F.col("user_id").alias("p_user_id"),
                          F.col("ts").cast("timestamp").alias("purchase_ts"),
                          F.col("event_id").alias("purchase_id"),
                          F.col("value").alias("purchase_value"))
         .withWatermark("purchase_ts", watermark))
    return (c.join(p, F.expr(f"""
        user_id = p_user_id AND
        purchase_ts >= click_ts AND
        purchase_ts <= click_ts + INTERVAL {max_gap}"""))
            .select("user_id", "click_id", "purchase_id",
                    "click_ts", "purchase_ts",
                    F.round("purchase_value", 2).alias("purchase_value")))


def stream_kg_ingest(spark: SparkSession, corpus_dir: str, root: str,
                     checkpoint_dir: str):
    """Streaming twin of jobs/incremental_kg.py: each micro-batch of
    arriving corpus files is extracted and published as its own atomic
    snapshot (append-only batch table carried forward, degrees folded).
    Snapshot id = the micro-batch id, which Structured Streaming keeps
    STABLE across crash/replay — so a batch replayed before its
    checkpoint commit lands in ingest_batch's same-snapshot-id replay
    path and rewrites its own snapshot instead of double-appending:
    exactly-once publication from at-least-once batch delivery."""
    schema = spark.read.parquet(corpus_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(corpus_dir))

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from jobs.incremental_kg import ingest_batch
        ingest_batch(batch_df.sparkSession, root, batch_df,
                     f"stream-{batch_id:06d}")

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_dedup_ingest(spark: SparkSession, corpus_dir: str,
                        index_path: str, checkpoint_dir: str,
                        threshold: float = 0.5,
                        reconcile_every: int | None = None,
                        window_batches: int | None = None,
                        **dedup_kwargs) -> StreamingQuery:
    """Streaming twin of the incremental dedup index
    (``operators.dedup.dedup_index_build``/``_append``): each
    micro-batch of arriving documents is deduped against the frozen
    index and grows it, without ever rescanning earlier batches.

    Exactly-once from at-least-once batch delivery, the
    ``stream_kg_ingest`` pattern: the batch id is REPLAY-STABLE, so

    - the FIRST batch bootstraps the index via ``dedup_index_build``,
      whose writes are mode('overwrite') — a replayed bootstrap
      rewrites itself (a partially-built index is detected by the
      missing table directories and rebuilt);
    - every later batch appends under ``batch_tag='batch-<id>'``:
      its four index writes land in overwrite-mode SUBDIRS, and the
      processor first DELETES any subdirs a crashed attempt of the
      same batch left behind, so the recomputation reads exactly the
      pre-batch index state (a partial attempt's keeper sigs must not
      feed candidate generation) and its writes replace, not double.

    ROLLING RECONCILE (``reconcile_every``): the frozen-keeper path
    misses a doc whose only match is a forgotten non-keeper member —
    the measured drift-recall-0 trade.  With ``reconcile_every=k``,
    every batch's RAW docs are also stashed under
    ``<index_path>/_window/batch-<id>`` (overwrite-mode — replay-safe;
    the underscore keeps every index reader blind to it), and every
    k-th batch runs ``dedup.dedup_index_reconcile`` over the retained
    window AT THE START of its processing, BEFORE its own append —
    drift whose missing link arrived within the window is repaired on
    schedule, no operator intervention.  ``window_batches`` bounds the
    retained window (older stashes are pruned AFTER a successful
    reconcile; ``None`` retains everything — full-rebase behavior).

    The before-the-append ordering is what keeps exactly-once: a
    reconcile consolidates previously-appended rows into a fresh
    snapshot, so it must only ever cover COMMITTED batches — if it ran
    after the in-flight batch's append, a crash before the offset
    commit would replay the batch and re-append rows the reconcile
    already consolidated, duplicating them (the tag-subdir hygiene
    cannot remove rows from consolidated snapshot files).  At the
    start of the batch, the replayed attempt's own rows are deleted by
    the hygiene first, the re-run reconcile rebases the same committed
    window to the same assignments (determinism) under a fresh
    snapshot id, and the append then lands exactly once.

    Frozen-keeper semantics are identical to the batch path —
    ``tests/test_dedup_similarity.py`` pins stream ≡ sequential
    build+append over ≥3 micro-batches, restart-no-op, and the
    rolling-reconcile drift repair."""
    import os
    import shutil
    from ..operators import dedup
    schema = spark.read.parquet(corpus_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(corpus_dir))

    def _stash(batch_df, batch_id: int) -> None:
        (batch_df.write.mode("overwrite")
         .parquet(os.path.join(index_path, "_window",
                               f"batch-{batch_id:06d}")))

    def _maybe_reconcile(batch_id: int) -> None:
        # due at the START of every k-th batch — covering only
        # COMMITTED batches' stashes (see the exactly-once note above)
        if not reconcile_every or batch_id % reconcile_every != 0:
            return
        wdir = os.path.join(index_path, "_window")
        if not os.path.isdir(wdir):
            # pre-existing batch-built index + fresh stream: nothing
            # stashed yet, nothing to reconcile
            return
        # STRICTLY EARLIER batches only: a crashed attempt of THIS
        # batch may have stashed (possibly partially) before dying —
        # consuming it here would consolidate the in-flight batch's
        # rows and the re-append after us would duplicate them
        stashes = sorted(d for d in os.listdir(wdir)
                         if d.startswith("batch-")
                         and int(d.split("-")[1]) < batch_id)
        if not stashes:
            return
        win = spark.read.parquet(*(os.path.join(wdir, d)
                                   for d in stashes))
        dedup.dedup_index_reconcile(win, index_path,
                                    threshold=threshold, **dedup_kwargs)
        if window_batches:
            for d in stashes[:-window_batches]:
                shutil.rmtree(os.path.join(wdir, d))

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        has_manifest = os.path.exists(
            os.path.join(index_path, dedup._INDEX_MANIFEST))
        # completion = the _SUCCESS commit marker in every table dir,
        # not directory existence: Spark creates the output dir at job
        # START, so a build that crashed mid-write of its last table
        # leaves all four dirs present but (at least) one of them
        # partial (_temporary or a committed-file subset).  Routing the
        # replayed batch 0 down the append path against that partial
        # index would either wedge the stream ('unable to infer
        # schema') or silently double-append batch-0 keepers — the
        # marker is written only by the job commit, so it is the
        # correct "bootstrap finished" signal.
        flat_complete = all(
            os.path.exists(os.path.join(index_path, t, "_SUCCESS"))
            for t in dedup._INDEX_TABLES)
        if not (has_manifest or flat_complete) \
                or _is_bootstrap_replay(index_path, batch_id,
                                        checkpoint_dir):
            # second disjunct: a COMPLETED bootstrap whose offset never
            # committed replays here (same checkpoint, same batch id) —
            # rebuild (idempotent overwrite) instead of double-appending
            _claim_bootstrap(index_path, batch_id, checkpoint_dir)
            dedup.dedup_index_build(batch_df, index_path,
                                    threshold=threshold, **dedup_kwargs)
            if reconcile_every:
                _stash(batch_df, batch_id)
            return
        tag = f"batch-{batch_id:06d}"
        for d in dedup._index_dirs(index_path).values():
            bdir = os.path.join(d, tag)
            if os.path.exists(bdir):
                shutil.rmtree(bdir)
        # reconcile BEFORE this batch's append (and after the hygiene
        # deleted any crashed attempt's rows) — never after it
        _maybe_reconcile(batch_id)
        dedup.dedup_index_append(batch_df, index_path,
                                 threshold=threshold, batch_tag=tag,
                                 **dedup_kwargs)
        if reconcile_every:
            _stash(batch_df, batch_id)

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_text_index_ingest(spark: SparkSession, corpus_dir: str,
                             index_path: str, checkpoint_dir: str,
                             n_buckets: int = 64,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> StreamingQuery:
    """Streaming twin of the incremental BM25 index: each arriving
    corpus file is one micro-batch — the FIRST builds the index, later
    ones land as per-batch segments via ``append_text_index``.  BM25 is
    exact under segmentation, so the streamed index answers every query
    exactly as a batch rebuild would (pinned in pytest against the
    inline scorer).

    Exactly-once under replays, simpler than the dedup twin because the
    segment design is already idempotent end-to-end: a replayed batch's
    tag maps to the SAME segment directory, whose overwrite-mode writes
    replace any partial or complete earlier attempt, and the manifest's
    segment list deduplicates the re-add under an atomic rename.
    Bootstrap-complete detection keys on the MANIFEST (written last by
    ``build_text_index`` — the commit marker), never on directory
    existence (Spark creates output dirs at job start)."""
    import os
    from ..operators import search
    schema = spark.read.parquet(corpus_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(corpus_dir))

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not os.path.exists(os.path.join(index_path,
                                           search._IDX_MANIFEST)) \
                or _is_bootstrap_replay(index_path, batch_id,
                                        checkpoint_dir):
            # replayed bootstrap (offset never committed) rebuilds —
            # appending would double batch 0's tf/df/n_docs
            _claim_bootstrap(index_path, batch_id, checkpoint_dir)
            search.build_text_index(batch_df, index_path,
                                    n_buckets=n_buckets, id_col=id_col,
                                    text_col=text_col)
            return
        search.append_text_index(batch_df, index_path, id_col=id_col,
                                 text_col=text_col,
                                 batch_tag=f"batch-{batch_id:06d}")

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_ivf_ingest(spark: SparkSession, vectors_dir: str,
                      index_path: str, checkpoint_dir: str,
                      n_centroids: int = 8,
                      quantized: bool = False) -> StreamingQuery:
    """Streaming twin of the incremental IVF index: the first
    micro-batch bootstraps the index (trains the coarse quantizer on
    that batch — the FROZEN-quantizer contract starts there), later
    batches are assigned to the frozen centroids as per-batch list
    segments.  Input files must carry prepared (vec_id, v) rows
    (``similarity.prepare_vectors`` output shape).

    Same exactly-once story as the text twin: replayed tags overwrite
    their own segment, the manifest add deduplicates, and
    bootstrap-complete detection keys on the manifest
    ``build_ivf_index`` writes last."""
    import os
    from ..operators import similarity
    schema = spark.read.parquet(vectors_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(vectors_dir))

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not os.path.exists(os.path.join(index_path,
                                           similarity._IVF_MANIFEST)) \
                or _is_bootstrap_replay(index_path, batch_id,
                                        checkpoint_dir):
            # replayed bootstrap rebuilds (duplicate neighbor rows
            # would otherwise corrupt top-k ranks)
            _claim_bootstrap(index_path, batch_id, checkpoint_dir)
            similarity.build_ivf_index(batch_df, index_path,
                                       n_centroids=n_centroids,
                                       quantized=quantized)
            return
        similarity.append_ivf_index(batch_df, index_path,
                                    batch_tag=f"batch-{batch_id:06d}")

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_semantic_ingest(spark: SparkSession, vectors_dir: str,
                           index_path: str, checkpoint_dir: str,
                           n_clusters: int = 8, threshold: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           reconcile_every: int | None = None,
                           window_batches: int | None = None
                           ) -> StreamingQuery:
    """Streaming twin of the incremental SEMANTIC dedup index —
    completing the streaming story for all four index lifecycles
    (MinHash dedup / BM25 / IVF / semantic): each arriving file of
    (vec_id, embedding) rows is one micro-batch; the FIRST bootstraps
    ``semantic_index_build`` (centroids trained on that batch and
    FROZEN — the frozen-quantizer contract starts at bootstrap), later
    batches dedup against the frozen keeper surface via
    ``semantic_index_append`` under replay-stable ``batch-<id>`` tags.

    Exactly-once story is the dedup twin's, not the BM25/IVF one: the
    build writes flat table dirs (no manifest until a compact), so
    bootstrap-complete detection needs the per-table ``_SUCCESS``
    commit markers (Spark creates output dirs at job START — directory
    existence would route a replayed batch 0 over a half-built index),
    OR the compaction manifest; a completed-build-uncommitted-offset
    replay is caught by the ``_bootstrap_batch`` claim and rebuilds
    idempotently; append replays first delete their own tag subdirs so
    the recomputation reads exactly the pre-batch index state.

    ROLLING RECONCILE (``reconcile_every``/``window_batches``): same
    contract and exactly-once ordering as ``stream_dedup_ingest`` —
    raw batches are stashed under ``<index_path>/_window/batch-<id>``,
    every k-th batch runs ``semantic_index_reconcile`` over the
    STRICTLY EARLIER stashes BEFORE its own append (a reconcile must
    only cover committed batches, or a replayed append would
    re-append rows the reconcile already consolidated)."""
    import os
    import shutil
    from ..operators import dedup
    schema = spark.read.parquet(vectors_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(vectors_dir))

    def _stash(batch_df, batch_id: int) -> None:
        (batch_df.write.mode("overwrite")
         .parquet(os.path.join(index_path, "_window",
                               f"batch-{batch_id:06d}")))

    def _maybe_reconcile(batch_id: int) -> None:
        if not reconcile_every or batch_id % reconcile_every != 0:
            return
        wdir = os.path.join(index_path, "_window")
        if not os.path.isdir(wdir):
            return
        stashes = sorted(d for d in os.listdir(wdir)
                         if d.startswith("batch-")
                         and int(d.split("-")[1]) < batch_id)
        if not stashes:
            return
        win = spark.read.parquet(*(os.path.join(wdir, d)
                                   for d in stashes))
        dedup.semantic_index_reconcile(win, index_path,
                                       threshold=threshold,
                                       id_col=id_col, vec_col=vec_col)
        if window_batches:
            for d in stashes[:-window_batches]:
                shutil.rmtree(os.path.join(wdir, d))

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        has_manifest = os.path.exists(
            os.path.join(index_path, dedup._SEM_MANIFEST))
        flat_complete = all(
            os.path.exists(os.path.join(index_path, t, "_SUCCESS"))
            for t in dedup._SEM_TABLES)
        if not (has_manifest or flat_complete) \
                or _is_bootstrap_replay(index_path, batch_id,
                                        checkpoint_dir):
            _claim_bootstrap(index_path, batch_id, checkpoint_dir)
            dedup.semantic_index_build(batch_df, index_path,
                                       n_clusters=n_clusters,
                                       threshold=threshold,
                                       id_col=id_col, vec_col=vec_col)
            if reconcile_every:
                _stash(batch_df, batch_id)
            return
        tag = f"batch-{batch_id:06d}"
        for d in dedup._sem_dirs(index_path).values():
            bdir = os.path.join(d, tag)
            if os.path.exists(bdir):
                shutil.rmtree(bdir)
        # reconcile BEFORE this batch's append (after the hygiene)
        _maybe_reconcile(batch_id)
        dedup.semantic_index_append(batch_df, index_path,
                                    threshold=threshold, id_col=id_col,
                                    vec_col=vec_col, batch_tag=tag)
        if reconcile_every:
            _stash(batch_df, batch_id)

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_bgp_query(spark: SparkSession, triples_dir: str, state_dir: str,
                     checkpoint_dir: str, patterns, *,
                     values: dict | None = None,
                     filters=(), mode: str = "delta") -> StreamingQuery:
    """Continuous BGP query over streaming KG ingest — a standing
    SPARQL-style conjunctive query whose answer set GROWS as triple
    batches arrive, maintained incrementally: each micro-batch runs
    `kgquery.bgp_match_delta` (one delta-pinned leg per pattern, every
    other pattern reading the full store), so per-batch cost is
    O(batch), never O(store).  Monotone clauses only (patterns, VALUES,
    FILTER) — the delta matcher refuses OPTIONAL/MINUS, whose answers a
    later batch could retract.

    ``mode="rematch"`` trades the O(batch) cost for full generality
    over MONOTONE queries the delta matcher cannot maintain — above
    all property-path patterns (`bgp_match_delta` refuses them: a new
    edge creates paths no delta-pinned leg enumerates): each batch
    re-matches the whole store and anti-joins the stored bindings, so
    only new answers are emitted, exactly-once under the same replay
    contract.  Per-batch cost is O(store-match); a path answer never
    retracts under inserts, so the grow-only binding store stays
    correct.  (Non-monotone clauses stay refused in both modes — a
    retraction cannot be represented in a grow-only answer set.)

    Layout under ``state_dir``: ``triples/batch_tag=…`` (the store,
    one subdir per batch) and ``bindings/batch_tag=…`` (the standing
    query's answers, one subdir per batch).  Exactly-once under
    replays: a replayed batch overwrites its OWN two subdirs; the
    store read and the stored-bindings anti-join both EXCLUDE the
    in-flight batch's tag, so the recomputation sees the same prior
    state and rewrites the same rows instead of emitting duplicates or
    an empty overwrite (the replay hazard of anti-joining one's own
    committed output)."""
    import os
    from ..operators import kgquery

    if mode not in ("delta", "rematch"):
        raise ValueError(f"mode must be 'delta' or 'rematch', got {mode!r}")

    schema = spark.read.parquet(triples_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(triples_dir))
    tri_store = os.path.join(state_dir, "triples")
    bind_store = os.path.join(state_dir, "bindings")

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        tag = f"batch-{batch_id:06d}"
        delta = batch_df.select("subj", "pred", "obj", "doc_id")

        def _read_prior(store):
            if not os.path.isdir(store):
                return None
            prior = sp.read.parquet(store).filter(F.col("batch_tag") != tag)
            return prior.drop("batch_tag")

        prior_tri = _read_prior(tri_store)
        full = delta if prior_tri is None \
            else prior_tri.unionByName(delta)
        if mode == "delta":
            new_b = kgquery.bgp_match_delta(full, delta, patterns,
                                            values=values, filters=filters)
        else:
            new_b = kgquery.bgp_match(full, patterns,
                                      values=values, filters=filters)
        prior_b = _read_prior(bind_store)
        if prior_b is not None:
            new_b = new_b.join(prior_b, on=list(new_b.columns),
                               how="left_anti")
        (new_b.write.mode("overwrite")
         .parquet(os.path.join(bind_store, f"batch_tag={tag}")))
        (delta.write.mode("overwrite")
         .parquet(os.path.join(tri_store, f"batch_tag={tag}")))

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def read_bgp_bindings(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing query's current answer set (all batches' bindings)."""
    import os
    return (spark.read.parquet(os.path.join(state_dir, "bindings"))
            .drop("batch_tag"))


def stream_rules_materialize(spark: SparkSession, triples_dir: str,
                             state_dir: str, checkpoint_dir: str, rules, *,
                             max_rounds: int = 16) -> StreamingQuery:
    """Continuous Datalog materialization over streaming KG ingest — a
    standing rule PROGRAM whose fixpoint GROWS as triple batches arrive,
    maintained incrementally: each micro-batch runs
    `kgquery.materialize_rules_delta` against the prior fixpoint
    (asserted store ∪ derived store ∪ the batch), so per-batch cost is
    O(batch + new consequences), never O(store) — insert-only Datalog
    retracts nothing, which is exactly why the program's monotone-only
    restriction (validated eagerly at submit, before any batch runs)
    makes a grow-only derived store correct.

    Layout under ``state_dir``: ``triples/batch_tag=…`` (asserted facts,
    one subdir per batch) and ``derived/batch_tag=…`` (each batch's new
    consequences).  Exactly-once under replays, same contract as
    `stream_bgp_query`: a replayed batch overwrites its OWN two subdirs,
    and both prior-state reads EXCLUDE the in-flight batch's tag, so the
    recomputation sees the same prior fixpoint and rewrites the same
    rows."""
    import os
    from ..operators import kgquery

    kgquery._compile_rules(rules)
    schema = spark.read.parquet(triples_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(triples_dir))
    tri_store = os.path.join(state_dir, "triples")
    drv_store = os.path.join(state_dir, "derived")

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        tag = f"batch-{batch_id:06d}"
        delta = batch_df.select("subj", "pred", "obj", "doc_id")

        def _read_prior(store):
            if not os.path.isdir(store):
                return None
            prior = sp.read.parquet(store).filter(F.col("batch_tag") != tag)
            return prior.drop("batch_tag")

        full = delta
        for store in (tri_store, drv_store):
            prior = _read_prior(store)
            if prior is not None:
                full = full.unionByName(prior)
        new_d = kgquery.materialize_rules_delta(full, delta, rules,
                                                max_rounds=max_rounds)
        (new_d.write.mode("overwrite")
         .parquet(os.path.join(drv_store, f"batch_tag={tag}")))
        (delta.write.mode("overwrite")
         .parquet(os.path.join(tri_store, f"batch_tag={tag}")))

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def read_rules_facts(spark: SparkSession, state_dir: str,
                     derived_only: bool = False) -> DataFrame:
    """The standing program's current fixpoint (asserted ∪ derived), or
    just the derived facts."""
    import os
    drv = (spark.read.parquet(os.path.join(state_dir, "derived"))
           .drop("batch_tag"))
    if derived_only:
        return drv
    tri = (spark.read.parquet(os.path.join(state_dir, "triples"))
           .drop("batch_tag"))
    return tri.unionByName(drv)


def stream_stratified_materialize(spark: SparkSession, triples_dir: str,
                                  state_dir: str, checkpoint_dir: str,
                                  rules, *, max_rounds: int = 16,
                                  keep_snapshots: int = 2
                                  ) -> StreamingQuery:
    """Continuous STRATIFIED Datalog materialization — the negation-
    capable twin of `stream_rules_materialize`.  The stream itself is
    insert-only, but negation inverts polarity: a new triple landing in
    a negated predicate RETRACTS derived facts above it, so a grow-only
    `derived/batch_tag=…` append store (the monotone twin's layout)
    cannot represent the fixpoint.  The derived store is instead a full
    SNAPSHOT per batch under an atomic `_current.json` manifest — the
    dedup-index commit idiom (`operators/dedup._write_index_snapshot`):
    each micro-batch runs `materialize_rules_stratified_maintain`
    (inserts = the batch, no deletes) against the manifest-resolved
    prior fixpoint, writes `derived_index/snap=batch-NNNNNN/derived`,
    and flips the manifest as the commit point.  Asserted triples stay
    append-only (`triples/batch_tag=…`), same as the monotone twin.

    Costs, stated honestly: per-batch COMPUTE is O(batch + changed
    consequences) (the signed-delta maintainer), but per-batch WRITE is
    O(fixpoint) — the snapshot is the price of retractability, exactly
    the compaction-vs-append trade the dedup index makes.  A program
    with no negation should use `stream_rules_materialize` (O(batch)
    writes); this twin refuses nothing it can run, but the monotone
    twin is the fast path.

    Exactly-once across restarts: a replayed batch overwrites its OWN
    triples subdir and snap directory; the prior-triples read excludes
    the in-flight tag, and the prior-derived read resolves through the
    manifest HISTORY skipping the batch's own snapshot (covering a
    crash after the flip).  ``keep_snapshots`` must be ≥ 2: replay
    safety needs the superseded snapshot to survive until the NEXT
    batch commits (foreachBatch replays at most the one uncommitted
    batch).  Non-stratifiable programs are refused at submit, before
    any batch runs."""
    import json
    import os
    import shutil
    from ..operators import kgquery
    from ..operators.dedup import _manifest_history

    kgquery.stratify_rules(rules)          # eager refusal at submit
    if keep_snapshots < 2:
        raise ValueError(
            "keep_snapshots must be >= 2: a replayed batch resolves its "
            "prior state through the SUPERSEDED snapshot, which must "
            "survive until the next batch's commit")
    schema = spark.read.parquet(triples_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(triples_dir))
    tri_store = os.path.join(state_dir, "triples")
    didx = os.path.join(state_dir, "derived_index")
    man_name = "_current.json"

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        tag = f"batch-{batch_id:06d}"
        delta = batch_df.select("subj", "pred", "obj", "doc_id")

        asserted = delta
        if os.path.isdir(tri_store):
            prior_tri = (sp.read.parquet(tri_store)
                         .filter(F.col("batch_tag") != tag)
                         .drop("batch_tag"))
            asserted = delta.unionByName(prior_tri).distinct()

        hist = [e for e in _manifest_history(didx, man_name)
                if e["snapshot"] != tag]       # replay: skip own snap
        if hist:
            prior_drv = sp.read.parquet(hist[-1]["tables"]["derived"])
            nd = kgquery.materialize_rules_stratified_maintain(
                asserted, prior_drv, delta, delta.limit(0), rules,
                max_rounds=max_rounds)
        else:
            nd = kgquery.materialize_rules_stratified(
                asserted, rules, max_rounds=max_rounds,
                derived_only=True)

        snap_dir = os.path.join(didx, f"snap={tag}", "derived")
        nd.write.mode("overwrite").parquet(snap_dir)
        (delta.write.mode("overwrite")
         .parquet(os.path.join(tri_store, f"batch_tag={tag}")))

        hist = hist + [{"snapshot": tag,
                        "tables": {"derived": snap_dir}}]
        dropped, hist = hist[:-keep_snapshots], hist[-keep_snapshots:]
        manifest = {"snapshot": tag, "tables": {"derived": snap_dir},
                    "history": hist}
        tmp = os.path.join(didx, f".{man_name}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, os.path.join(didx, man_name))   # commit point
        for e in dropped:                               # post-commit vacuum
            shutil.rmtree(os.path.join(didx, f"snap={e['snapshot']}"),
                          ignore_errors=True)

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def read_stratified_facts(spark: SparkSession, state_dir: str,
                          derived_only: bool = False) -> DataFrame:
    """The standing stratified program's current fixpoint (asserted ∪
    derived), or just the derived facts — resolved through the derived
    index's manifest, so a reader always sees one committed snapshot."""
    import json
    import os
    didx = os.path.join(state_dir, "derived_index")
    with open(os.path.join(didx, "_current.json")) as fh:
        man = json.load(fh)
    drv = spark.read.parquet(man["tables"]["derived"])
    if derived_only:
        return drv
    tri = (spark.read.parquet(os.path.join(state_dir, "triples"))
           .drop("batch_tag"))
    return tri.unionByName(drv)


def stream_components(spark: SparkSession, edges_dir: str,
                      state_dir: str, checkpoint_dir: str, *,
                      keep_snapshots: int = 2,
                      edge_schema=None) -> StreamingQuery:
    """Continuous connected-components maintenance over streaming edge
    batches — the streaming twin of `graph.wcc_incremental`.  Edge
    arrivals only MERGE components (insert-only, monotone), so the
    incremental maintainer is exact per batch; but a merge REWRITES
    labels, so a grow-only append store cannot represent the labelling
    — the label table is a full SNAPSHOT per batch under the atomic
    `_current.json` manifest (the stratified twin's layout, which is
    itself the dedup-index commit idiom).  Batch 0 (or a run with no
    committed snapshot) labels from scratch; every later batch lifts
    its edges to the ≤|batch|-edge component graph, solves that, and
    broadcast-rebases the prior snapshot.

    Costs, stated honestly: per-batch COMPUTE is O(batch + one tiny CC
    solve); per-batch WRITE is O(nodes) for the snapshot — the price
    of label rewrites, the same compute/write trade the stratified
    twin documents.  Edges append under ``edges/batch_tag=…``; labels
    under ``comp_index/snap=batch-NNNNNN/labels``.

    Exactly-once across restarts: a replayed batch overwrites its OWN
    edges subdir and snap directory, and the prior-labels read
    resolves through the manifest HISTORY skipping the batch's own
    snapshot (covering a crash after the flip) — hence
    ``keep_snapshots`` ≥ 2, same argument as the stratified twin.
    Deletes are refused by the underlying maintainer's contract
    (component splits need a from-scratch run).

    ``edge_schema`` (a ``StructType`` or DDL string with ``src``/``dst``)
    lets the stream start before the first edge file lands; without it
    the schema is read from the files already in ``edges_dir``."""
    import json
    import os
    import shutil
    from ..operators import graph
    from ..operators.dedup import _manifest_history

    if keep_snapshots < 2:
        raise ValueError(
            "keep_snapshots must be >= 2: a replayed batch resolves its "
            "prior state through the SUPERSEDED snapshot, which must "
            "survive until the next batch's commit")
    if edge_schema is None:
        try:
            edge_schema = spark.read.parquet(edges_dir).schema
        except AnalysisException as e:
            raise ValueError(
                f"cannot read an edge schema from {edges_dir}: pass "
                "edge_schema to start the stream before the first batch"
            ) from e
    stream = (spark.readStream.schema(edge_schema)
              .option("maxFilesPerTrigger", 1).parquet(edges_dir))
    e_store = os.path.join(state_dir, "edges")
    cidx = os.path.join(state_dir, "comp_index")
    man_name = "_current.json"

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        tag = f"batch-{batch_id:06d}"
        delta = batch_df.select("src", "dst")

        hist = [e for e in _manifest_history(cidx, man_name)
                if e["snapshot"] != tag]       # replay: skip own snap
        if hist:
            labels = sp.read.parquet(hist[-1]["tables"]["labels"])
            nd = graph.wcc_incremental(labels, delta)
        else:
            nd = graph.weakly_connected_components(delta)

        snap_dir = os.path.join(cidx, f"snap={tag}", "labels")
        nd.write.mode("overwrite").parquet(snap_dir)
        (delta.write.mode("overwrite")
         .parquet(os.path.join(e_store, f"batch_tag={tag}")))

        hist = hist + [{"snapshot": tag,
                        "tables": {"labels": snap_dir}}]
        dropped, hist = hist[:-keep_snapshots], hist[-keep_snapshots:]
        manifest = {"snapshot": tag, "tables": {"labels": snap_dir},
                    "history": hist}
        tmp = os.path.join(cidx, f".{man_name}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, os.path.join(cidx, man_name))   # commit point
        for e in dropped:                               # post-commit vacuum
            shutil.rmtree(os.path.join(cidx, f"snap={e['snapshot']}"),
                          ignore_errors=True)

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def read_components(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained (node, component) labelling — resolved through
    the component index's manifest, so a reader always sees one
    committed snapshot."""
    import json
    import os
    cidx = os.path.join(state_dir, "comp_index")
    with open(os.path.join(cidx, "_current.json")) as fh:
        man = json.load(fh)
    return spark.read.parquet(man["tables"]["labels"])
