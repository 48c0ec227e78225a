"""Resume/lineage (FIXTURES.md resume family), streaming micro-batch parity,
and multimodal plumbing tests."""

import os

import pytest
from pyspark.sql import functions as F

from legal_ner_spark import synth
from legal_ner_spark.operators import extract as ops
from legal_ner_spark.operators import multimodal
from legal_ner_spark.plans import ledger
from legal_ner_spark.streaming.stream import stream_extract


@pytest.fixture()
def corpus(spark):
    return synth.synthetic_corpus(spark, 16, partitions=4)


def _bucket_recompute(spark, out, n_buckets):
    """Per-bucket counters recomputed from the written records, after
    checking each record sits in its doc id's hash bucket."""
    recs = ledger.read_all_records(spark, out)
    assert recs.filter(F.col("bucket") != F.pmod(
        F.xxhash64("doc_id"), F.lit(n_buckets))).count() == 0
    is_doc = F.col("rec_type") == "doc"
    return {r.bucket: (r.n_docs, r.n_records, r.span_checksum)
            for r in recs.groupBy("bucket").agg(
                F.sum(is_doc.cast("int")).alias("n_docs"),
                F.count("*").alias("n_records"),
                F.sum(F.when(is_doc, F.crc32(F.to_json("spans")))
                      .otherwise(0)).alias("span_checksum")).collect()}


def test_resume_skips_completed_buckets(spark, corpus, tmp_path):
    out = str(tmp_path / "kg")
    # first run dies after 3 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        ledger.run_with_resume(corpus, out, n_buckets=6, fail_after=3)
    done1 = ledger.completed_buckets(out)
    assert len(done1) == 3
    # restart completes only the remaining buckets
    processed = ledger.run_with_resume(corpus, out, n_buckets=6)
    assert sorted(processed) == sorted(set(range(6)) - set(done1))
    # final triples identical to a straight run
    resumed = {(r.doc_id, r.subj, r.pred, r.obj) for r in ops.triples(
        ledger.read_all_records(spark, out)).collect()}
    direct = {(r.doc_id, r.subj, r.pred, r.obj)
              for r in ops.triples(ops.extract_records(corpus)).collect()}
    assert resumed == direct
    # lineage rows carry metrics equal to a recompute from the records
    rows = ledger.completed_buckets(out)
    assert {b: (r["n_docs"], r["n_records"], r["span_checksum"])
            for b, r in rows.items() if r["n_docs"]} \
        == _bucket_recompute(spark, out, 6)
    assert sum(r["n_docs"] for r in rows.values()) == 16
    assert all(r["wall_ms"] >= 0 for r in rows.values())


def test_resume_is_idempotent_when_all_done(spark, corpus, tmp_path):
    out = str(tmp_path / "kg2")
    ledger.run_with_resume(corpus, out, n_buckets=4)
    assert ledger.run_with_resume(corpus, out, n_buckets=4) == []


def test_more_buckets_than_docs_writes_zero_rows(spark, corpus, tmp_path):
    out = str(tmp_path / "kg4")
    assert ledger.run_with_resume(corpus, out, n_buckets=32) \
        == list(range(32))
    rows = ledger.completed_buckets(out)
    assert sorted(rows) == list(range(32))
    assert sum(r["n_docs"] for r in rows.values()) == 16
    written = _bucket_recompute(spark, out, 32)
    for b, r in rows.items():
        if b not in written:
            assert (r["n_docs"], r["n_records"], r["span_checksum"],
                    r["approx_distinct_objs"]) == (0, 0, 0, 0)
    assert {b for b, r in rows.items() if r["n_docs"]} == set(written)


def test_ledger_run_is_bucket_count_independent_in_jobs(corpus, tmp_path,
                                                         count_jobs):
    """One run is one write plus one read-back, however many buckets:
    the job count is the same at 4 and 16 buckets, two per shuffle."""
    jobs = {n: count_jobs(lambda n=n: ledger.run_with_resume(
        corpus, str(tmp_path / f"j{n}"), n_buckets=n))[1] for n in (4, 16)}
    assert jobs[4] == jobs[16] <= 4, jobs


def test_stream_extract_matches_batch(spark, corpus, tmp_path):
    corpus_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus.write.parquet(corpus_dir)
    q = stream_extract(spark, corpus_dir, out_dir, ckpt)
    assert q.awaitTermination(120)
    got = {(r.doc_id, r.subj, r.pred, r.obj)
           for r in ops.triples(spark.read.parquet(out_dir)).collect()}
    want = {(r.doc_id, r.subj, r.pred, r.obj)
            for r in ops.triples(ops.extract_records(corpus)).collect()}
    assert got == want
    # availableNow + checkpoint: restarting processes nothing new
    q2 = stream_extract(spark, corpus_dir, out_dir, ckpt)
    assert q2.awaitTermination(60)
    n_after = ops.triples(spark.read.parquet(out_dir)).count()
    assert n_after == len(want)


def test_media_features_deterministic(spark, corpus):
    feats = multimodal.extract_media_features(corpus).collect()
    by_ref = {f.media_ref: f for f in feats}
    assert all(f.decode_ok and len(f.features) == f.feature_dim == 8
               for f in feats)
    # deterministic: same refs → same vectors on a second run
    again = {f.media_ref: f.features
             for f in multimodal.extract_media_features(corpus).collect()}
    assert all(again[r] == f.features for r, f in by_ref.items())
    stats = {r.kind: r.n_spans for r in multimodal.media_stats(corpus).collect()}
    assert set(stats) <= {"image", "scan", "audio"}


def test_resize_and_frame_sample_plumbing(spark, corpus):
    """Resize (1-in-1-out, binary column) and frame sampling (1-in-N-out
    UDTF fan-out) — stubbed codecs, real Arrow plumbing."""
    from pyspark.sql import functions as F
    n_img = multimodal.media_spans(corpus) \
        .filter(F.col("kind").isin("image", "scan")).count()
    resized = multimodal.resize_images(corpus, width=64, height=64).collect()
    assert len(resized) == n_img
    assert all(r.resize_ok and r.width == 64 and isinstance(r.resized, (bytes, bytearray))
               and len(r.resized) == 64 * 64 // 64 for r in resized)

    n_av = multimodal.media_spans(corpus) \
        .filter(~F.col("kind").isin("image", "scan")).count()
    frames = multimodal.sample_frames(corpus, n_frames=3,
                                      spacing_sec=0.5).collect()
    assert len(frames) == n_av * 3                       # exact fan-out
    by_ref = {}
    for f in frames:
        by_ref.setdefault(f.media_ref, []).append(f)
    for ref, fs in by_ref.items():
        assert sorted(x.frame_idx for x in fs) == [0, 1, 2]
        assert {round(x.ts_sec, 2) for x in fs} == {0.0, 0.5, 1.0}
        assert len({x.frame_fingerprint for x in fs}) == 3


def test_stateful_running_statute_counts(spark, tmp_path):
    """applyInPandasWithState keeps cumulative per-statute counts across
    micro-batches (two files → two batches with maxFilesPerTrigger=1)."""
    import pandas as pd
    from legal_ner_spark.streaming.stateful import running_statute_counts
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("canonical", T.StringType())])
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    b1 = spark.createDataFrame(
        [("Indian Penal Code",)] * 3 + [("Criminal Procedure Code",)], schema)
    b2 = spark.createDataFrame(
        [("Indian Penal Code",)] * 2 + [("Constitution",)], schema)
    b1.coalesce(1).write.parquet(in_dir + "/f1")
    b2.coalesce(1).write.parquet(in_dir + "/f2")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir + "/*"))

    def sink(batch_df, batch_id):
        # update-mode state output lands as an append-log of running totals
        batch_df.write.mode("append").parquet(out_dir)

    q = (running_statute_counts(stream)
         .writeStream.outputMode("update").foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    res = spark.read.parquet(out_dir).toPandas()
    ipc = res[res.canonical == "Indian Penal Code"].sort_values("n_total")
    # cumulative totals across the two batches: 3 then 5 (order of file
    # pickup is nondeterministic, so accept 2-then-5 as well)
    assert list(ipc.n_total)[-1] == 5
    assert ipc.n_batch.sum() == 5


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    """Watermarked tumbling-window aggregation: the streaming result over
    file micro-batches must equal the identical batch definition (one
    shared operator, complete output mode)."""
    from pyspark.sql import functions as F
    from legal_ner_spark.streaming.stream import windowed_event_counts
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir, ckpt = str(tmp_path / "ev"), str(tmp_path / "ckpt_w")
    ev.repartition(4).write.parquet(in_dir)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (windowed_event_counts(stream, "10 minutes", "30 minutes")
         .writeStream.format("memory").queryName("win_counts")
         .outputMode("complete")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {(r.window_start, r.window_end, r.event_type): r.n_events
           for r in spark.sql("SELECT * FROM win_counts").collect()}
    want = {(r.window_start, r.window_end, r.event_type): r.n_events
            for r in windowed_event_counts(ev, "10 minutes", "30 minutes")
            .collect()}
    assert got == want and len(want) > 0


def test_windowed_counts_drop_late_rows_past_watermark(spark, tmp_path):
    """Append-mode watermark semantics: a row arriving later than the
    watermark behind max event time must be DROPPED, not reopen its
    (already finalized) window — the state-bounding contract at corpus
    scale.  Three sequential availableNow runs over one checkpoint:
    (1) early events, (2) events 2h later (advances the watermark past
    the early windows), (3) a late straggler inside an early window."""
    import datetime as dt
    from legal_ner_spark.streaming.stream import windowed_event_counts

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    in_dir = str(tmp_path / "ev_late")
    out_dir = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "ckpt_late")

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        q = (windowed_event_counts(stream, "10 minutes", "30 minutes")
             .writeStream.format("parquet").outputMode("append")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        return {(r.window_start, r.window_end, r.event_type): r.n_events
                for r in spark.read.parquet(out_dir).collect()}

    early = [(i, base + dt.timedelta(minutes=i), 1, "click", 1.0, "{}")
             for i in range(5)]                     # all in [00:00, 00:10)
    drop(early)
    # 2h later: watermark advances to ~01:30, finalizing the early window
    later = [(100 + i, base + dt.timedelta(hours=2, minutes=i), 1,
              "click", 1.0, "{}") for i in range(3)]
    drop(later)
    # a straggler at 00:02 — 2h late, far past the 30-min watermark
    emitted = drop([(999, base + dt.timedelta(minutes=2), 1,
                     "click", 1.0, "{}")])
    early_key = (base, base + dt.timedelta(minutes=10), "click")
    # the early window finalized WITHOUT the straggler, emitted exactly once
    assert emitted.get(early_key) == 5, emitted


def test_transform_with_state_matches_apply_in_pandas_with_state(spark, tmp_path):
    """The Spark-4 typed-state operator must produce the same cumulative
    totals as the applyInPandasWithState form over the same two
    micro-batches.  Requires google.protobuf (the TWS state-server
    protocol) — auto-skips where absent, like the spaCy swap point."""
    pytest.importorskip("google.protobuf.descriptor",
                        reason="transformWithState needs protobuf")
    import pandas as pd
    from legal_ner_spark.streaming.stateful import (
        running_statute_counts, running_statute_counts_tws)

    # transformWithStateInPandas requires the RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   "org.apache.spark.sql.execution.streaming.state."
                   "RocksDBStateStoreProvider")
    in_dir = str(tmp_path / "mentions")
    b1 = pd.DataFrame({"canonical": ["IPC", "IPC", "CrPC"]})
    b2 = pd.DataFrame({"canonical": ["IPC", "Evidence Act"]})

    def final_totals(op, ckpt, qname):
        spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(in_dir)
        spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(in_dir)
        stream = (spark.readStream.schema("canonical string")
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        q = (op(stream).writeStream.format("memory").queryName(qname)
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        rows = spark.sql(f"SELECT * FROM {qname}").collect()
        out = {}
        for r in rows:   # update mode re-emits; keep the max total per key
            out[r.canonical] = max(out.get(r.canonical, 0), r.n_total)
        return out

    want = {"IPC": 3, "CrPC": 1, "Evidence Act": 1}
    got_a = final_totals(running_statute_counts, "ck_a", "tws_a")
    assert got_a == want, got_a
    import shutil
    shutil.rmtree(in_dir)
    got_b = final_totals(running_statute_counts_tws, "ck_b", "tws_b")
    assert got_b == want, got_b


def test_stream_dedup_within_watermark_drops_replays(spark, tmp_path):
    """dropDuplicatesWithinWatermark: replayed/duplicate event rows
    arriving within the watermark horizon are dropped — the streamed
    distinct-id set must equal the batch dropDuplicates of the same
    files, with bounded state (unlike stream dropDuplicates)."""
    from pyspark.sql import functions as F
    from legal_ner_spark.streaming.stream import dedup_events_stream
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .limit(200).cache())
    in_dir, ckpt = str(tmp_path / "dup_ev"), str(tmp_path / "ckpt_d")
    ev.repartition(2).write.parquet(in_dir)                   # originals
    # replay half the events again as a second file set (at-least-once)
    (ev.filter("event_id % 2 = 0").repartition(1)
     .write.mode("append").parquet(in_dir))
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (dedup_events_stream(stream, ("event_id",), "2 hours")
         .writeStream.format("memory").queryName("dedup_ev")
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_ev").collect()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids)) == ev.count()            # one row per id
    # batch leg of the same operator = plain dropDuplicates
    batch = dedup_events_stream(spark.read.parquet(in_dir), ("event_id",))
    assert batch.count() == ev.count()
    ev.unpersist()


def test_session_stats_stream_matches_batch(spark, tmp_path):
    """Gap-session stats: the stateful streaming session_window result
    must equal the identical batch definition, including sessions that
    EXTEND across micro-batch boundaries (state-store merge).  Three
    sequential availableNow runs over one checkpoint feed chronological
    chunks (session windows discard watermark-late input even in
    complete mode, so an unordered replay would diverge by design —
    production ingest is time-ordered, e.g. Iceberg appends)."""
    import datetime as dt
    from legal_ner_spark.streaming.stream import session_event_stats

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    in_dir, ckpt = str(tmp_path / "ev_s"), str(tmp_path / "ckpt_s")

    def m(minutes):
        return base + dt.timedelta(minutes=minutes)

    chunks = [
        # user 1: one session 0-20; user 2: singleton at 5
        [(1, m(0), 1, "c", 1.0, "{}"), (2, m(10), 1, "c", 2.0, "{}"),
         (3, m(20), 1, "c", 3.0, "{}"), (4, m(5), 2, "c", 4.0, "{}")],
        # user 1: 25 EXTENDS the open session across the batch boundary;
        # 100 opens a new one
        [(5, m(25), 1, "c", 5.0, "{}"), (6, m(100), 1, "c", 6.0, "{}")],
        # user 2: new session; user 1: 115 extends the 100-session
        [(7, m(110), 2, "c", 7.0, "{}"), (8, m(115), 1, "c", 8.0, "{}")],
    ]
    for rows in chunks:
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        q = (session_event_stats(stream, "30 minutes", "1 hour")
             .writeStream.format("memory").queryName("sess_stats")
             .outputMode("complete")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
    got = {(r.user_id, r.session_start, r.session_end):
           (r.n_events, r.sum_value)
           for r in spark.sql("SELECT * FROM sess_stats").collect()}
    ev = spark.createDataFrame([r for c in chunks for r in c], schema)
    want = {(r.user_id, r.session_start, r.session_end):
            (r.n_events, r.sum_value)
            for r in session_event_stats(ev, "30 minutes", "1 hour")
            .collect()}
    assert got == want and len(want) == 4
    # the boundary-spanning session really merged: 4 events, 0 -> 25+30min
    assert got[(1, m(0), m(55))] == (4, 11.0)


def test_stream_kmv_state_equals_batch_sketch(spark, tmp_path):
    """Incremental KMV maintenance: partial sketches appended per
    micro-batch, folded on read, must equal the one-pass batch sketch
    digest-for-digest — and a checkpointed restart must change nothing
    (idempotent batch=<id> state partitions)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from legal_ner_spark.operators import sketch as sk
    from legal_ner_spark.streaming.stream import (read_kmv_state,
                                                  stream_kmv_sketch)
    schema = T.StructType([T.StructField("grp", T.StringType()),
                           T.StructField("val", T.LongType())])
    rows = [("a", v * 31 % 500) for v in range(2000)] + \
           [("b", v) for v in range(40)]
    df = spark.createDataFrame(rows, schema=schema)
    in_dir, state, ckpt = (str(tmp_path / d) for d in
                           ("in", "state", "ckpt"))
    # three separate files -> at least two micro-batches at
    # maxFilesPerTrigger=1 (merge across batch boundaries is the point)
    for i in range(3):
        (df.filter(F.col("val") % 3 == i)
         .write.mode("append").parquet(in_dir))
    q = stream_kmv_sketch(spark, in_dir, state, ckpt, schema,
                          "grp", "val", k=64, max_files_per_trigger=1)
    assert q.awaitTermination(120)
    want = {r.grp: (r.sketch_digest, r.est_distinct, r.sketch_size)
            for r in sk.kmv_sketch(df, "grp", "val", k=64).collect()}
    got = {r.grp: (r.sketch_digest, r.est_distinct, r.sketch_size)
           for r in read_kmv_state(spark, state, k=64).collect()}
    assert got == want
    assert got["b"][2] == 40            # exact below k
    # restart with the same checkpoint: no new state partitions
    import os
    n_parts = len(os.listdir(state))
    q2 = stream_kmv_sketch(spark, in_dir, state, ckpt, schema,
                           "grp", "val", k=64, max_files_per_trigger=1)
    assert q2.awaitTermination(60)
    assert len(os.listdir(state)) == n_parts
    assert {r.grp: r.sketch_digest
            for r in read_kmv_state(spark, state, k=64).collect()} \
        == {g: w[0] for g, w in want.items()}


def test_stream_cdc_state_equals_batch_apply(spark, tmp_path):
    """Incremental CDC materialization: per-micro-batch FOLDED partials,
    folded again on read, must equal the one-pass batch cdc_apply — even
    when changes arrive OUT OF ORDER across batches (a key's winning
    change in an earlier micro-batch than a stale one: the seq-keyed
    fold, not arrival order, decides).  Restart with the same checkpoint
    must add no state partitions and change nothing."""
    import os
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from legal_ner_spark.plans import maintenance as mt
    from legal_ner_spark.streaming.stream import (read_cdc_state,
                                                  stream_cdc_state)
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("seq", T.LongType()),
                           T.StructField("op", T.StringType()),
                           T.StructField("val", T.StringType())])
    rows = [((v * 7) % 13, v, "DIU"[v % 3], f"v{v}") for v in range(120)]
    df = spark.createDataFrame(rows, schema=schema)
    in_dir, state, ckpt = (str(tmp_path / d) for d in
                           ("in", "state", "ckpt"))
    # seq % 3 split ⇒ every micro-batch holds an interleaved slice of
    # the log, so most keys' winners arrive in a DIFFERENT batch than
    # their stale changes
    for i in range(3):
        (df.filter(F.col("seq") % 3 == i)
         .write.mode("append").parquet(in_dir))
    q = stream_cdc_state(spark, in_dir, state, ckpt, schema,
                         ("k",), ("val",), ("seq",),
                         max_files_per_trigger=1)
    assert q.awaitTermination(120)
    empty = spark.createDataFrame([], "k bigint, val string")
    want = sorted((r.k, r.val)
                  for r in mt.cdc_apply(empty, df, ["k"], ["val"],
                                        ["seq"]).collect())
    got = sorted((r.k, r.val)
                 for r in read_cdc_state(spark, state, ("k",), ("val",),
                                         ("seq",)).collect())
    assert got == want and len(want) > 0
    n_parts = len(os.listdir(state))
    q2 = stream_cdc_state(spark, in_dir, state, ckpt, schema,
                          ("k",), ("val",), ("seq",),
                          max_files_per_trigger=1)
    assert q2.awaitTermination(60)
    assert len(os.listdir(state)) == n_parts
    assert sorted((r.k, r.val)
                  for r in read_cdc_state(spark, state, ("k",), ("val",),
                                          ("seq",)).collect()) == want


def test_snapshot_publish_is_atomic_across_tables(spark, tmp_path):
    """A publish that dies between table writes must be invisible:
    readers resolve through the manifest, which still names the previous
    snapshot's immutable directories.  Completing the publish flips ALL
    tables at once; republishing the same snapshot id is idempotent."""
    import os
    from legal_ner_spark.plans import publish
    root = str(tmp_path / "kg")
    t1a = spark.createDataFrame([(1, "x")], ["k", "v"])
    t1b = spark.createDataFrame([(1, 10)], ["k", "n"])
    publish.publish_tables({"triples": t1a, "stats": t1b}, root, "v1")
    assert publish.current_manifest(root)["snapshot"] == "v1"

    # v2 write crashes after the first table (simulate: write one
    # snapshot dir directly, never swap the manifest)
    t2a = spark.createDataFrame([(2, "y")], ["k", "v"])
    t2a.write.mode("overwrite").parquet(
        os.path.join(root, "triples", "snap=v2"))
    got = publish.read_published(spark, root, "triples").collect()
    assert [(r.k, r.v) for r in got] == [(1, "x")]      # still v1
    assert publish.read_published(spark, root, "stats").collect()[0].n == 10

    # complete v2: both tables flip together
    t2b = spark.createDataFrame([(2, 20)], ["k", "n"])
    publish.publish_tables({"triples": t2a, "stats": t2b}, root, "v2")
    assert [(r.k, r.v) for r in
            publish.read_published(spark, root, "triples").collect()] \
        == [(2, "y")]
    assert publish.read_published(spark, root, "stats").collect()[0].n == 20
    # v1 stays readable (time travel until vacuum)
    v1 = spark.read.parquet(os.path.join(root, "triples", "snap=v1"))
    assert [(r.k, r.v) for r in v1.collect()] == [(1, "x")]
    # idempotent replay of v2
    publish.publish_tables({"triples": t2a, "stats": t2b}, root, "v2")
    assert publish.read_published(spark, root, "triples").count() == 1


def test_maintain_table_job_two_cycles(spark, tmp_path, monkeypatch):
    """jobs/maintain_table.py end to end, two days of change logs: day 1
    bootstraps from the empty base, day 2 applies deletes/updates/
    inserts over the PUBLISHED day-1 snapshot, carries the untouched
    history table BY REFERENCE, and vacuums — which must keep the
    carried day-1 snapshot alive because the manifest still names it.
    Final state must equal the whole-log fold, and the atomic flip must
    keep both tables mutually consistent."""
    import sys
    from jobs import maintain_table
    from legal_ner_spark.plans import maintenance as mt, publish

    day1 = [(1, 1, "I", "a"), (2, 2, "I", "b"), (3, 3, "I", "c")]
    day2 = [(1, 4, "D", None), (2, 5, "U", "b2"), (4, 6, "I", "d")]
    schema = "k bigint, seq bigint, op string, v string"
    c1, c2, root = (str(tmp_path / d) for d in ("c1", "c2", "root"))
    spark.createDataFrame(day1, schema).write.parquet(c1)
    spark.createDataFrame(day2, schema).write.parquet(c2)

    def run(changes, snap, extra=()):
        monkeypatch.setattr(sys, "argv", [
            "maintain_table.py", "--changes", changes, "--root", root,
            "--table", "state", "--keys", "k", "--values", "v",
            "--seq", "seq", "--snapshot-id", snap,
            "--master", "local[8]", *extra])
        maintain_table.main()

    run(c1, "s1", extra=("--scd2-attr", "v"))
    assert {(r.k, r.v) for r in
            publish.read_published(spark, root, "state").collect()} \
        == {(1, "a"), (2, "b"), (3, "c")}
    assert publish.read_published(spark, root,
                                  "state_history").count() == 3

    run(c2, "s2", extra=("--vacuum",))
    got = {(r.k, r.v) for r in
           publish.read_published(spark, root, "state").collect()}
    whole = mt.cdc_apply(
        spark.createDataFrame([], "k bigint, v string"),
        spark.read.parquet(c1).unionByName(spark.read.parquet(c2)),
        ["k"], ["v"], ["seq"])
    assert got == {(r.k, r.v) for r in whole.collect()} \
        == {(2, "b2"), (3, "c"), (4, "d")}
    # history was carried by reference into snapshot s2: same s1 path,
    # still readable AFTER vacuum (manifest names it → vacuum keeps it)
    m = publish.current_manifest(root)
    assert m["snapshot"] == "s2"
    assert m["tables"]["state_history"].endswith("snap=s1")
    assert publish.read_published(spark, root,
                                  "state_history").count() == 3
    # the state table's s1 dir is unreferenced and was vacuumed
    import os
    assert sorted(os.listdir(os.path.join(root, "state"))) == ["snap=s2"]


def test_vacuum_removes_only_unreachable_snapshots(spark, tmp_path):
    """vacuum must drop snapshots the manifest no longer names, never
    the current one, honour keep_ids (the in-flight-publish escape
    hatch), and report-without-deleting under dry_run."""
    import os
    from legal_ner_spark.plans import publish
    root = str(tmp_path / "kg")
    df = spark.createDataFrame([(1, "x")], ["k", "v"])
    for sid in ("v1", "v2", "v3"):
        publish.publish_tables({"triples": df, "stats": df}, root, sid)
    # a half-written, unreferenced v4 (publish in flight)
    df.write.mode("overwrite").parquet(
        os.path.join(root, "triples", "snap=v4"))

    dry = publish.vacuum(root, keep_ids={"v4"}, dry_run=True)
    assert dry == {"triples": ["v1", "v2"], "stats": ["v1", "v2"]}
    assert os.path.isdir(os.path.join(root, "triples", "snap=v1"))

    removed = publish.vacuum(root, keep_ids={"v4"})
    assert removed == dry
    left = sorted(os.listdir(os.path.join(root, "triples")))
    assert left == ["snap=v3", "snap=v4"]
    # current snapshot untouched and still readable
    assert publish.read_published(spark, root, "triples").count() == 1
    # without keep_ids the in-flight v4 is garbage and goes too
    assert publish.vacuum(root) == {"triples": ["v4"]}


def test_stream_stream_conversion_join_matches_batch(spark, tmp_path):
    """The time-bounded stream-stream join, run as a REAL streaming
    query (two readStream sides, bounded state via watermarks + the
    time condition, parquet append sink), must emit exactly the batch
    join's rows across micro-batch boundaries (clicks and purchases
    arriving in different files)."""
    import datetime as dt
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from legal_ner_spark.streaming.stream import conversion_join
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType())])
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, 7, "click", t0, 0.0),
        (2, 7, "purchase", t0 + 30 * m, 9.5),     # inside 1h -> match
        (3, 7, "purchase", t0 + 90 * m, 1.0),     # outside 1h of click 1
        (4, 8, "click", t0 + 5 * m, 0.0),
        (5, 8, "purchase", t0 + 6 * m, 2.25),     # match
        (6, 9, "purchase", t0 + 10 * m, 3.0),     # purchase w/o click
        (7, 7, "click", t0 + 31 * m, 0.0),        # matches purchase 3 only
    ]
    df = spark.createDataFrame(rows, schema=schema)
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in
                             ("in", "out", "ck"))
    # clicks and purchases land in separate files -> separate batches
    df.filter("event_type = 'click'").write.mode("append").parquet(in_dir)
    df.filter("event_type = 'purchase'").write.mode("append") \
        .parquet(in_dir)
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    joined = conversion_join(src.filter("event_type = 'click'"),
                             src.filter("event_type = 'purchase'"))
    q = (joined.writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {(r.user_id, r.click_id, r.purchase_id, r.purchase_value)
           for r in spark.read.parquet(out_dir).collect()}
    want = {(r.user_id, r.click_id, r.purchase_id, r.purchase_value)
            for r in conversion_join(
                df.filter("event_type = 'click'"),
                df.filter("event_type = 'purchase'")).collect()}
    assert got == want
    assert got == {(7, 1, 2, 9.5),   # inside the hour
                   (7, 7, 3, 1.0),   # 2nd click catches the late purchase
                   (8, 4, 5, 2.25)}  # and nothing else: no (1->3) pair
                                     # (90m gap) and no user-9 orphan


def _drop_ordered(dfs, in_dir):
    """Write each frame as one parquet file with strictly increasing
    mtimes so the file source triggers them in order (new files tracked
    via a seen-set — Spark may leave multiple part files)."""
    import time
    now = time.time()
    seen: set = set()
    for i, df in enumerate(dfs):
        df.coalesce(1).write.mode("append").parquet(in_dir)
        for f in os.listdir(in_dir):
            p = os.path.join(in_dir, f)
            if f not in seen:
                seen.add(f)
                t = now + 100 * (i + 1)
                os.utime(p, (t, t))


def test_stream_text_index_ingest_matches_inline_and_restarts(spark,
                                                              tmp_path):
    """Streaming BM25 ingest: batch 1 bootstraps (manifest = commit
    marker), later batches land as segments — the streamed index must
    serve EXACTLY the inline scorer over the union (BM25 is exact under
    segmentation), and a restart over the same checkpoint must change
    nothing."""
    from legal_ner_spark.operators import search
    from legal_ner_spark.streaming.stream import stream_text_index_ingest
    rows = [(i, f"join merge alpha{i % 7} beta{i % 5} gamma pad pad")
            for i in range(120)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    in_dir = str(tmp_path / "arrivals")
    _drop_ordered([docs.filter("doc_id < 40"),
                   docs.filter("doc_id >= 40 and doc_id < 80"),
                   docs.filter("doc_id >= 80")], in_dir)
    idx, ckpt = str(tmp_path / "tidx"), str(tmp_path / "ck")
    q = stream_text_index_ingest(spark, in_dir, idx, ckpt, n_buckets=16)
    assert q.awaitTermination(180)
    want = [(r.doc_id, r.bm25)
            for r in search.bm25_topk(docs, ["join", "gamma"], k=15)
            .collect()]
    got = [(r.doc_id, r.bm25)
           for r in search.query_text_index(spark, idx,
                                            ["join", "gamma"],
                                            k=15).collect()]
    assert got == want
    # restart: nothing new arrives, index unchanged
    q2 = stream_text_index_ingest(spark, in_dir, idx, ckpt, n_buckets=16)
    assert q2.awaitTermination(120)
    got2 = [(r.doc_id, r.bm25)
            for r in search.query_text_index(spark, idx,
                                             ["join", "gamma"],
                                             k=15).collect()]
    assert got2 == want


def test_stream_text_index_ingest_bootstrap_replay_rebuilds(spark,
                                                            tmp_path):
    """The replay window segment tags don't cover: a bootstrap that
    COMPLETES (manifest landed) but whose streaming offset never
    commits replays as batch 0.  Simulated faithfully by deleting the
    checkpoint's commits/0 marker (offsets kept — exactly the crash
    window) and restarting on the SAME checkpoint: the claim marker
    must route the replay down the rebuild (idempotent overwrite) —
    appending would double batch 0's tf/df/n_docs and corrupt every
    BM25 score.  The complementary case must NOT rebuild: a NEW stream
    (fresh checkpoint, new data) over the existing index appends — a
    bare batch-id claim would make its batch 0 wipe the first corpus."""
    import shutil
    from legal_ner_spark.operators import search
    from legal_ner_spark.streaming.stream import stream_text_index_ingest
    rows = [(i, f"join merge alpha{i % 7} gamma pad") for i in range(60)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    in_dir = str(tmp_path / "arrivals")
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    idx = str(tmp_path / "tidx")
    ck1 = str(tmp_path / "ck1")
    q = stream_text_index_ingest(spark, in_dir, idx, ck1, n_buckets=16)
    assert q.awaitTermination(120)
    want = [(r.doc_id, r.bm25)
            for r in search.query_text_index(spark, idx,
                                             ["join", "gamma"],
                                             k=10).collect()]
    # crash window: batch 0's data committed, streaming offset not —
    # restart on the SAME checkpoint replays batch 0
    shutil.rmtree(os.path.join(ck1, "commits"))
    q2 = stream_text_index_ingest(spark, in_dir, idx, ck1, n_buckets=16)
    assert q2.awaitTermination(120)
    got = [(r.doc_id, r.bm25)
           for r in search.query_text_index(spark, idx,
                                            ["join", "gamma"],
                                            k=10).collect()]
    assert got == want
    # exactly one corpus-worth of postings — not two
    n = search.text_index_stats(spark, idx).collect()[0]
    assert n.n_docs == 60 and n.n_segments == 1
    # NEW stream, fresh checkpoint, new corpus → APPEND, never rebuild
    in2 = str(tmp_path / "arrivals2")
    spark.createDataFrame([(100 + i, f"join gamma extra{i} pad pad")
                           for i in range(10)], ["doc_id", "text"]) \
        .coalesce(1).write.mode("append").parquet(in2)
    q3 = stream_text_index_ingest(spark, in2, idx,
                                  str(tmp_path / "ck2"), n_buckets=16)
    assert q3.awaitTermination(120)
    n2 = search.text_index_stats(spark, idx).collect()[0]
    assert n2.n_docs == 70 and n2.n_segments == 2


def test_stream_ivf_ingest_matches_batch_under_frozen_centroids(spark,
                                                                tmp_path):
    """Streaming IVF ingest: batch 1 trains the quantizer (frozen from
    then on), later batches append list segments — queries must equal
    an index built over the union with batch 1's centroids."""
    import random
    from legal_ner_spark.operators import similarity
    from legal_ner_spark.streaming.stream import stream_ivf_ingest
    rng = random.Random(13)
    dim = 8
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(90)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = similarity.prepare_vectors(emb.filter("vec_id < 4"))
    cs = similarity.prepare_vectors(emb.filter("vec_id >= 4"))
    b1 = cs.filter("vec_id < 40")
    b2 = cs.filter("vec_id >= 40")

    in_dir = str(tmp_path / "vec_arrivals")
    _drop_ordered([b1, b2], in_dir)
    idx, ckpt = str(tmp_path / "ivf"), str(tmp_path / "ckv")
    q = stream_ivf_ingest(spark, in_dir, idx, ckpt, n_centroids=4)
    assert q.awaitTermination(180)

    full = str(tmp_path / "full")
    similarity.build_ivf_index(cs, full,
                               centroids=similarity.ivf_centroids(
                                   b1, n_centroids=4))
    want = {(r.query_id, r.rnk): r.neighbor_id
            for r in similarity.query_ivf_index(spark, full, qs, k=3,
                                                n_probe=2).collect()}
    got = {(r.query_id, r.rnk): r.neighbor_id
           for r in similarity.query_ivf_index(spark, idx, qs, k=3,
                                               n_probe=2).collect()}
    assert got == want
