"""Physical-plan regression tests (the plan IS the product at 100 TB),
stable-ordering invariants under salting, the watermarked streaming
rollup, and the encoding-sniff operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from html_parser_spark.config import EXTRACT_CONFIG


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_plan_is_shuffle_free_and_pruned(spark, tmp_path):
    """The flagship stage must stay scan -> project -> one Arrow map
    stage: no Exchange node, and the parquet scan pruned to
    (key, text)."""
    from html_parser_spark.operators.extract import extract_text

    src = str(tmp_path / "tr")
    spark.createDataFrame(
        [("c", 0, "u", "<p>x</p>", None, 0.0)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, extra double",
    ).write.parquet(src)
    df = spark.read.parquet(src)
    plan = _plan(extract_text(df, EXTRACT_CONFIG))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan
    # column pruning: the unused role/tool/extra never reach the scan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    struct = read_schema[0].split("ReadSchema:")[1]
    assert "role" not in struct
    assert "extra" not in struct
    assert "conv_id" in struct and "text" in struct


def test_events_argspec_plan_shuffle_free(spark):
    from html_parser_spark.operators.extract import events

    df = spark.createDataFrame([("c", 0, "<p>x</p>")],
                               "conv_id string, turn_idx int, text string")
    plan = _plan(events(df, fields=("event",)))
    assert "Exchange" not in plan


def test_minhash_signature_plan_shuffle_free(spark):
    from html_parser_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame([(0, "a b c d")],
                               "doc_id long, text string")
    plan = _plan(minhash_signatures(df))
    assert "Exchange" not in plan


def test_stable_sort_invariant_under_salting(spark):
    """north rule: stable (conv_id, turn_idx) output order must not
    depend on the salt bucket count."""
    from html_parser_spark.plans import pipeline

    tr = spark.createDataFrame(
        [(f"c{i % 5}", i, f"<p>{i}</p>") for i in range(100)],
        "conv_id string, turn_idx int, text string")
    outs = []
    for buckets in (1, 4, 16):
        salted = pipeline.salted_repartition(tr, 8, salt_buckets=buckets)
        outs.append([(r.conv_id, r.turn_idx) for r in
                     pipeline.stable_sorted(salted).collect()])
    assert outs[0] == outs[1] == outs[2]
    assert outs[0] == sorted(outs[0])


def test_windowed_rollup_stream_matches_batch(spark, tmp_path):
    from html_parser_spark.streaming import extract_stream as es

    rows = [("c1", i, "u", f"<p>{i}</p>", None,
             f"2026-01-01 00:{i // 10:02d}:{(7 * i) % 60:02d}")
            for i in range(40)]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    src = str(tmp_path / "src")
    tr.write.parquet(src)

    stream = es.read_transcript_stream(spark, src, tr.schema)
    q = (es.turns_per_conv_windowed(stream, window="1 minute",
                                    watermark="2 minutes")
         .writeStream.format("memory").queryName("rollup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.conv_id, r.window_start.minute): (r.n_turns, r.n_chars)
           for r in spark.sql("SELECT * FROM rollup").collect()}
    exp = {(r.conv_id, r.ws.minute): (r.n_turns, r.n_chars)
           for r in tr.groupBy(
               F.window("ts", "1 minute").alias("w"), "conv_id")
           .agg(F.count("*").alias("n_turns"),
                F.sum(F.length("text")).alias("n_chars"))
           .select("conv_id", F.col("w.start").alias("ws"),
                   "n_turns", "n_chars").collect()}
    # append mode only emits windows the watermark has closed; every
    # emitted window must match the batch rollup exactly
    assert got
    for k, v in got.items():
        assert exp[k] == v


def test_bom_stats_flags(spark):
    from html_parser_spark.operators.extract import bom_stats

    df = spark.createDataFrame(
        [("a", 0, "﻿doc with bom"),
         ("b", 0, "plain ascii"),
         ("c", 0, "latin cafÃ© mojibake"),  # UTF-8 as Latin-1
         ("d", 0, "ÿþ utf16le-ish")],
        "conv_id string, turn_idx int, text string")
    out = {r.conv_id: r for r in bom_stats(df).collect()}
    assert out["a"].utf8_bom and not out["a"].maybe_undecoded_utf8
    assert not any([out["b"].utf8_bom, out["b"].utf16_bom,
                    out["b"].maybe_undecoded_utf8])
    assert out["c"].maybe_undecoded_utf8 and not out["c"].utf8_bom
    assert out["d"].utf16_bom


def test_sessionize_batch(spark):
    from pyspark.sql import functions as F

    from html_parser_spark.operators.sessions import sessionize

    rows = [("c1", s) for s in (0, 60, 120, 4000, 4060)] + [("c2", 50)]
    df = spark.createDataFrame(rows, "conv_id string, s long").select(
        "conv_id", F.timestamp_seconds("s").alias("ts"))
    got = {(r.conv_id, r.session_seq):
           (r.session_start_s, r.session_end_s, r.n_turns)
           for r in sessionize(df, gap_seconds=300).collect()}
    assert got == {
        ("c1", 1): (0, 120, 3),
        ("c1", 2): (4000, 4060, 2),
        ("c2", 1): (50, 50, 1),
    }


def test_render_conversations(spark):
    """Chat-template assembly: role/tool tags, null text/role, and
    stability — the doc is identical whatever the input row order or
    partitioning."""
    from pyspark.sql import functions as F

    from html_parser_spark.operators.sessions import render_conversations

    rows = [
        ("c1", 2, "tool", "it is 9", "clock"),
        ("c1", 0, "user", "what time", None),
        ("c1", 1, "assistant", None, None),
        ("c2", 0, None, "solo", None),
    ]
    schema = ("conv_id string, turn_idx int, role string, "
              "text string, tool string")
    df = spark.createDataFrame(rows, schema)
    got = {r.conv_id: (r.n_turns, r.doc)
           for r in render_conversations(df).collect()}
    assert got == {
        "c1": (3, "<|user|>what time\n<|assistant|>\n"
                  "<|tool:clock|>it is 9"),
        "c2": (1, "<||>solo"),
    }
    # stability under reshuffle + reversed input order
    df2 = spark.createDataFrame(list(reversed(rows)), schema) \
        .repartition(7, F.col("turn_idx"))
    got2 = {r.conv_id: (r.n_turns, r.doc)
            for r in render_conversations(df2).collect()}
    assert got2 == got
    # exactly one exchange (the conv_id hash agg), no Python stage
    plan = render_conversations(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1 and "Python" not in plan


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: sessions emit when the
    event-time watermark passes their idle deadline; state stays three
    longs per conversation regardless of turn count."""
    import time as _time

    from pyspark.sql import functions as F

    from html_parser_spark.streaming.extract_stream import (
        sessionize_stream)

    base = 1_700_000_000
    src = str(tmp_path / "sess_src")
    batches = [
        [("c1", base + 0), ("c1", base + 60), ("c1", base + 120)],
        [("c1", base + 4000), ("c1", base + 4060)],
        [("c1", base + 100_000)],   # closes session B
        [("c1", base + 200_000)],   # closes session C (the sentinel)
    ]
    for rows in batches:
        (spark.createDataFrame(rows, "conv_id string, s long")
         .select("conv_id", F.timestamp_seconds("s").alias("ts"))
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)  # distinct mod-times -> stable file order

    stream = (spark.readStream.schema("conv_id string, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stream(stream, gap_seconds=300,
                           watermark="1 second")
         .writeStream.format("memory").queryName("sess_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.conv_id, r.session_start_s):
           (r.session_end_s, r.n_turns)
           for r in spark.sql("SELECT * FROM sess_stream").collect()}
    # sessions A and B must have closed; the final sentinel stays open
    assert got[("c1", base + 0)] == (base + 120, 3)
    assert got[("c1", base + 4000)] == (base + 4060, 2)
    assert ("c1", base + 200_000) not in got


def test_write_training_shards_deterministic_and_balanced(spark, tmp_path):
    """Shard export: membership and intra-shard order are functions
    of the data alone — re-writing from a DIFFERENT input
    partitioning reproduces identical per-shard contents; shard
    sizes are hash-balanced; exactly one data file per shard."""
    import glob

    from html_parser_spark.plans.pipeline import write_training_shards

    rows = [(i, f"text {i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(df, p1, n_shards=8, key_col="doc_id")
    # same data, different physical layout (reversed, 13 partitions)
    df2 = spark.createDataFrame(rows[::-1], "doc_id long, text string") \
        .repartition(13)
    write_training_shards(df2, p2, n_shards=8, key_col="doc_id")

    def read_shards(p):
        out = {}
        for d in glob.glob(p + "/shard=*"):
            files = glob.glob(d + "/*.parquet")
            assert len(files) == 1   # one data file per shard
            sdf = spark.read.parquet(d)
            out[d.rsplit("=", 1)[1]] = [
                (r.doc_id, r.text) for r in sdf.collect()]
        return out

    s1, s2 = read_shards(p1), read_shards(p2)
    assert set(s1) == set(s2) and len(s1) == 8
    for k in s1:   # identical membership AND order per shard
        assert s1[k] == s2[k]
    sizes = sorted(len(v) for v in s1.values())
    assert sum(sizes) == 2000
    # hash balance: every shard within 2x of the mean (2000/8 = 250)
    assert sizes[0] > 125 and sizes[-1] < 500


def test_chunk_documents(spark):
    """Context-window chunking: stride = max - overlap, chunk i
    covers words [i*stride, i*stride + max); short and empty docs
    yield exactly one chunk; chunks reassemble the doc when
    overlap=0."""
    from html_parser_spark.plans.pipeline import chunk_documents

    words = [f"w{i}" for i in range(11)]
    rows = [(0, " ".join(words)), (1, "a b c"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = chunk_documents(df, max_tokens=5, overlap=2)
    got = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
           for r in out.collect()}
    # doc 0: 11 words, stride 3 -> ceil((11-2)/3) = 3 chunks
    assert got[(0, 0)] == (" ".join(words[0:5]), 5)
    assert got[(0, 1)] == (" ".join(words[3:8]), 5)
    assert got[(0, 2)] == (" ".join(words[6:11]), 5)
    assert got[(1, 0)] == ("a b c", 3)
    assert got[(2, 0)] == ("", 1)      # empty doc -> one empty chunk
    assert len(got) == 5

    # overlap=0 chunks partition the doc exactly
    parts = [r.chunk_text for r in
             chunk_documents(df.filter("doc_id = 0"), max_tokens=4)
             .orderBy("chunk_idx").collect()]
    assert " ".join(parts).split() == words


def test_pack_sequences_invariants(spark):
    """Sequence packing: every doc lands in exactly one pack; packs
    hold consecutive whole docs with every doc STARTING before the
    token budget (overflow <= one straddling doc); pack_pos is dense
    1..m; and the whole assignment is a pure function of the data —
    identical after repartitioning/reversing the input."""
    from html_parser_spark.plans.pipeline import pack_sequences

    rows = [(i, " ".join(f"w{j}" for j in range((i % 7) + 1)))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, target_tokens=10, buckets=2).collect()
    assert len(out) == 60 and len({r.doc_id for r in out}) == 60

    packs: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r.pack_id, r.pack_pos)):
        packs.setdefault(r.pack_id, []).append(r)
    for pid, members in packs.items():
        assert [m.pack_pos for m in members] == \
            list(range(1, len(members) + 1))
        # every member's start offset inside the pack < target
        start = 0
        for m in members:
            assert start < 10
            start += m.n_tokens

    out2 = pack_sequences(
        spark.createDataFrame(rows[::-1], "doc_id long, text string")
        .repartition(11), target_tokens=10, buckets=2).collect()
    assert sorted((r.doc_id, r.pack_id, r.pack_pos) for r in out) == \
        sorted((r.doc_id, r.pack_id, r.pack_pos) for r in out2)


def test_bucketed_join_is_co_located(spark, tmp_path):
    """Two tables bucketed on conv_id join WITHOUT any Exchange on
    either side — the co-located-join strategy for 100 TB
    extracted-output x metadata joins."""
    from html_parser_spark.plans.pipeline import write_bucketed

    left = spark.createDataFrame(
        [(f"c{i}", i, f"text {i}") for i in range(50)],
        "conv_id string, turn_idx int, extracted_text string")
    right = spark.createDataFrame(
        [(f"c{i}", i % 3) for i in range(50)],
        "conv_id string, quality int")
    write_bucketed(left, "t_left_bkt", n_buckets=8)
    write_bucketed(right, "t_right_bkt", n_buckets=8,
                   sort_cols=("conv_id",))
    # at test scale the planner would broadcast the tiny side (which
    # disables bucketing); forbid it to expose the 100 TB plan shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (spark.table("t_left_bkt")
             .join(spark.table("t_right_bkt"), "conv_id"))
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        assert j.count() == 50
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_left_bkt")
        spark.sql("DROP TABLE IF EXISTS t_right_bkt")


def test_sessionize_stream_intra_batch_gap(spark, tmp_path):
    """A single micro-batch whose rows span an idle gap (backfill /
    replay / large trigger) must produce the SAME session boundaries
    as the batch operator — the batch is split on intra-batch gaps,
    not collapsed into one session."""
    import time as _time

    from pyspark.sql import functions as F

    from html_parser_spark.streaming.extract_stream import (
        sessionize_stream)

    base = 1_700_000_000
    src = str(tmp_path / "sess_gap_src")
    batches = [
        # ONE file = ONE micro-batch containing two full sessions and
        # the start of a third
        [("c1", base + 0), ("c1", base + 60), ("c1", base + 120),
         ("c1", base + 4000), ("c1", base + 4060),
         ("c1", base + 9000)],
        [("c1", base + 100_000)],   # closes session C
        [("c1", base + 200_000)],   # sentinel advances the watermark
    ]
    for rows in batches:
        (spark.createDataFrame(rows, "conv_id string, s long")
         .select("conv_id", F.timestamp_seconds("s").alias("ts"))
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    stream = (spark.readStream.schema("conv_id string, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stream(stream, gap_seconds=300,
                           watermark="1 second")
         .writeStream.format("memory").queryName("sess_gap")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.conv_id, r.session_start_s): (r.session_end_s, r.n_turns)
           for r in spark.sql("SELECT * FROM sess_gap").collect()}
    # identical boundaries to operators.sessions.sessionize on the
    # same rows: three closed sessions, the sentinel stays open
    assert got[("c1", base + 0)] == (base + 120, 3)
    assert got[("c1", base + 4000)] == (base + 4060, 2)
    assert got[("c1", base + 9000)] == (base + 9000, 1)
    assert ("c1", base + 100_000) in got


def test_dedup_exact_stream(spark, tmp_path):
    """Streaming exact dedup keeps the first arrival per text hash
    and drops in-watermark duplicates; state evicts via
    dropDuplicatesWithinWatermark."""
    import time as _time

    from pyspark.sql import functions as F

    from html_parser_spark.streaming.extract_stream import (
        dedup_exact_stream)

    base = 1_700_000_000
    src = str(tmp_path / "dd_src")
    batches = [
        [("c1", 0, "same text", base), ("c2", 0, "other", base + 1)],
        [("c3", 0, "same text", base + 10),   # dup -> dropped
         ("c4", 0, "fresh", base + 11)],
    ]
    for rows in batches:
        (spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string, s long")
         .select("conv_id", "turn_idx", "text",
                 F.timestamp_seconds("s").alias("ts"))
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    stream = (spark.readStream
              .schema("conv_id string, turn_idx int, text string, "
                      "ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (dedup_exact_stream(stream, watermark="1 hour")
         .writeStream.format("memory").queryName("dd_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.conv_id: r.text
           for r in spark.sql("SELECT * FROM dd_stream").collect()}
    assert set(got) == {"c1", "c2", "c4"}  # c3 was the duplicate


def test_content_and_pdf_plans_shuffle_free(spark):
    """The new content/pdf operators keep the per-turn plan shape:
    one Arrow map stage, zero Exchange."""
    from html_parser_spark.operators.content import (
        extract_tables, main_content)
    from html_parser_spark.operators.pdf import (
        extract_pdf_text, synth_pdf_payloads)

    tr = spark.createDataFrame([("c", 0, "<p>words here now</p>")],
                               "conv_id string, turn_idx int, text string")
    assert "Exchange" not in _plan(main_content(tr))
    assert "Exchange" not in _plan(extract_tables(tr))
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    assert "Exchange" not in _plan(
        extract_pdf_text(synth_pdf_payloads(docs)))


def test_new_source_plans_shuffle_free(spark):
    """The round-5 sources/decoders keep the per-row plan shape —
    one Arrow map stage, zero Exchange — and the WebDataset sample
    grouping is exactly ONE Exchange (its single partial-agg
    groupBy), with map-side combine visible as two HashAggregates."""
    from html_parser_spark.operators.audio import (
        decode_flac_meta, decode_mp3_meta, synth_flac_audio,
        synth_mp3_audio)
    from html_parser_spark.operators.subtitles import (
        subtitle_cues, synth_subtitles)
    from html_parser_spark.operators.video import (
        extract_video_captions, sample_video_frames,
        synth_mp4_videos, video_meta)
    from html_parser_spark.sources.tarshard import (
        synth_tar_shards, tar_members, webdataset_samples)
    from html_parser_spark.sources.warc import (
        synth_warc, warc_records)

    docs = spark.createDataFrame([(1, "x")],
                                 "doc_id long, text string")
    tr = spark.createDataFrame([("1", "<p>x</p>")],
                               "conv_id string, text string")
    for df in (warc_records(synth_warc(tr)),
               tar_members(synth_tar_shards(docs)),
               subtitle_cues(synth_subtitles(docs)),
               sample_video_frames(synth_mp4_videos(docs)),
               video_meta(synth_mp4_videos(docs, fragmented=True)),
               extract_video_captions(synth_mp4_videos(docs)),
               decode_mp3_meta(synth_mp3_audio(docs)),
               decode_flac_meta(synth_flac_audio(docs))):
        plan = _plan(df)
        assert "Exchange" not in plan, plan
    agg_plan = _plan(webdataset_samples(
        tar_members(synth_tar_shards(docs))))
    assert agg_plan.count("Exchange") == 1, agg_plan
    assert agg_plan.count("HashAggregate") == 2, agg_plan


def test_warc_and_tar_streams_match_batch(spark, tmp_path):
    """Stream==batch parity for the archive sources: the WARC
    record walk and the tar member walk are stateless Arrow maps,
    so they run verbatim over binary-payload streams."""
    from html_parser_spark.sources.tarshard import (
        synth_tar_shards, tar_members)
    from html_parser_spark.sources.warc import (
        synth_warc, warc_records)

    docs = spark.createDataFrame(
        [(i, f"<p>doc {i}</p>") for i in range(6)],
        "doc_id long, text string")
    tr = docs.selectExpr("CAST(doc_id AS STRING) AS conv_id",
                         "text")
    wsrc = str(tmp_path / "warc_src")
    synth_warc(tr).write.parquet(wsrc)
    tsrc = str(tmp_path / "tar_src")
    synth_tar_shards(docs).write.parquet(tsrc)
    bschema = "doc_id long, payload binary"

    qw = (warc_records(
            spark.readStream.schema(bschema).parquet(wsrc))
          .writeStream.format("memory").queryName("warc_stream")
          .outputMode("append").trigger(availableNow=True).start())
    qt = (tar_members(
            spark.readStream.schema(bschema).parquet(tsrc))
          .writeStream.format("memory").queryName("tar_stream")
          .outputMode("append").trigger(availableNow=True).start())
    qw.awaitTermination(120)
    qt.awaitTermination(120)

    got_w = sorted(map(tuple, spark.sql(
        "SELECT * FROM warc_stream").collect()))
    exp_w = sorted(map(tuple, warc_records(synth_warc(tr))
                       .collect()))
    assert got_w == exp_w and len(got_w) == 18  # 6 docs x 3 records
    got_t = sorted(map(tuple, spark.sql(
        "SELECT * FROM tar_stream").collect()))
    exp_t = sorted(map(tuple, tar_members(synth_tar_shards(docs))
                       .collect()))
    assert got_t == exp_t and len(got_t) > 0


def test_session_update_pure_kernel():
    """The per-batch session kernel: intra-batch gap splits, merge
    with stored state, late-row start extension, gap close."""
    from html_parser_spark.streaming.extract_stream import (
        _session_update)

    # fresh conversation, batch spans two gaps
    closed, open_ = _session_update(
        None, [0, 60, 120, 4000, 4060, 9000], 300)
    assert closed == [(0, 120, 3), (4000, 4060, 2)]
    assert open_ == (9000, 9000, 1)

    # contiguous batch merges into the stored open session
    closed, open_ = _session_update((0, 120, 3), [200, 260], 300)
    assert closed == [] and open_ == (0, 260, 5)

    # late rows (inside watermark) BEFORE the stored start extend it
    closed, open_ = _session_update((100, 200, 2), [50, 250], 300)
    assert closed == [] and open_ == (50, 250, 4)

    # idle gap before the batch closes the stored session
    closed, open_ = _session_update((0, 120, 3), [1000, 1030], 300)
    assert closed == [(0, 120, 3)] and open_ == (1000, 1030, 2)

    # gap close AND intra-batch split in one batch
    closed, open_ = _session_update((0, 120, 3), [1000, 5000], 300)
    assert closed == [(0, 120, 3), (1000, 1000, 1)]
    assert open_ == (5000, 5000, 1)

    # a run ending long BEFORE the stored session (watermark delay >
    # gap) must close as its OWN session, while the later row joins
    # the stored span — a signed first-run test would glue the 900s
    # gap and detach the true continuation
    closed, open_ = _session_update((1000, 1000, 1), [100, 1010], 300)
    assert closed == [(100, 100, 1)] and open_ == (1000, 1010, 2)


def test_minhash_signatures_stream_match_batch(spark, tmp_path):
    """MinHash signatures are a stateless narrow projection, so the
    batch operator runs verbatim over a stream — signature parity
    certifies the dedup front-end for continuous ingestion."""
    from html_parser_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"doc number {i} with some shingle words here {i}")
         for i in range(12)],
        "doc_id long, text string")
    src = str(tmp_path / "mh_src")
    docs.write.parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    q = (minhash_signatures(stream, num_hashes=8)
         .writeStream.format("memory").queryName("mh_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql(
        "SELECT * FROM mh_stream").collect()))
    exp = sorted(map(tuple, minhash_signatures(
        docs, num_hashes=8).collect()))
    assert got == exp and len(got) == 12


def test_quality_and_url_gates_stream_match_batch(spark, tmp_path):
    """Stream==batch parity for the round-5 curation gates: the C4
    page filter and the RefinedWeb URL gate are stateless narrow
    projections, so the batch operators run verbatim over a stream —
    gate-verdict parity certifies continuous-ingestion curation."""
    from html_parser_spark.operators.textstats import c4_quality
    from html_parser_spark.operators.urls import url_filter

    docs = spark.createDataFrame(
        [(i, ("a good first sentence lives here.\n"
              "short\n" + ("lorem ipsum dolor sit amet.\n"
                           if i % 3 == 0 else "")
              + f"another closing sentence number {i} here.\n"
              "and one final line to make three!"),
          f"https://{'t.co' if i % 4 == 0 else 'ok.org'}/p{i}")
         for i in range(12)],
        "doc_id long, text string, url string")
    src = str(tmp_path / "gate_src")
    docs.write.parquet(src)
    stream = (spark.readStream
              .schema("doc_id long, text string, url string")
              .parquet(src))

    def gates(df):
        # url rides through c4_quality as a key column, so the
        # composition stays one stateless projection chain — no join
        return url_filter(c4_quality(df, ["doc_id", "url"]),
                          blocked_domains=("t.co",))

    q = (gates(stream)
         .writeStream.format("memory").queryName("gate_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql(
        "SELECT * FROM gate_stream").collect()))
    exp = sorted(map(tuple, gates(docs).collect()))
    assert got == exp and len(got) == 12
    by_id = {t[0]: t for t in got}
    cols = gates(docs).columns
    passes, keep = cols.index("passes_c4"), cols.index("keep_url")
    assert not by_id[0][passes] and not by_id[0][keep]  # lorem + t.co
    assert by_id[1][passes] and by_id[1][keep]


def test_decontaminate_stream_matches_batch(spark, tmp_path):
    """Stream==batch parity for benchmark decontamination: the
    stateless per-row eval-shingle filter keeps/drops exactly the
    docs the batch anti-join operator does (leaked doc and verbatim
    eval doc dropped, clean docs kept)."""
    from html_parser_spark.operators.dedup import decontaminate
    from html_parser_spark.streaming.extract_stream import (
        decontaminate_stream)

    EV = "the capital of france is paris said the guide"
    docs = spark.createDataFrame(
        [
            (0, "intro words then " + EV + " trailing tail"),
            (1, "completely unrelated text about spark shuffles"),
            (2, EV),
            (3, "the capital of france shifted wording avoids runs"),
        ],
        "doc_id long, text string")
    ev = spark.createDataFrame([(EV,)], "text string")
    src = str(tmp_path / "dc_src")
    docs.write.parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    q = (decontaminate_stream(stream, ev, n=5)
         .writeStream.format("memory").queryName("dc_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.doc_id for r in
                 spark.sql("SELECT * FROM dc_stream").collect())
    exp = sorted(r.doc_id for r in
                 decontaminate(docs, ev, n=5).collect())
    assert got == exp == [1, 3]


def test_main_content_stream_matches_batch(spark, tmp_path):
    """Stream==batch parity for the round-3 content operators:
    main_content and content_blocks run verbatim over a stream (the
    per-turn Arrow fan-out is stateless, append mode)."""
    from html_parser_spark.operators.content import (
        content_blocks, main_content)
    from html_parser_spark.streaming import extract_stream as es

    tr = spark.createDataFrame(
        [("c1", i, "user",
          "<nav>home | about | contact</nav>"
          f"<p>real article text with many words number {i} plus "
          "several more content words in this paragraph</p>"
          '<div><a href="/x">l1</a> <a href="/y">l2</a></div>', None)
         for i in range(8)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string")
    src = str(tmp_path / "r3_src")
    tr.write.parquet(src)
    stream = es.read_transcript_stream(spark, src, tr.schema)

    qm = (main_content(stream)
          .writeStream.format("memory").queryName("mc_stream")
          .outputMode("append").trigger(availableNow=True).start())
    qb = (content_blocks(stream)
          .writeStream.format("memory").queryName("cb_stream")
          .outputMode("append").trigger(availableNow=True).start())
    qm.awaitTermination(120)
    qb.awaitTermination(120)

    got_m = sorted(map(tuple, spark.sql(
        "SELECT * FROM mc_stream").collect()))
    exp_m = sorted(map(tuple, main_content(tr).collect()))
    assert got_m == exp_m and len(got_m) == 8
    got_b = sorted(map(tuple, spark.sql(
        "SELECT * FROM cb_stream").collect()))
    exp_b = sorted(map(tuple, content_blocks(tr).collect()))
    assert got_b == exp_b and len(got_b) > 8  # >1 block per turn


def test_tables_stream_matches_batch(spark, tmp_path):
    """Stream==batch parity for extract_tables (stateless per-turn
    fan-out, append mode)."""
    from html_parser_spark.operators.content import extract_tables
    from html_parser_spark.streaming import extract_stream as es

    tr = spark.createDataFrame(
        [("c1", i, "user",
          f"<table><tr><th>h{i}</th></tr><tr><td>v &amp; {i}</td>"
          "<td>w</td></tr></table>", None)
         for i in range(6)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string")
    src = str(tmp_path / "tbl_src")
    tr.write.parquet(src)
    stream = es.read_transcript_stream(spark, src, tr.schema)
    q = (extract_tables(stream)
         .writeStream.format("memory").queryName("tbl_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql(
        "SELECT * FROM tbl_stream").collect()))
    exp = sorted(map(tuple, extract_tables(tr).collect()))
    assert got == exp and len(got) == 18  # 3 cells x 6 turns


def test_pdf_and_media_stream_match_batch(spark, tmp_path):
    """Stream==batch parity for the binary codec stages: PDF text
    extraction and image-header metadata decode run verbatim over a
    stream of binary payloads (stateless Arrow maps)."""
    from html_parser_spark.operators.media import (
        decode_image_meta, synth_image_payloads)
    from html_parser_spark.operators.pdf import (
        extract_pdf_text, synth_pdf_payloads)

    docs = spark.createDataFrame(
        [(i, f"body text {i}") for i in range(6)],
        "doc_id long, text string")

    pdf_src = str(tmp_path / "pdf_src")
    synth_pdf_payloads(docs).write.parquet(pdf_src)
    img_src = str(tmp_path / "img_src")
    synth_image_payloads(docs).write.parquet(img_src)
    bschema = "doc_id long, payload binary"

    qp = (extract_pdf_text(
            spark.readStream.schema(bschema).parquet(pdf_src))
          .writeStream.format("memory").queryName("pdf_stream")
          .outputMode("append").trigger(availableNow=True).start())
    qi = (decode_image_meta(
            spark.readStream.schema(bschema).parquet(img_src))
          .writeStream.format("memory").queryName("img_stream")
          .outputMode("append").trigger(availableNow=True).start())
    qp.awaitTermination(120)
    qi.awaitTermination(120)

    got_p = sorted(map(tuple, spark.sql(
        "SELECT * FROM pdf_stream").collect()))
    exp_p = sorted(map(tuple,
                       extract_pdf_text(synth_pdf_payloads(docs))
                       .collect()))
    assert got_p == exp_p and len(got_p) == 6
    assert all(r[1] == 3 for r in got_p)  # n_pages from the fixture

    got_i = sorted(map(tuple, spark.sql(
        "SELECT * FROM img_stream").collect()))
    exp_i = sorted(map(tuple,
                       decode_image_meta(synth_image_payloads(docs))
                       .collect()))
    assert got_i == exp_i and len(got_i) == 6


def test_video_frames_stream_matches_batch(spark, tmp_path):
    """Stream==batch parity for MP4 frame sampling: the box walk +
    per-frame JPEG decode runs verbatim over a stream of binary
    payloads (stateless Arrow map, append mode)."""
    from html_parser_spark.operators.video import (
        sample_video_frames, synth_mp4_videos)

    docs = spark.createDataFrame(
        [(i, f"body text {i}") for i in range(6)],
        "doc_id long, text string")
    src = str(tmp_path / "mp4_src")
    synth_mp4_videos(docs).write.parquet(src)

    q = (sample_video_frames(
            spark.readStream.schema("doc_id long, payload binary")
            .parquet(src), every_n=2)
         .writeStream.format("memory").queryName("vid_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.sql(
        "SELECT * FROM vid_stream").collect()))
    exp = sorted(map(tuple,
                     sample_video_frames(synth_mp4_videos(docs),
                                         every_n=2).collect()))
    assert got == exp
    # 6 docs x ceil(n_frames/2) sampled frames, n = 3 + d % 5
    assert len(got) == sum(-(-(3 + d % 5) // 2) for d in range(6))
