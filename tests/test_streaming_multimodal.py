"""Structured-Streaming incremental pipeline + multimodal plumbing."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

from bran_spark.operators.multimodal import (
    extract_media_features,
    fetch_media_payload,
    media_spans,
)
from bran_spark.streaming.incremental import incremental_triples, windowed_event_counts


def test_incremental_triples_exactly_once(spark, fx_dir, tmp_path):
    docs = spark.read.parquet(f"{fx_dir}/documents_interleaved.parquet").limit(60)
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    # chunk 1 arrives
    docs.where(F.crc32("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    n1 = incremental_triples(spark, src, fx_dir, ck, out)
    assert n1 >= 1
    t1 = spark.read.parquet(out)
    c1 = t1.count()
    docs1 = {r.doc_id for r in t1.select("doc_id").distinct().collect()}
    assert c1 > 0

    # chunk 2 arrives; catch-up processes ONLY the new files
    docs.where(F.crc32("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    incremental_triples(spark, src, fx_dir, ck, out)
    t2 = spark.read.parquet(out)
    assert t2.count() > c1
    # exactly-once: chunk-1 docs not reprocessed (their triple rows unchanged)
    again = t2.join(t2.groupBy("doc_id", "subj", "obj").count().filter("count > 1"),
                    ["doc_id", "subj", "obj"], "left_semi")
    assert again.count() == 0

    # idempotent catch-up with nothing new: no additional rows
    incremental_triples(spark, src, fx_dir, ck, out)
    assert spark.read.parquet(out).count() == t2.count()
    assert docs1 <= {r.doc_id for r in t2.select("doc_id").distinct().collect()}


def test_windowed_event_counts_with_watermark(spark, testdata_dir, tmp_path):
    src = str(tmp_path / "ev")
    shutil.copytree(f"{testdata_dir}/events.parquet", src) if os.path.isdir(
        f"{testdata_dir}/events.parquet"
    ) else spark.read.parquet(f"{testdata_dir}/events.parquet").write.parquet(src)
    out = str(tmp_path / "win_out")
    windowed_event_counts(spark, src, str(tmp_path / "wck"), out)
    res = spark.read.parquet(out)
    assert res.count() > 0
    assert set(res.columns) == {"window_start", "window_end", "event_type", "n", "sum_value"}


def test_media_feature_plumbing(spark, fx_dir):
    docs = spark.read.parquet(f"{fx_dir}/documents_interleaved.parquet")
    media = media_spans(docs)
    n_media = media.count()
    assert n_media > 0
    feats = extract_media_features(fetch_media_payload(media))
    rows = feats.collect()
    assert len(rows) == n_media
    r = rows[0]
    assert len(r.feature) == 8 and all(0.0 <= x <= 1.0 for x in r.feature)
    assert r.width >= 64 and r.height >= 64 and r.n_bytes > 0
    # deterministic across runs
    again = extract_media_features(fetch_media_payload(media))
    assert feats.exceptAll(again).count() == 0


def test_stateful_user_counters_across_batches(spark, testdata_dir, tmp_path):
    """applyInPandasWithState carries per-user state across micro-batches:
    after a second drain over new files, each user's counter equals the
    batch-SQL total (state folded, not recomputed)."""
    from pyspark.sql import Window

    from bran_spark.streaming.incremental import stateful_user_counters

    ev = spark.read.parquet(f"{testdata_dir}/events.parquet").limit(2000)
    src = str(tmp_path / "sev")
    out = str(tmp_path / "sout")
    ck = str(tmp_path / "sck")

    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    stateful_user_counters(spark, src, ck, out)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    stateful_user_counters(spark, src, ck, out)

    snap = spark.read.parquet(out)
    # latest snapshot per user = the fold of everything seen so far
    latest = (
        snap.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("batch_id"), F.desc("n_events")
                )
            ),
        )
        .where("rn = 1")
        .select("user_id", "n_events", "total_value")
    )
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    j = latest.join(want, "user_id", "full").select(
        "user_id",
        latest.n_events.alias("got_n"),
        want.n_events.alias("want_n"),
        latest.total_value.alias("got_v"),
        want.total_value.alias("want_v"),
    )
    bad = j.where(
        (F.col("got_n") != F.col("want_n"))
        | (F.abs(F.col("got_v") - F.col("want_v")) > 1e-6)
    ).count()
    assert bad == 0


def test_video_frame_sampling_and_audio_windows(spark):
    """1 media row -> N typed rows; fan-out is JVM-side (sequence/posexplode),
    decode is the Arrow-batched stub; deterministic across runs."""
    from bran_spark.operators.multimodal import (
        audio_window_energy,
        sample_video_frames,
    )

    media = spark.createDataFrame(
        [
            ("d1", "blob://v/1", "video", bytearray(b"\x01\x02")),
            ("d2", "blob://a/1", "audio", bytearray(b"\x03\x04")),
        ],
        "doc_id string, media_ref string, kind string, payload binary",
    )
    frames = sample_video_frames(media, fps_sample=2, duration_s=4)
    rows = frames.collect()
    assert len(rows) == 8  # 2 fps x 4 s, only the video row fans out
    assert {r.frame_idx for r in rows} == set(range(8))
    assert all(abs(r.t_offset_s - r.frame_idx / 2.0) < 1e-9 for r in rows)
    assert all(len(r.feature) == 8 for r in rows)
    again = sample_video_frames(media, fps_sample=2, duration_s=4)
    assert frames.exceptAll(again).count() == 0

    wins = audio_window_energy(media, window_s=2.0, duration_s=8)
    wrows = sorted(wins.collect(), key=lambda r: r.win_idx)
    assert len(wrows) == 4 and all(r.doc_id == "d2" for r in wrows)
    assert wrows[0].t_start_s == 0.0 and wrows[-1].t_end_s == 8.0
    assert all(0.0 <= r.energy <= 1.0 for r in wrows)


def test_streaming_exact_dedup_drops_later_copies(spark, tmp_path):
    """dropDuplicatesWithinWatermark: exactly ONE representative per content
    hash survives (which copy wins within a micro-batch is undefined — the
    operator keys on the hash, not event-time order), and a duplicate
    arriving in a LATER micro-batch is dropped too: the dedup state carries
    across batches via the checkpoint, bounded by the watermark horizon."""
    import datetime as dt

    from bran_spark.streaming.incremental import streaming_exact_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    spark.createDataFrame(
        [("a", "alpha text", t(0)), ("b", "beta text", t(1)),
         ("c", "alpha text", t(2))],
        "doc_id string, text string, ts timestamp",
    ).write.mode("overwrite").parquet(src)
    streaming_exact_dedup(spark, src, ck, out)
    spark.createDataFrame(
        [("d", "alpha text", t(3)), ("e", "gamma text", t(4))],
        "doc_id string, text string, ts timestamp",
    ).write.mode("append").parquet(src)
    streaming_exact_dedup(spark, src, ck, out)

    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert "b" in got and "e" in got
    alpha_survivors = got & {"a", "c", "d"}
    assert len(alpha_survivors) == 1          # one copy of 'alpha text' total
    assert "d" not in got                     # batch-2 dup dropped by carried state


def test_stream_stream_join_matches_batch(spark, testdata_dir, tmp_path):
    """Watermarked stream-stream join: the streaming result over the events
    table (views x purchases per user within 1 hour) must equal the batch
    join with the identical predicate."""
    from bran_spark.streaming.incremental import streaming_view_purchase_join

    ev = spark.read.parquet(f"{testdata_dir}/events.parquet")
    vdir, pdir = str(tmp_path / "views"), str(tmp_path / "purch")
    ev.where(F.col("event_type") == "view").write.mode("overwrite").parquet(vdir)
    ev.where(F.col("event_type") == "purchase").write.mode("overwrite").parquet(pdir)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    streaming_view_purchase_join(spark, vdir, pdir, ck, out)

    got = spark.read.parquet(out)
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    expect = p.join(
        v,
        F.expr("p_user = v_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR"),
    )
    assert got.count() == expect.count() > 0
    a = {tuple(r) for r in got.select("event_id", "v_ts").collect()}
    b = {tuple(r) for r in expect.select("event_id", "v_ts").collect()}
    assert a == b


def test_stream_static_broadcast_enrichment(spark, testdata_dir, tmp_path):
    """Stream-static join: a streaming source enriched against a broadcast
    in-memory dimension (the streaming form of every linking join in the
    pipeline) — result equals the batch join."""
    dim = spark.createDataFrame(
        [("view", "browse"), ("cart", "intent"), ("purchase", "convert")],
        "event_type string, category string",
    )
    srcdir = str(tmp_path / "src")
    spark.read.parquet(f"{testdata_dir}/events.parquet").write.mode(
        "overwrite"
    ).parquet(srcdir)
    src = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(srcdir)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        src.join(F.broadcast(dim), "event_type")
        .select("event_id", "category")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    batch = (
        spark.read.parquet(f"{testdata_dir}/events.parquet")
        .join(dim, "event_type")
    )
    assert got.count() == batch.count() > 0
    assert {r["category"] for r in got.select("category").distinct().collect()} <= {
        "browse", "intent", "convert"
    }


def test_incremental_ingest_dedups_against_committed_corpus(spark, tmp_path):
    """Two ingest rounds with the same checkpoint: a doc re-arriving in a
    later batch (same content, new doc_id) is dropped by the anti-join
    against the committed store; new content lands exactly once."""
    import datetime as dt
    import os

    from bran_spark.streaming.incremental import incremental_corpus_ingest

    src = str(tmp_path / "arrivals")
    out = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")
    os.makedirs(out, exist_ok=True)
    t = dt.datetime(2024, 1, 1)

    spark.createDataFrame(
        [("a", "alpha text", t), ("b", "beta text", t)],
        "doc_id string, text string, ts timestamp",
    ).write.mode("append").parquet(src)
    incremental_corpus_ingest(spark, src, ck, out)

    # round 2: 'beta text' re-arrives under a new id + one new doc
    spark.createDataFrame(
        [("b2", "beta text", t), ("c", "gamma text", t)],
        "doc_id string, text string, ts timestamp",
    ).write.mode("append").parquet(src)
    incremental_corpus_ingest(spark, src, ck, out)

    rows = spark.read.parquet(out).collect()
    assert sorted(r.text for r in rows) == ["alpha text", "beta text", "gamma text"]
    assert {r.doc_id for r in rows if r.text == "beta text"} == {"b"}  # first sight wins


def test_streaming_sessionize_matches_batch(spark, testdata_dir, tmp_path):
    """Streaming session_window vs the batch sessionize(): every session
    the stream CLOSES (watermark passed) must match its batch twin row
    exactly on (user_id, start_ts, n_events, total_value)."""
    from bran_spark.operators.sessions import sessionize
    from bran_spark.streaming.incremental import streaming_sessionize

    src = str(tmp_path / "ev")
    out = str(tmp_path / "sessions")
    ck = str(tmp_path / "ck")
    ev = spark.read.parquet(f"{testdata_dir}/events.parquet")
    ev.write.mode("overwrite").parquet(src)

    streaming_sessionize(spark, src, ck, out, gap="30 minutes",
                         watermark="1 hour")
    got = {
        (r.user_id, r.start_ts): (r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) > 0
    batch = {
        (r.user_id, r.start_ts): (r.n_events, round(r.total_value, 6))
        for r in sessionize(ev).collect()
    }
    # append mode emits only watermark-closed sessions — a subset of batch,
    # but every emitted row must be byte-identical to its batch twin
    for k, v in got.items():
        assert k in batch, k
        assert batch[k] == v, (k, v, batch[k])


def test_streaming_kg_monitor_per_batch_reports(spark, tmp_path):
    """Micro-batch validation: each arriving triple file chunk gets its
    own violation report (batch_id column), counts match the batch
    operator run on the same rows, and catch-up with nothing new appends
    no report rows (exactly-once per input file)."""
    from bran_spark.streaming.incremental import streaming_kg_monitor

    src = str(tmp_path / "triples")
    out = str(tmp_path / "report")
    ck = str(tmp_path / "ck")
    constraints = spark.createDataFrame(
        [("placed_by", "O", "C", True)],
        "pred string, domain string, range string, functional boolean",
    )

    chunk1 = spark.createDataFrame(
        [("O:1", "placed_by", "C:1"), ("O:1", "placed_by", "C:2")],
        "subj string, pred string, obj string",
    )
    chunk1.coalesce(1).write.mode("append").parquet(src)
    streaming_kg_monitor(spark, src, constraints, ck, out)
    r1 = {(r.kind): r for r in spark.read.parquet(out).collect()}
    assert r1["functional"].n_violations == 1  # O:1 asserts two objects
    assert r1["domain"].n_violations == 0
    n_rows1 = spark.read.parquet(out).count()

    # chunk 2: a mis-typed feed -> domain violations in ITS batch report
    chunk2 = spark.createDataFrame(
        [("S:9", "placed_by", "C:3")], "subj string, pred string, obj string"
    )
    chunk2.coalesce(1).write.mode("append").parquet(src)
    streaming_kg_monitor(spark, src, constraints, ck, out)
    rep = spark.read.parquet(out)
    assert rep.select("batch_id").distinct().count() == 2
    spike = rep.where(
        (F.col("kind") == "domain") & (F.col("n_violations") == 1)
    )
    assert spike.count() == 1  # only chunk 2's batch reports the bad feed

    # idempotent catch-up: no new files -> no new report rows
    streaming_kg_monitor(spark, src, constraints, ck, out)
    assert spark.read.parquet(out).count() == rep.count()
    assert rep.count() > n_rows1


def test_caption_candidates_nearest_text(spark):
    from bran_spark.operators.multimodal import caption_candidates

    spans_schema = (
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>"
    )
    rows = [
        # image mid-doc: prev = nearest text BEFORE, next = nearest AFTER
        ("d1", [("title", "t0", "", 0), ("image", "", "m1", 2),
                ("body", "b1", "", 2), ("body", "b2", "", 5)]),
        # media at the very start and very end: NULL on the open side;
        # two consecutive media spans share the same text neighbors
        ("d2", [("audio", "", "m2", 0), ("body", "x", "", 0),
                ("image", "", "m3", 1), ("image", "", "m4", 1)]),
    ]
    df = spark.createDataFrame(rows, spans_schema)
    got = {
        r.media_ref: (r.prev_text, r.next_text)
        for r in caption_candidates(df).collect()
    }
    assert got == {
        "m1": ("t0", "b1"),
        "m2": (None, "x"),
        "m3": ("x", None),
        "m4": ("x", None),
    }


def test_validate_interleaved_planted_violations(spark):
    """Every rule fires on a planted violation and stays quiet on a
    clean doc; violation units are docs for offsets, spans otherwise."""
    from bran_spark.sources.interleave import validate_interleaved

    schema = (
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>"
    )
    rows = [
        # clean: "ab" at 0, "cd" at 3 (2 + 1 separator), media mid-doc
        ("ok", [("title", "ab", "", 0), ("image", "", "m", 3),
                ("body", "cd", "", 3)]),
        # bad offset (second text span claims 99)
        ("bad_off", [("title", "ab", "", 0), ("body", "cd", "", 99)]),
        # media span with text + missing ref; text span with a ref;
        # unknown kind
        ("bad_shape", [("image", "oops", "", 0), ("body", "xy", "m", 0),
                       ("hologram", "z", "", 3)]),
    ]
    df = spark.createDataFrame(rows, schema)
    got = {
        r.rule: (r.n_checked, r.n_violations)
        for r in validate_interleaved(df).collect()
    }
    assert got["offset_arithmetic"] == (3, 1)   # docs; only bad_off fails
    # non-text spans: 2 images + the unknown 'hologram' (checked by the
    # media rule too — it carries text and no ref, so it violates twice)
    assert got["media_shape"] == (3, 2)
    assert got["text_shape"] == (5, 1)          # title/body spans ('hologram' not counted)
    assert got["kind_known"] == (8, 1)


def test_modality_mix_profile_buckets(spark):
    from bran_spark.operators.multimodal import modality_mix_profile

    docs = spark.createDataFrame(
        [
            ("d1", [("title", "ab", "", 0), ("image", "", "m1", 3)]),
            ("d2", [("title", "abcd", "", 0)]),
            ("d3", [("title", "xy", "", 0), ("image", "", "m2", 3),
                    ("image", "", "m3", 3), ("body", "zz", "", 4)]),
        ],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>",
    )
    out = {r.n_media: r for r in modality_mix_profile(docs).collect()}
    assert out[0].n_docs == 1 and out[0].avg_text_chars == 4.0
    assert out[1].n_docs == 1 and out[1].avg_text_spans == 1.0
    assert out[2].n_docs == 1 and out[2].avg_text_spans == 2.0
    assert out[2].avg_text_chars == 4.0  # "xy" + "zz"


def test_streaming_privacy_monitor_per_batch_census(spark, tmp_path):
    """Micro-batch PII census: each arriving document chunk gets its own
    pattern report (batch_id column) equal to the batch pii_scan on the
    same rows; catch-up with nothing new appends no rows."""
    from bran_spark.operators.contracts import pii_scan
    from bran_spark.streaming.incremental import streaming_privacy_monitor

    src = str(tmp_path / "docs")
    out = str(tmp_path / "pii")
    ck = str(tmp_path / "ck2")
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    chunk1 = spark.createDataFrame(
        [
            (1, "mail me at a@b.co today", "en", "web", 23),
            (2, "clean text only", "en", "web", 15),
        ],
        schema,
    )
    chunk1.coalesce(1).write.mode("append").parquet(src)
    streaming_privacy_monitor(spark, src, ck, out)
    rep1 = spark.read.parquet(out)
    want = {
        (r.grp, r.pattern): (r.n_docs_hit, r.n_matches)
        for r in pii_scan(chunk1).collect()
    }
    got = {
        (r.grp, r.pattern): (r.n_docs_hit, r.n_matches)
        for r in rep1.collect()
    }
    assert got == want and want[("web", "email")] == (1, 1)

    # chunk 2: an unredacted feed → phone hits in ITS batch only
    chunk2 = spark.createDataFrame(
        [(3, "call 555-123-4567 or 555-987-6543", "en", "feed", 33)], schema
    )
    chunk2.coalesce(1).write.mode("append").parquet(src)
    streaming_privacy_monitor(spark, src, ck, out)
    rep = spark.read.parquet(out)
    assert rep.select("batch_id").distinct().count() == 2
    spike = rep.where((F.col("grp") == "feed") & (F.col("pattern") == "phone"))
    assert spike.collect()[0].n_matches == 2

    n = rep.count()
    streaming_privacy_monitor(spark, src, ck, out)  # idempotent catch-up
    assert spark.read.parquet(out).count() == n


def test_streaming_rdfs_closure_matches_batch(spark, tmp_path):
    """Incremental entailment (streaming_rdfs_closure) over two arrival
    waves — with one triple REPEATED across waves and one derivation
    reachable from two different triples — equals the batch
    rdfs_closure on the union: the derivation store dedups at
    re-aggregation, so nothing double-counts."""
    from bran_spark.operators.reasoning import rdfs_closure
    from bran_spark.streaming.incremental import (
        read_entailed_closure,
        streaming_rdfs_closure,
    )

    schema = spark.createDataFrame(
        [
            ("placed_by", "domain", "Order"),
            ("placed_by", "range", "Customer"),
            ("billed_to", "range", "Customer"),
            ("Customer", "subClassOf", "Agent"),
        ],
        ["s", "p", "o"],
    )
    wave1 = [("o1", "placed_by", "c1"), ("o2", "placed_by", "c1")]
    wave2 = [
        ("o1", "placed_by", "c1"),   # exact repeat across waves
        ("o3", "placed_by", "c2"),
        ("o3", "billed_to", "c1"),   # second derivation path for c1
    ]
    src = tmp_path / "triples_in"
    sink = str(tmp_path / "derivations")
    ckpt = str(tmp_path / "ckpt")
    cols = ["subj", "pred", "obj"]

    spark.createDataFrame(wave1, cols).write.mode("append").parquet(str(src))
    streaming_rdfs_closure(spark, str(src), schema, ckpt, sink)
    # after wave 1 the closure covers wave-1 facts only
    got1 = {
        (r.entity, r.cls): r.n_derivations
        for r in read_entailed_closure(spark, sink).collect()
    }
    assert got1[("c1", "Customer")] == 1 and ("o3", "Order") not in got1

    spark.createDataFrame(wave2, cols).write.mode("append").parquet(str(src))
    streaming_rdfs_closure(spark, str(src), schema, ckpt, sink)

    stream = {
        (r.entity, r.cls): r.n_derivations
        for r in read_entailed_closure(spark, sink).collect()
    }
    batch = {
        (r.entity, r.cls): r.n_derivations
        for r in rdfs_closure(
            spark.createDataFrame(wave1 + wave2, cols), schema
        ).collect()
    }
    assert stream == batch
    # c1 is a Customer via placed_by/O AND billed_to/O: two derivations
    assert stream[("c1", "Customer")] == 2
    assert stream[("c1", "Agent")] == 2
