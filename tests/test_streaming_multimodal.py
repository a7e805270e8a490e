"""Streaming (batch-parity via AvailableNow) and multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_windowed_counts_match_batch(spark):
    from lsh_spark.sources.io import load_table
    from lsh_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        windowed_event_counts,
    )

    stream = read_events_stream(spark, SF_DIR)
    assert stream.isStreaming
    q = run_available_now(
        windowed_event_counts(stream), "win_counts", output_mode="complete")
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }

    ev = load_table(spark, SF_DIR, "events")
    want = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in (
            ev.groupBy(
                F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.expr("CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)")
                 .alias("total_value"))
            .select(F.col("win.start").alias("window_start"),
                    "event_type", "n_events", "total_value")
        ).collect()
    }
    assert got == want


def test_streaming_stateful_user_totals(spark):
    from lsh_spark.sources.io import load_table
    from lsh_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        running_user_totals,
    )

    stream = read_events_stream(spark, SF_DIR)
    q = run_available_now(
        running_user_totals(stream), "user_totals", output_mode="update")
    q.awaitTermination(120)
    got = {r.user_id: (r.n_events, r.total_value)
           for r in spark.sql(
               "SELECT * FROM user_totals").collect()}

    ev = load_table(spark, SF_DIR, "events")
    want = {r.user_id: (r.n_events, r.total_value)
            for r in ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .collect()}
    assert set(got) == set(want)
    for uid, (n, _tv) in want.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - _tv) < 0.05  # float accumulation in state


def test_multimodal_feature_extraction(spark):
    from lsh_spark.multimodal.media import (
        extract_features,
        media_dedup_by_digest,
        synthesize_media_from_documents,
    )
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(60)
    media = synthesize_media_from_documents(docs)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 60
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r.kind, []).append(r)
        assert r.n_bytes is not None and r.n_bytes > 0
        assert len(r.digest) == 64
    assert set(by_kind) == {"image", "audio", "video"}
    for r in by_kind["image"]:
        assert r.n_frames == 1 and r.width is not None
    for r in by_kind["audio"]:
        assert r.width is None and r.n_frames > 1
    # determinism: same content → same digest/features
    again = {r.media_id: (r.digest, r.width, r.n_frames)
             for r in extract_features(media).collect()}
    for r in rows:
        assert again[r.media_id] == (r.digest, r.width, r.n_frames)

    dups = media_dedup_by_digest(feats)
    assert dups.count() >= 0  # schema + run; dup presence depends on corpus


def test_multimodal_custom_decoder_registration(spark):
    from lsh_spark.multimodal import media as M

    def fancy(kind, content):
        return {"width": 99, "height": 98, "n_frames": 7}

    before = M.DECODERS["image"]
    M.DECODERS["image"] = fancy
    try:
        docs = spark.createDataFrame([(0, "hello world")], ["doc_id", "text"])
        m = M.synthesize_media_from_documents(docs)
        r = M.extract_features(m).first()
        assert (r.width, r.height, r.n_frames) == (99, 98, 7)
    finally:
        M.DECODERS["image"] = before


def test_streaming_dedup_and_udf(spark):
    from lsh_spark.sources.io import load_table
    from lsh_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        streaming_dedup,
        streaming_minhash_signatures,
    )

    stream = read_events_stream(spark, SF_DIR)
    q = run_available_now(
        streaming_dedup(stream, key_cols=["user_id", "event_type"]),
        "dedup_stream", output_mode="append")
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM dedup_stream").first().n
    ev = load_table(spark, SF_DIR, "events")
    want = ev.dropDuplicates(["user_id", "event_type"]).count()
    assert got == want

    q2 = run_available_now(
        streaming_minhash_signatures(read_events_stream(spark, SF_DIR)),
        "minhash_stream", output_mode="append")
    q2.awaitTermination(120)
    rows = spark.sql("SELECT * FROM minhash_stream").collect()
    assert len(rows) == ev.count()
    assert all(len(r.props_bands) == 4 for r in rows)


def test_streaming_near_dup_foreachbatch(spark, tmp_path):
    from lsh_spark.sources.io import load_table
    from lsh_spark.streaming.events import streaming_near_dup_against_corpus

    corpus = load_table(spark, SF_DIR, "documents").where("doc_id >= 250")
    # stream the first 250 docs in as files
    incoming = load_table(spark, SF_DIR, "documents").where("doc_id < 250")
    src_dir = str(tmp_path / "incoming")
    incoming.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(incoming.schema).parquet(src_dir)

    q = streaming_near_dup_against_corpus(
        stream, corpus, "stream_matches", threshold=0.6)
    q.awaitTermination(180)
    got = spark.table("stream_matches")
    n = got.count()
    assert n > 0
    assert set(got.columns) == {"doc_id_left", "doc_id_right", "jaccard"}
    # every match pairs an incoming doc (<250) with a corpus doc (>=250)
    assert got.where("doc_id_left >= 250 OR doc_id_right < 250").count() == 0
    # a second call with the same sink table starts from a fresh
    # checkpoint: a stale one would mark the input done and run no batch
    q = streaming_near_dup_against_corpus(
        stream, corpus, "stream_matches", threshold=0.6)
    q.awaitTermination(180)
    assert spark.table("stream_matches").count() == n
    spark.sql("DROP TABLE IF EXISTS stream_matches")


def test_drain_empty_stream_returns_declared_schema(spark):
    """A drain whose stream passes no rows runs no step, and its result
    is an empty frame of exactly the declared schema."""
    from lsh_spark.streaming.drain import drain, file_stream

    stream = file_stream(spark, SF_DIR, "documents").where(
        F.col("doc_id") < 0)
    out = drain(
        spark, "empty_drain_probe", SF_DIR, stream,
        lambda batch: batch.select(
            "doc_id", F.length("text").alias("n_chars"),
            F.lit(0.5).alias("score")),
        "doc_id long, n_chars int, score double")
    assert out.count() == 0
    assert out.dtypes == [("doc_id", "bigint"), ("n_chars", "int"),
                          ("score", "double")]


def test_scratch_root_removed_at_exit():
    """The per-process streaming scratch root is removed when the
    interpreter exits."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = subprocess.run(
        [sys.executable, "-c",
         "from lsh_spark.streaming.drain import scratch_root; "
         "print(scratch_root())"],
        cwd=repo, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert os.path.basename(root).startswith("lsh_spark_stream_")
    assert not os.path.exists(root)


def test_multimodal_resize_and_frames(spark):
    from lsh_spark.multimodal.media import (
        resize_images,
        sample_frames,
        synthesize_media_from_documents,
    )
    from lsh_spark.sources.io import load_table

    # pushdown filter, not limit() — limit inserts a SinglePartition
    # exchange that would pollute the narrow-transformation plan check
    docs = load_table(spark, SF_DIR, "documents").where("doc_id < 60")
    media = synthesize_media_from_documents(docs)

    resized = resize_images(media, width=32, height=16).collect()
    assert resized  # images exist (doc_id % 3 == 0)
    for r in resized:
        assert (r.width, r.height) == (32, 16)
        assert len(r.content) == 32 * 16
    # determinism
    again = {r.media_id: bytes(r.content)
             for r in resize_images(media, width=32, height=16).collect()}
    for r in resized:
        assert again[r.media_id] == bytes(r.content)

    frames = sample_frames(media, every_nth=10, max_frames=4).collect()
    assert frames
    by_media = {}
    for fr in frames:
        by_media.setdefault(fr.media_id, []).append(fr.frame_idx)
    for media_id, idxs in by_media.items():
        assert len(idxs) <= 4
        assert idxs == sorted(idxs)
        assert all(i % 10 == 0 for i in idxs)
    # no video shuffle: mapInPandas is a narrow transformation
    plan = sample_frames(media, every_nth=10)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_raw_media_decode_end_to_end(spark):
    """RAW payloads decode for REAL: extract_features reads dimensions out
    of the actual headers (no digest fakery on this path)."""
    from lsh_spark.multimodal.media import (
        extract_features,
        synthesize_raw_media_from_documents,
    )
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(30)
    feats = extract_features(
        synthesize_raw_media_from_documents(docs)).collect()
    assert len(feats) == 30
    for r in feats:
        doc_id = r.media_id
        if r.kind == "image":
            assert (r.width, r.height) == (8 + doc_id % 9, 8 + (doc_id * 3) % 7)
            assert r.n_frames == 1
        elif r.kind == "audio":
            assert r.n_frames == 100 + (doc_id * 7) % 500
        else:
            assert (r.width, r.height) == (6 + doc_id % 5, 4 + doc_id % 4)
            assert r.n_frames == 2 + doc_id % 5


def test_raw_image_resize_is_real_nearest_neighbor(spark):
    import numpy as np

    from lsh_spark.multimodal.media import (
        decode_raw_image,
        encode_raw_image,
        resize_images,
    )

    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    media = spark.createDataFrame(
        [(1, "image", bytearray(encode_raw_image(px)), "application/x-raw-image")],
        "media_id long, kind string, content binary, mime string")
    out = resize_images(media, width=2, height=2).collect()
    assert len(out) == 1 and (out[0].width, out[0].height) == (2, 2)
    got = decode_raw_image(bytes(out[0].content))["_pixels"]
    # nearest-neighbor with src_idx = (dst * src) // dst: rows/cols 0 and 2
    want = px[np.array([0, 2])[:, None], np.array([0, 2])[None, :], :]
    assert np.array_equal(got, want)


def test_raw_video_frame_sampling_slices_real_frames(spark):
    import numpy as np

    from lsh_spark.multimodal.media import decode_raw_image, sample_frames

    w, h, n = 3, 2, 5
    frames = np.arange(w * h * n, dtype=np.uint8)
    blob = (b"RAWV" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + n.to_bytes(2, "little") + frames.tobytes())
    media = spark.createDataFrame(
        [(7, "video", bytearray(blob), "application/x-raw-video")],
        "media_id long, kind string, content binary, mime string")
    out = sorted(sample_frames(media, every_nth=2, max_frames=8).collect(),
                 key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in out] == [0, 2, 4]
    all_frames = frames.reshape(n, h, w)
    for r in out:
        got = decode_raw_image(bytes(r.frame))["_pixels"]
        assert np.array_equal(got[..., 0], all_frames[r.frame_idx])


def test_corrupt_raw_blob_falls_back_to_stub(spark):
    """A blob with a RAW magic but truncated payload must not kill the
    batch — the total pipeline stubs it (strict callers use decode_raw_*
    which raises)."""
    import pytest

    from lsh_spark.multimodal.media import decode_raw_image, extract_features

    bad = b"RAWI" + (10).to_bytes(2, "little") + (10).to_bytes(2, "little") \
        + bytes([3]) + b"short"
    with pytest.raises(ValueError):
        decode_raw_image(bad)
    media = spark.createDataFrame(
        [(9, "image", bytearray(bad), "application/x-raw-image")],
        "media_id long, kind string, content binary, mime string")
    rows = extract_features(media).collect()
    assert len(rows) == 1 and rows[0].n_frames == 1  # stub image metadata


def test_rawi_encode_decode_roundtrip_property():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lsh_spark.multimodal.media import decode_raw_image, encode_raw_image

    @settings(max_examples=50, deadline=None)
    @given(st.integers(1, 32), st.integers(1, 32), st.integers(1, 4),
           st.integers(0, 2**32 - 1))
    def roundtrip(w, h, c, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        meta = decode_raw_image(encode_raw_image(px))
        assert (meta["width"], meta["height"], meta["n_frames"]) == (w, h, 1)
        assert np.array_equal(meta["_pixels"], px)

    roundtrip()
