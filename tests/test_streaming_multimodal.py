"""Streaming upserts, windowed event analytics, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from rust_graph_db_spark import probe
from rust_graph_db_spark.model import PropertyGraph, pack_graphid
from rust_graph_db_spark.operators import multimodal as mm
from rust_graph_db_spark.streaming import (
    stream_edge_upserts, stream_vertex_upserts, windowed_event_counts,
)
from rust_graph_db_spark.streaming.ingest import sessionize

SF_DIR = "/root/testdata/sf0.001"


def test_stream_vertex_upserts(spark, tmp_path):
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    g = PropertyGraph(spark)
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "id LONG, name STRING, ver LONG")
    g._vertices["User"] = base
    g.label_id("User")

    # two updates (ids 2,3): 2 is an update, 3 an insert
    spark.createDataFrame([(2, "b2", 2), (3, "c", 2)],
                          "id LONG, name STRING, ver LONG") \
        .coalesce(1).write.mode("overwrite").parquet(str(src_dir))
    stream = spark.readStream.schema("id LONG, name STRING, ver LONG") \
        .parquet(str(src_dir))
    q = stream_vertex_upserts(g, "User", stream,
                              checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    rows = {r["id"]: (r["name"], r["ver"])
            for r in g.vertex_frame("User").collect()}
    assert rows == {1: ("a", 1), 2: ("b2", 2), 3: ("c", 2)}


def test_stream_vertex_upserts_durable_commits(spark, tmp_path):
    from rust_graph_db_spark.storage import history, load_graph

    src_dir = tmp_path / "stream_in2"
    src_dir.mkdir()
    root = str(tmp_path / "stream_store")
    g = PropertyGraph(spark)
    g._vertices["User"] = spark.createDataFrame(
        [(1, "a", 1)], "id LONG, name STRING, ver LONG")
    g.label_id("User")

    spark.createDataFrame([(1, "a2", 2), (2, "b", 2)],
                          "id LONG, name STRING, ver LONG") \
        .coalesce(1).write.mode("overwrite").parquet(str(src_dir))
    stream = spark.readStream.schema("id LONG, name STRING, ver LONG") \
        .parquet(str(src_dir))
    q = stream_vertex_upserts(g, "User", stream,
                              checkpoint=str(tmp_path / "ckpt2"),
                              commit_root=root)
    q.awaitTermination(60)

    # every micro-batch committed atomically; a fresh reader sees the
    # merged state without touching the streaming session's graph
    assert len(history(root)) >= 1
    fresh = load_graph(spark, root)
    rows = {r["id"]: (r["name"], r["ver"])
            for r in fresh.vertex_frame("User").collect()}
    assert rows == {1: ("a2", 2), 2: ("b", 2)}


def test_stream_edge_upserts(spark, tmp_path):
    src_dir = tmp_path / "estream"
    src_dir.mkdir()
    g = PropertyGraph(spark)
    lab = g.label_id("KNOWS")
    spark.createDataFrame([(1, 10, 20, 2020)],
                          "id LONG, src LONG, dst LONG, since LONG") \
        .coalesce(1).write.mode("overwrite").parquet(str(src_dir))
    stream = spark.readStream \
        .schema("id LONG, src LONG, dst LONG, since LONG").parquet(str(src_dir))
    q = stream_edge_upserts(g, "KNOWS", stream,
                            checkpoint=str(tmp_path / "eckpt"))
    q.awaitTermination(60)
    assert g.edge_frame("KNOWS").count() == 1


def test_windowed_event_counts_oracle(spark, duck):
    from rust_graph_db_spark.session import load_events

    events = load_events(spark, SF_DIR)
    got = sorted(
        (str(r["window_start"]), r["event_type"], r["cnt"],
         round(r["total_value"], 6))
        for r in windowed_event_counts(events, "1 hour").collect())
    exp = sorted(
        (str(r[0]), r[1], r[2], round(r[3], 6))
        for r in duck.execute("""
            SELECT time_bucket(INTERVAL 1 HOUR, ts) ws, event_type,
                   count(*) cnt, sum(value) tv
            FROM events GROUP BY ws, event_type""").fetchall())
    assert got == exp


def test_windowed_streaming_mode(spark, tmp_path):
    from rust_graph_db_spark.session import load_events

    # the same expression tree must run as an actual stream
    src = tmp_path / "ev"
    src.mkdir()
    batch = load_events(spark, SF_DIR).limit(100)
    batch.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    out = windowed_event_counts(stream, "1 hour")
    q = (out.writeStream.format("memory").queryName("wincounts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(60)
    assert spark.sql("SELECT count(*) FROM wincounts").first()[0] > 0


def test_sessionize_batch(spark):
    rows = [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),
            (1, "2024-01-01 11:30:00"),  # > 30 min gap → new session
            (2, "2024-01-01 09:00:00")]
    df = spark.createDataFrame(rows, "user_id LONG, ts STRING") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize(df, "30 minutes").collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["cnt"])
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [1]


def test_image_features_stubbed(spark):
    media = mm.synthetic_media(spark, 50, "image")
    feats = mm.extract_image_features(media, deterministic_fake=True)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(r["width"] >= 64 and 0 <= r["mean_luma"] <= 1 for r in rows)
    # deterministic across runs
    again = mm.extract_image_features(media, deterministic_fake=True).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_image_decode_without_backend_raises(spark):
    if mm._pil() is not None:
        pytest.skip("Pillow importable — NotImplementedError path inactive")
    media = mm.synthetic_media(spark, 1, "image")
    with pytest.raises(Exception):
        mm.extract_image_features(media, deterministic_fake=False).collect()


def test_image_real_backend_roundtrip(spark):
    Image = mm._pil() or pytest.skip("Pillow not importable")
    import io as _io

    def png(mid, w, h, val):
        buf = _io.BytesIO()
        Image.new("L", (w, h), val).save(buf, "PNG")
        return (mid, buf.getvalue(), "image", None)

    media = spark.createDataFrame(
        [png(1, 10, 6, 0), png(2, 8, 8, 255), (3, b"not an image", "image", None)],
        mm.MEDIA_SCHEMA)
    rows = {r.media_id: r for r in
            mm.extract_image_features(media).collect()}
    assert set(rows) == {1, 2}                 # corrupt object skipped
    assert (rows[1].width, rows[1].height) == (10, 6)
    assert rows[1].mean_luma == 0.0 and rows[2].mean_luma == 1.0


def test_audio_real_wav_roundtrip(spark):
    # stdlib `wave` is always importable, so the REAL audio decode path
    # runs in-sandbox: synthesize a 1 kHz square wave at 8 kHz mono.
    import io as _io
    import wave as _wave

    import numpy as np

    def wav(mid, seconds, freq):
        rate = 8000
        t = np.arange(int(rate * seconds))
        pcm = (np.sign(np.sin(2 * np.pi * freq * t / rate)) * 16384) \
            .astype(np.int16)
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(pcm.tobytes())
        return (mid, buf.getvalue(), "audio", None)

    media = spark.createDataFrame(
        [wav(1, 0.5, 1000), wav(2, 0.25, 440), (3, b"junk", "audio", None)],
        mm.MEDIA_SCHEMA)
    rows = {r.media_id: r for r in
            mm.extract_audio_features(media).collect()}
    assert set(rows) == {1, 2}                 # junk skipped
    assert rows[1].sample_rate == 8000 and rows[1].duration_ms == 500
    # square wave: rms = amplitude = 16384/32768, 2*freq crossings/sec
    assert abs(rows[1].rms - 0.5) < 1e-3
    assert abs(rows[1].zero_crossings - 1000) <= 2
    assert rows[2].duration_ms == 250


def test_resize_images_stubbed(spark):
    media = mm.synthetic_media(spark, 20, "image")
    out = mm.resize_images(media, 32, 32, deterministic_fake=True).collect()
    assert len(out) == 20
    assert all(r["width"] == 32 and r["height"] == 32 for r in out)
    assert all(len(bytes(r["content"])) == 32 * 32 // 16 for r in out)


def test_audio_features_stubbed(spark):
    media = mm.synthetic_media(spark, 25, "audio")
    out = mm.extract_audio_features(media, deterministic_fake=True).collect()
    assert len(out) == 25
    assert all(r["sample_rate"] % 8000 == 0 and 0 <= r["rms"] <= 1 for r in out)
    again = mm.extract_audio_features(media, deterministic_fake=True).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_frame_sampling(spark):
    media = mm.synthetic_media(spark, 10, "video")
    frames = mm.sample_frames(media, every_n=5, deterministic_fake=True)
    rows = frames.collect()
    assert rows and all(r["frame_idx"] % 5 == 0 for r in rows)
    assert all(isinstance(bytes(r["frame"]), bytes) for r in rows)
    # ≤ max_frames per video
    from collections import Counter
    c = Counter(r["media_id"] for r in rows)
    assert max(c.values()) <= 8


def test_stream_upserts_bucketed_commits(spark, tmp_path):
    """commit_buckets=N: every micro-batch publishes a co-located
    snapshot - the manifest layout records the bucketing and a fresh
    reader's expand join is Exchange-free."""
    from rust_graph_db_spark.storage import history, load_graph

    src_dir = tmp_path / "stream_in_b"
    src_dir.mkdir()
    root = str(tmp_path / "stream_store_b")
    g = PropertyGraph(spark)
    g._vertices["User"] = spark.createDataFrame(
        [((1 << 48) + i, f"u{i}") for i in range(8)], "id LONG, name STRING")
    g.label_id("User")
    g._edges["KNOWS"] = spark.createDataFrame(
        [(i, (1 << 48) + i, (1 << 48) + (i + 1) % 8) for i in range(8)],
        "id LONG, src LONG, dst LONG")
    g.label_id("KNOWS")

    spark.createDataFrame([((1 << 48) + 9, "u9")], "id LONG, name STRING") \
        .coalesce(1).write.mode("overwrite").parquet(str(src_dir))
    stream = spark.readStream.schema("id LONG, name STRING") \
        .parquet(str(src_dir))
    q = stream_vertex_upserts(g, "User", stream,
                              checkpoint=str(tmp_path / "ckpt_b"),
                              commit_root=root, commit_buckets=2)
    q.awaitTermination(60)

    man = history(root)[-1]
    spec = man["layout"][man["vertices"]["User"]]
    assert (spec["buckets"], spec["key"]) == (2, "id")
    fresh = load_graph(spark, root)
    assert fresh.vertex_frame("User").count() == 9

    with probe.conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        v = fresh.vertex_frame("User")
        e = fresh.edge_frame("KNOWS")
        assert "Exchange" not in probe.plan(e.join(v, e["src"] == v["id"]))


def test_stream_gram_cms_matches_batch_counts(spark, tmp_path):
    """Streaming CMS: sketch cells appended per micro-batch, merged on
    read, must estimate every bigram of the full (two-batch) corpus
    exactly when width >> vocabulary — i.e. the stream sketch equals
    the batch sketch of the union, which equals exact counts."""
    from rust_graph_db_spark.operators.sketches import cms_estimate
    from rust_graph_db_spark.streaming.ingest import (stream_cms_state,
                                                      stream_gram_cms)

    src = tmp_path / "cms_in"
    src.mkdir()
    b1 = [(0, "the cat sat"), (1, "the cat ran")]
    b2 = [(2, "the cat sat"), (3, "a dog sat")]
    spark.createDataFrame(b1, "doc_id LONG, text STRING") \
        .coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2, "doc_id LONG, text STRING") \
        .coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("doc_id LONG, text STRING") \
        .parquet(str(src))
    q = stream_gram_cms(stream, str(tmp_path / "cms_state"),
                        width=1 << 18,
                        checkpoint=str(tmp_path / "cms_ckpt"))
    q.awaitTermination(60)

    sketch = stream_cms_state(spark, str(tmp_path / "cms_state"))
    exact: dict = {}
    for _, text in b1 + b2:
        toks = text.split()
        for i in range(len(toks) - 1):
            g = f"{toks[i]} {toks[i + 1]}"
            exact[g] = exact.get(g, 0) + 1
    grams = spark.createDataFrame([(g,) for g in exact], "gram STRING")
    est = {r.gram: r.est
           for r in cms_estimate(sketch, grams, "gram").collect()}
    assert est == exact


def test_stream_curate_line_filter(spark, tmp_path):
    """r5: stream_curate(line_filter=True) applies the C4 line pass
    per micro-batch — boilerplate lines are cut from survivors and a
    lorem-ipsum page never reaches the sink."""
    import glob
    import os
    import shutil

    from rust_graph_db_spark.streaming.ingest import stream_curate

    good = "the quick brown fox jumps over the lazy dog again."
    page = "\n".join([good, "enable javascript now."] + [good] * 5)
    bad = "\n".join([good] * 6 + ["lorem ipsum dolor sit amet."])
    watch = tmp_path / "in"
    watch.mkdir()
    part = str(tmp_path / "b0")
    spark.createDataFrame([(1, page), (2, bad)],
                          "doc_id LONG, text STRING") \
         .coalesce(1).write.parquet(part)
    dst = str(watch / "batch0.parquet")
    shutil.copy(glob.glob(f"{part}/part-*.parquet")[0], dst)
    os.utime(dst, (1_600_000_000,) * 2)

    lax = {"min_tokens": 1, "max_tokens": 10**6, "min_stopword": 0.0,
           "max_punct": 1.0, "max_dup2": 1.0, "min_word_len": 0.0,
           "max_word_len": 100.0}
    stream = (spark.readStream
              .schema("doc_id LONG, text STRING")
              .parquet(str(watch)))
    stream_curate(
        stream, str(tmp_path / "out"), str(tmp_path / "state"),
        checkpoint=str(tmp_path / "ckpt"),
        thresholds=lax, line_filter=True).awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [r.doc_id for r in out] == [1]
    assert "javascript" not in out[0].clean_text
