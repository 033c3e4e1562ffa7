"""Checkpoint/resume and multimodal plumbing."""

import os

from pyspark.sql import functions as F

from geocore_spark.operators import multimodal as mm
from geocore_spark.plans import checkpoint as ckpt


def test_checkpoint_resume(spark, tmp_path):
    root = str(tmp_path / "stages")
    cp = ckpt.StageCheckpoint(spark, root)
    calls = []

    def build():
        calls.append(1)
        return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))

    out1 = cp.run("double", build)
    assert out1.count() == 100
    assert cp.is_done("double")
    out2 = cp.run("double", build)  # resume path: no rebuild
    assert out2.count() == 100
    assert len(calls) == 1
    assert cp.stages()["double"]["rows"] == 100
    cp.invalidate("double")
    assert not cp.is_done("double")


def test_checkpoint_partial_write_not_trusted(spark, tmp_path):
    root = str(tmp_path / "stages")
    cp = ckpt.StageCheckpoint(spark, root)
    # simulate a crash: data dir exists without manifest entry
    os.makedirs(os.path.join(root, "ghost"))
    assert not cp.is_done("ghost")


def test_media_features_deterministic(spark):
    base = spark.range(20).select(F.col("id").alias("doc_id"))
    media = mm.synth_media(base)
    f1 = {r["doc_id"]: (r["mean_luma"], r["phash"]) for r in mm.image_features(media).collect()}
    f2 = {r["doc_id"]: (r["mean_luma"], r["phash"]) for r in mm.image_features(media).collect()}
    assert f1 == f2
    assert len(f1) == 20
    assert all(0 <= v[0] <= 255 for v in f1.values())


def test_frame_sample_shapes(spark):
    base = spark.range(5).select(F.col("id").alias("doc_id"))
    media = mm.synth_media(base, size=40960)
    frames = mm.frame_sample(media, every_n=3).collect()
    assert len(frames) > 5
    assert all(len(bytes(r["frame"])) <= 1024 for r in frames)
    assert all(r["frame_idx"] % 3 == 0 for r in frames)


def test_image_stub_raises_without_fake():
    import pytest

    with pytest.raises(NotImplementedError):
        mm._decode_image_stub(b"xx", fake=False)


def test_resize_images_shapes(spark):
    base = spark.range(6).select(F.col("id").alias("doc_id"))
    media = mm.synth_media(base)
    out = mm.resize_images(media, size=(8, 8)).collect()
    assert len(out) == 6
    for r in out:
        assert (r["width"], r["height"], r["channels"]) == (8, 8, 3)
        assert len(bytes(r["pixels"])) == 8 * 8 * 3


def test_sniff_format_magic_bytes(spark):
    payloads = [
        (1, bytes.fromhex("FFD8FF") + b"\x00" * 9, "jpeg"),
        (2, bytes.fromhex("89504E470D0A1A0A") + b"\x00" * 4, "png"),
        (3, b"GIF89a" + b"\x00" * 6, "gif"),
        (4, b"RIFF\x00\x00\x00\x00WEBP" + b"\x00" * 0, "webp"),
        (5, b"RIFF\x00\x00\x00\x00WAVE", "wav"),
        (6, b"ID3\x04" + b"\x00" * 8, "mp3"),
        (7, b"\x00\x00\x00\x20ftypisom", "mp4"),
        (8, b"not a media file", "unknown"),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p, _ in payloads], "doc_id long, payload binary"
    )
    got = {
        r["doc_id"]: r["fmt"]
        for r in df.select("doc_id", mm.sniff_format(F.col("payload")).alias("fmt")).collect()
    }
    assert got == {i: f for i, _, f in payloads}


def test_audio_features_deterministic_and_sane(spark):
    base = spark.range(12).select(F.col("id").alias("doc_id"))
    media = mm.synth_media(base)
    a1 = {r["doc_id"]: r.asDict() for r in mm.audio_features(media).collect()}
    a2 = {r["doc_id"]: r.asDict() for r in mm.audio_features(media).collect()}
    assert a1 == a2
    assert len(a1) == 12
    for v in a1.values():
        assert v["duration_s"] == 1.0
        assert 0.3 < v["rms"] < 1.5  # unit-ish tone mix
        assert 0.0 < v["zero_cross_rate"] < 1.0
        assert 50.0 < v["spectral_centroid"] < 4000.0  # below nyquist


def test_audio_stub_raises_without_fake():
    import pytest

    with pytest.raises(NotImplementedError):
        mm._decode_audio_stub(b"xx", fake=False)


def test_frame_sample_honors_id_col_name_and_type(spark):
    from geocore_spark.operators import multimodal as mm
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("vid-a",), ("vid-b",)], ["video_id"]
    ).withColumn("payload", F.to_binary(F.repeat(F.lit("ab"), 2048), F.lit("utf-8")))
    out = mm.frame_sample(df, id_col="video_id", every_n=2, fake=True)
    assert out.columns == ["video_id", "frame_idx", "frame"]
    assert dict(out.dtypes)["video_id"] == "string"
    rows = out.collect()
    assert {r["video_id"] for r in rows} == {"vid-a", "vid-b"}
    assert all(r["frame_idx"] % 2 == 0 for r in rows)
