import pandas as pd
import pytest

from automatedreclin_spark.ops.multimodal import (
    audio_features,
    image_features,
    synth_media,
    video_frame_sample,
)


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark, n=30)


def test_image_features_shapes(media):
    out = image_features(media).toPandas()
    assert len(out) == media.filter("kind = 'image'").count()
    assert ((out["mean_luma"] >= 0) & (out["mean_luma"] <= 255)).all()
    assert out["phash"].dtype == "int64"


def test_image_features_deterministic(media):
    a = image_features(media).orderBy("media_id").toPandas()
    b = image_features(media.repartition(5)).orderBy("media_id").toPandas()
    assert a.equals(b)


def test_video_frame_sampling(media):
    out = video_frame_sample(media, every_ms=10_000).toPandas()
    vids = media.filter("kind = 'video'").select("media_id", "meta.duration_ms").toPandas()
    for row in vids.itertuples():
        expected = max(1, -(-row.duration_ms // 10_000) if row.duration_ms else 0)
        got = (out["media_id"] == row.media_id).sum()
        import math
        assert got == math.ceil(row.duration_ms / 10_000)


def test_audio_features(media):
    out = audio_features(media).toPandas()
    assert len(out) == media.filter("kind = 'audio'").count()
    assert (out["rms"] > 0).all()
    assert (out["n_samples"] > 0).all()


def test_corrupt_media_falls_back_not_crash(spark):
    """A PNG with a valid signature but corrupt deflate stream raises
    zlib.error inside decode_png; malformed RIFF raises wave.Error in
    decode_wav — both must take the deterministic fallback, not kill the
    Spark task."""
    import numpy as np

    from automatedreclin_spark.functions import codecs
    from automatedreclin_spark.ops.multimodal import MEDIA_SCHEMA, decode_image

    # valid PNG signature + IHDR, garbage IDAT payload -> zlib.error
    good = codecs.encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    corrupt_png = bytearray(good)
    idat = bytes(corrupt_png).index(b"IDAT")
    corrupt_png[idat + 4: idat + 12] = b"\xde\xad\xbe\xef\xca\xfe\xba\xbe"
    img = decode_image(bytes(corrupt_png), {"height": 4, "width": 4})
    assert img.shape == (4, 4, 3)  # deterministic fake, sized from meta

    # valid 'RIFF....WAVE' magic, truncated/garbage chunk table -> wave.Error
    corrupt_wav = b"RIFF\x24\x00\x00\x00WAVE" + b"\x00" * 8
    meta = {"width": 0, "height": 0, "channels": 1, "sample_rate": 16000,
            "duration_ms": 10, "codec": "pcm16"}
    rows = pd.DataFrame([
        {"media_id": 0, "kind": "audio", "content": corrupt_wav, "meta": meta},
    ])
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = audio_features(media).toPandas()
    assert len(out) == 1 and out["n_samples"].iloc[0] > 0
