import pandas as pd
import pytest
from pyspark.sql import functions as F

from automatedreclin_spark.ops.multimodal import (
    audio_features,
    image_features,
    synth_media,
    video_frame_sample,
)
from automatedreclin_spark.ops.textstats import (
    _LANG_MARKERS,
    bpe_ish_token_count_expr,
    fingerprint,
    language_id,
    quality_score,
    token_count_expr,
)


def _language_id_oracle() -> str:
    """The language-ID heuristic is deterministic marker counting — mirror it
    in SQL, including Python's dict-order tie-break (en > de > fr > es) and
    the CJK codepoint-share early exit."""
    marker_scores = ", ".join(
        f"len(list_filter(toks, t -> list_contains({mk!r}, t)))::DOUBLE"
        f" / greatest(len(toks), 1) AS s_{lang}"
        for lang, mk in _LANG_MARKERS.items()
    )
    return f"""
WITH base AS (
  SELECT doc_id AS id, text,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk,
         length(text) AS n,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
  FROM documents
), scored AS (
  SELECT id, cjk, n, {marker_scores} FROM base
)
SELECT id,
  CASE WHEN n IS NULL OR n = 0 THEN 'und'
       WHEN cjk::DOUBLE / greatest(n, 1) > 0.2 THEN 'zh'
       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       WHEN s_fr >= s_es THEN 'fr'
       ELSE 'es' END AS lang_pred,
  CASE WHEN n IS NULL OR n = 0 THEN 0.0
       WHEN cjk::DOUBLE / greatest(n, 1) > 0.2 THEN ROUND(cjk::DOUBLE / n, 6)
       ELSE ROUND(greatest(s_en, s_de, s_fr, s_es), 6) END AS lang_conf
FROM scored
"""


def test_token_counts(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2, 3],
        "text": ["hello world", "", "one two  three"],
    }))
    out = df.select("id", token_count_expr("text").alias("n"),
                    bpe_ish_token_count_expr("text").alias("bpe")).orderBy("id").toPandas()
    assert list(out["n"]) == [2, 0, 3]
    # hello → ceil(5/4)=2 subwords, world → 2 ⇒ 4
    assert out["bpe"].iloc[0] == 4
    assert out["bpe"].iloc[1] == 0


def test_quality_score_on_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = quality_score(docs, "doc_id", "text")
    pdf = out.toPandas()
    assert ((pdf["quality"] >= 0) & (pdf["quality"] <= 1)).all()
    assert pdf["keep"].mean() > 0.5  # synthetic docs are mostly fine


def test_language_id_accuracy(spark):
    rows = [
        (1, "the cat is in the house and it is happy with the food", "en"),
        (2, "der Hund ist nicht mit der Katze und das ist ein Problem", "de"),
        (3, "le chat est dans la maison et les enfants sont pour une fête", "fr"),
        (4, "el perro es de la casa y los gatos en una mesa por con", "es"),
        (5, "这是一个中文句子用来测试语言识别功能", "zh"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "text", "truth"]))
    out = language_id(df, "id", "text").toPandas().set_index("id")
    for i, (_, _, truth) in enumerate(rows, start=0):
        assert out.loc[rows[i][0], "lang_pred"] == truth


def test_fingerprint_overlap_detects_shared_passages(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2, 3],
        "text": [
            shared + " extra tail one two three",
            "prefix words here " + shared,
            "totally different content with no shared passage at all okay",
        ],
    }))
    fp = fingerprint(df, "id", "text", k=3, window=2).toPandas().set_index("id")
    s1, s2, s3 = (set(fp.loc[i, "fingerprints"]) for i in (1, 2, 3))
    assert len(s1 & s2) > 0, "shared passage must share fingerprints"
    assert len(s1 & s3) == 0


def test_fingerprint_partition_invariant(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "id": range(20), "text": [f"tok{i} " * 30 for i in range(20)],
    }))
    f1 = fingerprint(df, "id", "text").orderBy("id").toPandas()
    f2 = fingerprint(df.repartition(7), "id", "text").orderBy("id").toPandas()
    assert f1.equals(f2)


# ----------------------------------------------------------- multimodal -----

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


def test_language_id_null_text_matches_oracle(spark):
    """NULL text must yield ('und', 0.0) — length(NULL) is NULL so every WHEN
    falls through without an explicit guard — and the DuckDB oracle must
    agree on the same rows (engines previously diverged: en/-1.0 vs es/NULL)."""
    import duckdb
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    rows = [(1, None), (2, ""), (3, "   "), (4, "the cat is in the house")]
    df = spark.createDataFrame(rows, schema=schema)
    out = (language_id(df, "doc_id", "text")
           .orderBy("id").toPandas().set_index("id"))
    assert out.loc[1, "lang_pred"] == "und" and out.loc[1, "lang_conf"] == 0.0
    assert out.loc[2, "lang_pred"] == "und"
    assert out.loc[4, "lang_pred"] == "en"

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    ora = con.execute(_language_id_oracle() + " ORDER BY id").df().set_index("id")
    for i in (1, 2, 3, 4):
        assert ora.loc[i, "lang_pred"] == out.loc[i, "lang_pred"], i
        assert abs(float(ora.loc[i, "lang_conf"]) - float(out.loc[i, "lang_conf"])) < 1e-9, i


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
