"""The two media UDF helpers: every payload builder's null-id rule and
the decoder stage's row contract."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from flycatcher_spark.operators import audio, multimodal, pdf, video, warc
from flycatcher_spark.operators import webdataset as wds
from flycatcher_spark.operators._payload import map_payloads

BUILDERS = [
    audio.make_tone_payload,
    multimodal.make_pnm_payload,
    multimodal.make_png_payload,
    multimodal.make_gif_payload,
    multimodal.make_animated_gif_payload,
    multimodal.make_wav_payload,
    multimodal.make_flac_payload,
    multimodal.make_jpeg_payload,
    multimodal.make_tiff_payload,
    multimodal.make_bmp_payload,
    multimodal.make_webp_payload,
    multimodal.make_webp_anim_payload,
    pdf.make_pdf_payload,
    video.make_avi_payload,
    warc.make_warc_payload,
    warc.make_http_warc_payload,
    wds.make_webdataset_payload,
    wds.make_zip_payload,
]


@pytest.mark.parametrize("build", BUILDERS, ids=lambda b: b.__name__)
def test_null_id_builds_null_payload(spark, build):
    """Arrow hands a nullable bigint column to pandas as float64 with
    NaN, so a null id must not reach the per-id body. Partition 0
    holds id 1 alone; partition 1 holds a null id, then id 1 again."""
    ids = spark.sparkContext.parallelize([(1,), (None,), (1,)], 2)
    rows = build(spark.createDataFrame(ids, "doc_id long")).collect()
    assert [r["doc_id"] for r in rows] == [1, None, 1]
    assert rows[1]["payload"] is None
    assert bytes(rows[2]["payload"]) == bytes(rows[0]["payload"])


def test_map_payloads_null_empty_and_fan_out(spark):
    df = spark.createDataFrame(
        [(1, "a", b"none"), (2, "b", b"empty"), (3, "c", b"two")],
        "doc_id long, tag string, payload binary",
    )
    emitted = {b"none": None, b"empty": [], b"two": [(0, "x"), (1, "y")]}
    fields = [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
    out = map_payloads(
        df,
        "doc_id",
        "payload",
        fields,
        lambda p: emitted[bytes(p)],
        passthrough=["tag"],
    )
    assert out.columns == ["doc_id", "tag", "k", "v"]
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(1, "a", None, None), (3, "c", 0, "x"), (3, "c", 1, "y")]
