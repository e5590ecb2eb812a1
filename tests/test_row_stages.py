"""The operators' row stages and the TFRecord reader run on the shared
Arrow boundary (`sources/_arrow.map_rows`): their output schemas are
pinned here as literals, with the id type taken from the input and a
null text in every text input."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from pdf_to_epub_spark.functions.mediacodec import make_bmp, make_wav
from pdf_to_epub_spark.operators import bigram_lm_scores, normalize_unicode
from pdf_to_epub_spark.operators.cdc import cdc_chunks
from pdf_to_epub_spark.operators.multimodal import (
    extract_media_features,
    media_fingerprints,
)
from pdf_to_epub_spark.sources.tfrecord import (
    build_tfrecord_bytes,
    encode_example,
    parse_tfrecord_contents,
)

TEXTS = [(1, "cafe\u0301 " * 60), (2, None), (3, "")]


def _schema(id_type: DataType, *fields: tuple[str, DataType]) -> StructType:
    return StructType(
        [StructField("doc_id", id_type)] + [StructField(n, t) for n, t in fields]
    )


TEXT_STAGES = [
    pytest.param(
        cdc_chunks,
        [("chunk_idx", IntegerType()), ("chunk_hash", StringType()),
         ("chunk_bytes", IntegerType())],
        {1},  # null and empty texts give no chunks
        id="cdc_chunks",
    ),
    pytest.param(
        normalize_unicode,
        [("text_norm", StringType()), ("changed", BooleanType())],
        {1, 2, 3},
        id="normalize_unicode",
    ),
    pytest.param(
        bigram_lm_scores,
        [("n_bigrams", LongType()), ("cost_micro_total", LongType())],
        {1, 2, 3},
        id="bigram_lm_scores",
    ),
]


@pytest.mark.parametrize("id_type", [LongType(), StringType()])
@pytest.mark.parametrize("stage, fields, ids", TEXT_STAGES)
def test_text_stage_schema(spark, stage, fields, ids, id_type):
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string").select(
        F.col("doc_id").cast(id_type).alias("doc_id"), "text"
    )
    out = stage(docs)
    assert out.schema == _schema(id_type, *fields)
    assert {r.doc_id for r in out.collect()} == {
        i if id_type == LongType() else str(i) for i in ids
    }


def test_media_and_tfrecord_schemas(spark):
    media = spark.createDataFrame(
        [(0, "u://0", "image", make_bmp(4, 4, lambda x, y: (x, y, 0))),
         (1, "u://1", "audio", make_wav([0, 1000, -1000, 0])),
         (2, "u://2", "image", None)],
        "media_id long, url string, media_type string, payload binary",
    )
    features = extract_media_features(media)
    assert features.schema == StructType([
        StructField("media_id", LongType()),
        StructField("url", StringType()),
        StructField("media_type", StringType()),
        StructField("container", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("meta", MapType(StringType(), StringType())),
        StructField("status", StringType()),
    ])
    assert [r.status for r in features.orderBy("media_id").collect()] == [
        "ok", "ok", "unsupported",
    ]
    fps = media_fingerprints(media)
    assert fps.schema == StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("fp", LongType()),
        StructField("status", StringType()),
    ])
    assert fps.count() == 3

    blob = build_tfrecord_bytes([
        encode_example({"text": b"one", "ids": [1, 2], "w": [0.5]}),
        encode_example({}),
    ])
    files = spark.createDataFrame([("f", bytes(blob))], "path string, content binary")
    parsed = parse_tfrecord_contents(files, ("text",), ("ids",), ("w",))
    assert parsed.schema == StructType([
        StructField("text", StringType()),
        StructField("ids", ArrayType(LongType())),
        StructField("w", ArrayType(DoubleType())),
    ])
    assert [tuple(r) for r in parsed.collect()] == [
        ("one", [1, 2], [0.5]), (None, [], []),
    ]
