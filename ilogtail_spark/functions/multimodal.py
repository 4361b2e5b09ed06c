"""Multimodal column plumbing: image/audio/video as opaque binary.

There is no media decoder here, so feature extraction is STUBBED
(deterministic fake features, clearly marked) — but the Spark-side
plumbing is real and tested: binary columns + typed metadata struct,
Arrow-batched ``mapInPandas`` with controlled batch sizes,
partition-count-preserving narrow execution.

At 100 TB of media this shape matters more than the codec: batches
stream through Arrow without materializing a partition in memory, and
feature extraction parallelizes per input split.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, checksum long, "
    "width int, height int"
)


def attach_binary_payload(
    df: DataFrame, text_col: str = "text", media_type: str = "image/fake"
) -> DataFrame:
    """Simulate a media column: utf-8 bytes of the text as the payload
    plus a typed metadata struct — the schema a real ingest would
    carry (payload binary, meta struct<media_type,size>)."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.octet_length(payload).alias("size"),
        ),
    )


def extract_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Fake-but-deterministic features (length, additive checksum, fake
    dims derived from the checksum) keep the full UDF signature,
    batch shape and schema of a real decoder. Narrow op: partition
    count and ordering of the input are preserved.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.map(len)
            checksum = payloads.map(lambda b: sum(b[:256]) % 65521)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "media_type": pdf["media_meta"].map(lambda m: m["media_type"]),
                    "n_bytes": n_bytes,
                    "checksum": checksum,
                    "width": (checksum % 640 + 1).astype("int32"),
                    "height": (checksum % 480 + 1).astype("int32"),
                }
            )

    return df.select(id_col, "payload", "media_meta").mapInPandas(
        extract, schema=FEATURE_SCHEMA
    )
