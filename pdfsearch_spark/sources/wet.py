"""WET source — the extracted-plain-text sibling of WARC.

WET (per the public Common Crawl format docs) is ordinary WARC (ISO 28500)
where the records are ``WARC-Type: conversion`` and the payload is the
UTF-8 plain text extracted from the crawled page. It is the format a
text-only LLM corpus actually starts from, so the connector surfaces rows
already in the `documents` shape: (url, text, n_chars).

Scale shape: everything after the per-file WARC parse (sources/warc.py —
binaryFile scan + Arrow-batched mapInPandas, one Python call per FILE) is
JVM-side codegen: the conversion-type filter, the UTF-8 decode
(`F.decode`), and the length are all Catalyst expressions, so a WET scan
costs exactly a WARC scan plus whole-stage-codegen projection — no second
Python hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdfsearch_spark.sources.warc import read_warc, warc_bytes


def wet_bytes(docs: list[dict]) -> bytes:
    """Serialize docs (dicts with url/text) to WET bytes — conversion
    records whose payload is the UTF-8 text. Deterministic, for tests and
    fixture synthesis."""
    return warc_bytes(
        [
            {
                "record_id": d.get("record_id", f"<urn:wet:{i}>"),
                "warc_type": "conversion",
                "target_uri": d["url"],
                "payload": d["text"].encode("utf-8"),
            }
            for i, d in enumerate(docs)
        ]
    )


def read_wet(
    spark: SparkSession, path: str, glob: str = "*.wet*"
) -> DataFrame:
    """Scan WET files under `path` into one row per extracted document:
    (url, text, n_chars). Non-conversion records (warcinfo headers etc.)
    are dropped relationally; n_chars counts characters post-decode, not
    payload bytes."""
    recs = read_warc(spark, path, glob)
    return (
        recs.filter(F.col("warc_type") == "conversion")
        .select(
            F.col("target_uri").alias("url"),
            F.decode(F.col("payload"), "UTF-8").alias("text"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
