"""Distributed materialization of the synthetic `pages` corpus.

Generation is embarrassingly parallel (each row is a pure function of
(seed, doc_id)) so it runs as mapInPandas over spark.range — no driver-side
loop, no collect. Materialized once per scale factor under .data/ and
reused by tests and bench (generation cost must not pollute extraction
throughput numbers).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".data")


def pages_df(spark: SparkSession, n_docs: int, seed: int = 42,
             n_partitions: int | None = None) -> DataFrame:
    if n_partitions is None:
        n_partitions = max(8, min(64, n_docs // 500 or 1))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from no_ocr_spark.sources.synth import make_page

        for pdf in batches:
            rows = [make_page(seed, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(n_docs, numPartitions=n_partitions).mapInPandas(
        gen, schema=PAGES_SCHEMA
    )


def pages_path(sf: float, seed: int = 42) -> str:
    """The default seed keeps the unsuffixed name, so existing caches
    stay valid; any other seed gets its own directory."""
    suffix = "" if seed == 42 else f"_seed{seed}"
    return os.path.join(DATA_DIR, f"pages_sf{sf}{suffix}")


def materialize_pages(spark: SparkSession, sf: float, seed: int = 42) -> str:
    """Write (once) and return the parquet path for the sf-sized corpus."""
    from no_ocr_spark.sources.synth import n_docs_for_sf

    path = pages_path(sf, seed)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        pages_df(spark, n_docs_for_sf(sf), seed=seed).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def load_pages(spark: SparkSession, sf: float) -> DataFrame:
    return spark.read.parquet(materialize_pages(spark, sf))
