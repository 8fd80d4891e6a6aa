"""Materialized synthetic corpus (sources/synth_spark.py): the on-disk
cache is keyed by seed, so a second seed never reads back the first
seed's pages."""

from __future__ import annotations

from no_ocr_spark.sources import synth_spark

SF = 0.0001  # 50 docs


def test_default_seed_keeps_its_cache_name():
    assert synth_spark.pages_path(0.01).endswith("pages_sf0.01")
    assert synth_spark.pages_path(0.01, 42) == synth_spark.pages_path(0.01)


def test_two_seeds_get_two_corpora(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(synth_spark, "DATA_DIR", str(tmp_path))
    p42 = synth_spark.materialize_pages(spark, SF)
    p7 = synth_spark.materialize_pages(spark, SF, seed=7)
    assert p42 != p7
    assert synth_spark.materialize_pages(spark, SF, seed=7) == p7

    def html(path):
        return [r.html for r in
                spark.read.parquet(path).orderBy("url").select("html").collect()]

    assert html(p42) != html(p7)
