"""Reference-shaped API facade: fit / transform / report / save / load."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from entity_resolver_spark import SparkEntityResolver
from entity_resolver_spark.datagen import corpus_spark


@pytest.fixture(scope="module")
def fitted(spark):
    tdf, ldf = corpus_spark(spark, n_base=30)
    res = SparkEntityResolver().fit(spark, tdf)
    return res, tdf, ldf


def test_fit_produces_resolved_state(fitted):
    res, tdf, _ = fitted
    n_convs = tdf.select("conv_id").distinct().count()
    assert res.resolved_.count() == n_convs
    assert "canonical_text" in res.resolved_.columns


def test_generate_report_shape(fitted):
    res, _, _ = fitted
    rep = res.generate_report()
    assert rep["total_records"] == res.resolved_.count()
    assert rep["unique_after"] <= rep["unique_before"]
    assert 0.0 <= rep["reduction_rate"] <= 1.0
    assert set(rep["cluster_sizes"]) == {"singletons", "2-5", "6-20", ">20", "max"}
    sizes = rep["cluster_sizes"]
    assert (
        sizes["singletons"] + sizes["2-5"] + sizes["6-20"] + sizes[">20"]
        == rep["unique_after"]
    )


def test_review_dataframe_deduped_and_ordered(fitted):
    res, _, _ = fitted
    rev = res.get_review_dataframe()
    assert rev.groupBy("norm_text", "canonical_text").count().where("count > 1").count() == 0
    flags = [r["needs_review"] for r in rev.select("needs_review").collect()]
    # review-worthy rows first
    assert flags == sorted(flags, reverse=True)


def test_transform_assigns_duplicates_to_existing_cluster(fitted, spark):
    res, tdf, _ = fitted
    # perturb one known conversation lightly -> should attach to its cluster
    base = tdf.where(F.col("conv_id") == tdf.first()["conv_id"])
    new = base.withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("_new")))
    out = res.transform(spark, new)
    row = out.first()
    assert row["assigned"] is True
    want = res.resolved_.where(
        F.col("conv_id") == base.first()["conv_id"]
    ).first()["cluster"]
    assert row["cluster"] == want


def test_save_load_roundtrip(fitted, spark, tmp_path):
    res, tdf, _ = fitted
    p = str(tmp_path / "model")
    res.save(p)
    back = SparkEntityResolver.load(spark, p)
    assert back.resolved_.count() == res.resolved_.count()
    assert back.config == res.config
    # loaded state supports transform without refit
    base = tdf.where(F.col("conv_id") == tdf.first()["conv_id"])
    new = base.withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("_n2")))
    assert back.transform(spark, new).count() == 1


def test_report_distributional_stats(fitted):
    """describe()-style stats mirror reporter.py:106-108."""
    res, _, _ = fitted
    rep = res.generate_report()
    css = rep["cluster_size_stats"]
    assert css["count"] == rep["unique_after"]
    assert css["min"] >= 1 and css["max"] >= css["min"]
    assert css["25%"] <= css["50%"] <= css["75%"] <= css["max"]
    assert abs(css["mean"] * css["count"] - rep["total_records"]) < 1e-6 * rep["total_records"] + 1e-6
    cs = rep["confidence_stats"]
    assert cs["count"] == rep["total_records"]
    assert 0.0 <= cs["min"] <= cs["25%"] <= cs["50%"] <= cs["75%"] <= cs["max"] <= 1.0
    assert abs(cs["mean"] - rep["avg_confidence"]) < 1e-9


def test_load_migrates_format1_config(fitted, spark, tmp_path):
    """A format-1 save dir carrying since-removed config keys (format 1's
    and format 2's) loads cleanly (keys stripped); an unknown future format raises a clear
    error instead of an opaque pydantic one."""
    import json
    import os

    import yaml

    res, _, _ = fitted
    path = str(tmp_path / "model_v1")
    res.save(path)
    # rewrite as an old-format save: format 1 + removed keys present
    cfg_path = os.path.join(path, "config.yaml")
    with open(cfg_path) as f:
        data = yaml.safe_load(f)
    data["random_seed"] = 42
    data["normalization"]["suffix_passes"] = 3
    data["columns"] = {"conv_id": "conv_id", "text": "text"}
    for knob in ("lowercase", "strip_punctuation", "collapse_whitespace"):
        data["normalization"][knob] = True
    with open(cfg_path, "w") as f:
        yaml.safe_dump(data, f)
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump({"format": 1, "metrics": []}, f)

    loaded = SparkEntityResolver.load(spark, path)
    assert loaded.resolved_.count() == res.resolved_.count()

    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump({"format": 99}, f)
    with pytest.raises(RuntimeError, match="format 99"):
        SparkEntityResolver.load(spark, path)
