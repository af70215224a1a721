"""Pipeline runner: topo order, state-based skipping, selective rebuild,
crash resume, cycle/unknown-dep rejection."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.pipeline import Pipeline, Stage
from tests.conftest import TEST_SF_DIR


def _mini_dag(bronze_version="1", fact_version="1"):
    def bronze(spark, _inputs):
        return load_table(spark, TEST_SF_DIR, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )

    def staging(spark, inputs):
        return inputs["bronze_orders"].filter(F.col("o_totalprice") > 0)

    def fact(spark, inputs):
        return (
            inputs["stg_orders"]
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("revenue"))
        )

    return Pipeline(
        [
            Stage("fact_revenue", fact, deps=("stg_orders",), version=fact_version),
            Stage("bronze_orders", bronze, version=bronze_version),
            Stage("stg_orders", staging, deps=("bronze_orders",)),
        ]
    )


def test_builds_in_dependency_order_and_skips_on_rerun(spark, tmp_path):
    p = _mini_dag()
    root = str(tmp_path / "lake")
    r1 = p.run(spark, root)
    assert {k: v.status for k, v in r1.items()} == {
        "bronze_orders": "built",
        "stg_orders": "built",
        "fact_revenue": "built",
    }
    out = p.read(spark, root, "fact_revenue")
    want = (
        load_table(spark, TEST_SF_DIR, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))

    r2 = p.run(spark, root)
    assert all(v.status == "skipped" for v in r2.values())
    assert {k: v.fingerprint for k, v in r1.items()} == {
        k: v.fingerprint for k, v in r2.items()
    }


def test_version_bump_rebuilds_stage_and_downstream_only(spark, tmp_path):
    root = str(tmp_path / "lake")
    _mini_dag().run(spark, root)
    r = _mini_dag(fact_version="2").run(spark, root)
    assert r["bronze_orders"].status == "skipped"
    assert r["stg_orders"].status == "skipped"
    assert r["fact_revenue"].status == "built"

    r = _mini_dag(bronze_version="2", fact_version="2").run(spark, root)
    # a source bump invalidates the whole downstream cone
    assert all(v.status == "built" for v in r.values())


def test_crash_resume_rebuilds_only_unfinished(spark, tmp_path):
    root = str(tmp_path / "lake")
    p = _mini_dag()
    p.run(spark, root)
    # simulate a crash mid-stage: parquet written, manifest never committed
    (Path(root) / "stg_orders" / "_pipeline_manifest.json").unlink()
    r = p.run(spark, root)
    assert r["bronze_orders"].status == "skipped"
    assert r["stg_orders"].status == "built"
    assert r["fact_revenue"].status == "skipped"  # fingerprint unchanged


def test_force_rebuilds_without_cascading(spark, tmp_path):
    root = str(tmp_path / "lake")
    p = _mini_dag()
    p.run(spark, root)
    r = p.run(spark, root, force=("stg_orders",))
    assert r["stg_orders"].status == "built"
    assert r["fact_revenue"].status == "skipped"  # same fingerprint


def test_cycles_and_unknown_deps_rejected(spark):
    f = lambda s, i: None  # noqa: E731
    with pytest.raises(ValueError, match="cycle"):
        Pipeline(
            [Stage("a", f, deps=("b",)), Stage("b", f, deps=("a",))]
        )
    with pytest.raises(ValueError, match="unknown"):
        Pipeline([Stage("a", f, deps=("nope",))])
    with pytest.raises(ValueError, match="duplicate"):
        Pipeline([Stage("a", f), Stage("a", f)])


def test_views_and_unversioned_stages(spark, tmp_path):
    """A stage with no writer is a lazy view over its deps' frames (no
    files, status 'view'); with no root every stage is a view; a stage
    whose version is None rebuilds on every run, and so does its cone."""
    root = str(tmp_path / "lake")
    p = _mini_dag()
    view = Pipeline(
        [
            Stage("bronze_orders", p.stages[1].fn, version=None),
            Stage("stg_orders", p.stages[2].fn, deps=("bronze_orders",)),
            Stage("fact_revenue", p.stages[0].fn, deps=("stg_orders",),
                  write=None),
        ]
    )
    r1 = view.run(spark, root)
    assert {k: v.status for k, v in r1.items()} == {
        "bronze_orders": "built",
        "stg_orders": "built",
        "fact_revenue": "view",
    }
    assert not (Path(root) / "fact_revenue").exists()
    assert r1["fact_revenue"].df.count() == p.run(spark, None)[
        "fact_revenue"
    ].df.count()
    r2 = view.run(spark, root)
    assert r2["bronze_orders"].status == "built"
    assert r2["stg_orders"].status == "built"
    assert all(v.status == "view" for v in p.run(spark, None).values())
