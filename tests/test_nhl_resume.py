"""State-based skipping and crash resume of the NHL model DAG.

The 24 models run as stages of ``pipeline.Pipeline``; with a warehouse a
rerun skips every table whose fingerprint (package code, ``as_of``, the
file identity of each bronze table it reads, upstream fingerprints) is
unchanged — dbt's ``state:modified+`` — and rebuilds only the cone of
what changed.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pytest

from nhl_data_pipeline_spark.cli import BRONZE_TABLES, DEFAULT_BRONZE
from nhl_data_pipeline_spark.nhl import facts
from nhl_data_pipeline_spark.nhl import pipeline as nhl_pipeline
from nhl_data_pipeline_spark.nhl.pipeline import run_pipeline

TABLES = {
    "stg_games", "stg_player_game_stats", "stg_schedule_games",
    "stg_odds_player_props", "dim_date", "dim_team", "dim_player",
    "fact_game_results", "fact_player_game_stats", "fact_team_game_stats",
    "fact_shot_events", "fact_player_sog_props_v2",
}


def _statuses(result) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    for name, r in result.stages.items():
        out.setdefault(r.status, set()).add(name)
    return out


def test_crash_mid_dag_resumes_only_the_unfinished_cone(
    spark, tmp_path, monkeypatch, capsys
):
    """A run killed inside fact_shot_events leaves every table before it
    committed; the CLI rerun skips them, builds fact_shot_events (its
    downstream models are views over the rebuilt table), says so in its
    summary line, and passes the reference quality suite."""
    from nhl_data_pipeline_spark.cli import main

    wh = str(tmp_path / "wh")

    def killed(*_a, **_k):
        raise RuntimeError("killed mid-DAG")

    with monkeypatch.context() as m:
        m.setattr(facts, "fact_shot_events", killed)
        with pytest.raises(RuntimeError, match="killed mid-DAG"):
            main(["--warehouse", wh, "--skip-quality"])
    assert not os.path.exists(os.path.join(wh, "fact_shot_events"))
    capsys.readouterr()

    seen = []

    def recording(*a, **k):
        seen.append(run_pipeline(*a, **k))
        return seen[-1]

    monkeypatch.setattr(nhl_pipeline, "run_pipeline", recording)
    rc = main(["--warehouse", wh])
    out = capsys.readouterr().out
    assert rc == 0, out
    (result,) = seen
    st = _statuses(result)
    assert st["built"] == {"fact_shot_events"}
    assert st["skipped"] == TABLES - {"fact_shot_events"}
    assert st["view"] == set(result.stages) - TABLES
    assert len(result.stages) == 24
    assert "built 24 models (1 built, 11 skipped, 12 views)" in out
    quality = [ln for ln in out.splitlines() if ln.startswith("quality: ")]
    assert len(quality) == 1
    passed, total = quality[0].split()[1].split("/")
    assert passed == total and int(total) > 200, quality


def _rewrite(bronze_dir: Path, table: str) -> None:
    """Rewrite a bronze table's files in place (same bytes, new mtime) —
    what a re-ingest of the same snapshot leaves behind."""
    for f in (bronze_dir / table).glob("*.parquet"):
        data = f.read_bytes()
        f.write_bytes(data)
        st = f.stat()
        os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


@pytest.mark.parametrize(
    "change, rebuilt",
    [
        # dim_date and dim_player read as_of; dim_player's cone is every
        # fact keyed on players (shots, player/team stats, props)
        ("as_of", {
            "dim_date", "dim_player", "fact_player_game_stats",
            "fact_team_game_stats", "fact_shot_events",
            "fact_player_sog_props_v2",
        }),
        # odds bronze → its staging table → the props fact (through the
        # crosswalk view)
        ("rewritten_bronze", {
            "stg_odds_player_props", "fact_player_sog_props_v2",
        }),
        # an in-memory frame has no file identity: its reader rebuilds on
        # every run, and its cone (views only) follows
        ("in_memory_bronze", {"stg_schedule_games"}),
    ],
)
def test_rerun_rebuilds_only_the_changed_cone(spark, tmp_path, change, rebuilt):
    bronze_dir = tmp_path / "bronze"
    shutil.copytree(DEFAULT_BRONZE, bronze_dir)

    def read_bronze():
        b = {t: spark.read.parquet(str(bronze_dir / t)) for t in BRONZE_TABLES}
        if change == "in_memory_bronze":
            s = b["schedule"]
            b["schedule"] = spark.createDataFrame(s.collect(), s.schema)
        return b

    wh = str(tmp_path / "wh")
    first = run_pipeline(spark, read_bronze(), warehouse_dir=wh)
    assert _statuses(first)["built"] == TABLES

    as_of = "2024-11-15"
    if change == "as_of":
        as_of = "2024-11-20"
    elif change == "rewritten_bronze":
        _rewrite(bronze_dir, "odds_player_props")
    again = run_pipeline(spark, read_bronze(), warehouse_dir=wh, as_of=as_of)
    st = _statuses(again)
    assert st["built"] == rebuilt
    assert st["skipped"] == TABLES - rebuilt
    assert len(st["view"]) == 12
