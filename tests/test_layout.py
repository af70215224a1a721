"""Z-order layout: measured file-level pruning vs hash layout, plus
Morton-value unit properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.sources.layout import (
    file_bounding_boxes,
    files_intersecting,
    minmax_bin,
    with_hilbert,
    write_zordered,
    zvalue,
)
from tests.conftest import TEST_SF_DIR


def test_zvalue_interleaves_bits(spark):
    # (x=0b10, y=0b01) at 2 bits -> z = y1 x1 y0 x0 = 0b0110 = 6
    df = spark.createDataFrame([(2, 1)], "x: bigint, y: bigint")
    z = df.select(zvalue([F.col("x"), F.col("y")], 2)).collect()[0]["z"]
    assert z == 6
    # z is monotone-safe: equal points collide, distinct points differ
    pts = [(a, b) for a in range(4) for b in range(4)]
    df = spark.createDataFrame(pts, "x: bigint, y: bigint")
    zs = [r["z"] for r in df.select(zvalue([F.col("x"), F.col("y")], 2)).collect()]
    assert len(set(zs)) == len(pts)
    assert min(zs) == 0 and max(zs) == 15


def test_hilbert_is_the_classic_curve(spark):
    """All 2^(2b) cells distinct in [0, 4^b), and CONSECUTIVE indices are
    grid neighbors — the continuity property Morton lacks (and the reason
    hilbert prunes seam-straddling boxes better, see module docstring)."""
    for bits, n in ((2, 4), (3, 8)):
        pts = [(a, b) for a in range(n) for b in range(n)]
        df = spark.createDataFrame(pts, "x: bigint, y: bigint")
        rows = with_hilbert(df, F.col("x"), F.col("y"), bits).collect()
        m = {r["z"]: (r["x"], r["y"]) for r in rows}
        assert len(m) == n * n
        assert min(m) == 0 and max(m) == n * n - 1
        assert all(
            abs(m[i][0] - m[i + 1][0]) + abs(m[i][1] - m[i + 1][1]) == 1
            for i in range(n * n - 1)
        )


def test_minmax_bin_clamps(spark):
    df = spark.createDataFrame([(-5.0,), (0.0,), (50.0,), (100.0,), (200.0,)], "v: double")
    got = [
        r["b"]
        for r in df.select(minmax_bin(F.col("v"), 0.0, 100.0, 4).alias("b")).collect()
    ]
    assert got[0] == 0  # below lo clamps
    assert got[1] == 0
    assert got[2] == 8  # midpoint -> half the bins
    assert got[3] == 15  # hi clamps into top bin
    assert got[4] == 15  # beyond hi clamps


def test_zorder_prunes_box_queries(spark, tmp_path):
    """The measured claim: for a (user_id, ts) box predicate, the z-ordered
    layout's footer stats prune far more files than a hash layout of the
    same file count."""
    ev = load_table(spark, TEST_SF_DIR, "events").select(
        "event_id",
        "user_id",
        F.unix_seconds(F.col("ts").cast("timestamp")).cast("double").alias("ts_s"),
    )
    n_files = 16
    zpath, hpath = str(tmp_path / "z"), str(tmp_path / "h")
    write_zordered(ev, zpath, ["user_id", "ts_s"], bits=10, n_files=n_files)
    ev.repartition(n_files, "event_id").write.mode("overwrite").parquet(hpath)

    zbox = file_bounding_boxes(zpath, ["user_id", "ts_s"])
    hbox = file_bounding_boxes(hpath, ["user_id", "ts_s"])
    assert len(zbox) == n_files and len(hbox) == n_files

    stats = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("ts_s"), F.max("ts_s")
    ).collect()[0]
    ulo, uhi, tlo, thi = stats
    # a 1/4 x 1/4 box in the middle of each dimension
    pred = {
        "user_id": (ulo + (uhi - ulo) * 0.4, ulo + (uhi - ulo) * 0.65),
        "ts_s": (tlo + (thi - tlo) * 0.4, tlo + (thi - tlo) * 0.65),
    }
    z_hit = files_intersecting(zbox, pred)
    h_hit = files_intersecting(hbox, pred)
    # hash layout: every file spans everything -> reads all files
    assert h_hit == n_files
    # z-order: the box predicate touches a small corner of the z-curve
    assert z_hit <= n_files // 2, (z_hit, h_hit)

    # hilbert: continuous curve — at least as good on this seam-adjacent
    # box as morton, and never the full file set
    gpath = str(tmp_path / "g")
    write_zordered(
        ev, gpath, ["user_id", "ts_s"], bits=10, n_files=n_files, curve="hilbert"
    )
    g_hit = files_intersecting(file_bounding_boxes(gpath, ["user_id", "ts_s"]), pred)
    assert g_hit <= z_hit, (g_hit, z_hit)

    # and the data survives the round trip
    assert spark.read.parquet(zpath).count() == ev.count()
    assert spark.read.parquet(gpath).count() == ev.count()


def test_ivf_centroid_partitioned_layout_prunes(spark, tmp_path):
    """Back the IVF docstring claim 'centroid buckets = write-time
    partition pruning' with a plan: write the corpus partitionBy(cluster),
    probe a 2-cluster subset, and assert the scan's PartitionFilters prune
    to exactly the probed directories (partition pruning, stronger than
    footer stats — unprobed clusters are never opened)."""
    from nhl_data_pipeline_spark.operators.kmeans import (
        assign_clusters,
        kmeans,
    )

    emb = load_table(spark, TEST_SF_DIR, "embeddings")
    _, cents = kmeans(emb, k=4, n_iter=3)
    path = str(tmp_path / "ivf")
    assign_clusters(emb, cents).write.partitionBy("cluster_id").parquet(path)

    probed = spark.read.parquet(path).filter(F.col("cluster_id").isin(0, 2))
    p = probed.sparkSession._jvm.PythonSQLUtils.explainString(
        probed._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in p and "cluster_id" in p
    # only the probed partitions' files are actually read
    # (input_file_name reflects post-pruning scan; .inputFiles() does not)
    from pathlib import Path

    all_parts = {d.name for d in Path(path).iterdir() if d.name.startswith("cluster_id=")}
    assert len(all_parts) >= 3  # the corpus actually spreads over clusters
    read_parts = {
        r[0].split("cluster_id=")[1].split("/")[0]
        for r in probed.select(F.input_file_name()).distinct().collect()
    }
    assert read_parts <= {"0", "2"}
    # and the probe result is exactly the rows of those clusters
    assigned = assign_clusters(emb, cents)
    want = assigned.filter(F.col("cluster_id").isin(0, 2)).count()
    assert probed.count() == want


def test_fact_shot_events_hilbert_layout_prunes(spark, tmp_path):
    """The NHL lake writer's Hilbert layout (the fact_shot_events
    stage's writer, nhl/pipeline.py::_hilbert_shots) must make the
    worksheet's two-column access pattern — one team over a date window
    (team_shot_example_queries.sql:96-124) — a file-pruned scan: footer
    stats alone must exclude >50% of the files."""
    from nhl_data_pipeline_spark.nhl import fixtures
    from nhl_data_pipeline_spark.nhl.pipeline import run_pipeline

    bronze = {
        "game_boxscore": fixtures.boxscore_snapshots(spark),
        "game_pbp": fixtures.pbp_snapshots(spark),
        "schedule": fixtures.schedule_snapshots(spark),
        "odds_player_props": fixtures.odds_snapshots(spark),
    }
    wh = str(tmp_path / "wh")
    models = run_pipeline(spark, bronze, warehouse_dir=wh).models
    fse = models["fact_shot_events"]
    # the layout key is dropped before write; the data columns survive
    assert "_zd_days" not in fse.columns
    path = f"{wh}/fact_shot_events"
    boxes = file_bounding_boxes(path, ["team_id", "game_date"])
    n_files = len(boxes)
    assert n_files >= 8  # enough files for pruning to be meaningful

    teams = sorted(
        r["team_id"] for r in fse.select("team_id").distinct().collect()
    )
    dates = sorted(
        r["game_date"] for r in fse.select("game_date").distinct().collect()
    )
    mid = dates[len(dates) // 2]
    # worksheet shape: one team, recent-dates window
    read = files_intersecting(
        boxes, {"team_id": (teams[0], teams[0]), "game_date": (mid, dates[-1])}
    )
    assert 0 < read < n_files / 2, (read, n_files)
    # and the full result still comes back correct through the scan
    got = fse.filter(
        (F.col("team_id") == teams[0]) & (F.col("game_date") >= mid)
    ).count()
    assert got > 0
