"""One measured process of the benchmark; ``run.py`` spawns it.

It builds the engine's session, runs one workload's samples and writes
what it measured to ``--out`` as JSON. It times only calls into the
engine's public functions: ``session.get_spark``, the registry query
builders, the Spark sink action, ``nhl.pipeline.run_pipeline``,
``nhl.quality_suite.run_reference_suite`` (and the check functions it
calls) and ``sources.export.export_all``.
"""

from __future__ import annotations

import argparse
import dataclasses
import functools
import hashlib
import json
import os
import random
import shutil
import time
import traceback
from pathlib import Path

import procfs
from stats import Span, self_times, stall_flags, unattributed
from tracing import SparkCounters, Tracer, is_layer, operator_totals, top_operators

HERE = Path(__file__).resolve().parent
APP = "perfbench"
MIN_PASSES = 2
EXPECTED_MODELS = 24
EXPECTED_CHECKS = 230
EXPECTED_EXPORTS = 11
# The builders run_pipeline calls, by module; each is named after the
# model it returns.
NHL_BUILDERS = {
    "staging": ("stg_games", "stg_player_game_stats", "stg_schedule_games",
                "stg_odds_player_props"),
    "dims": ("dim_date", "dim_team", "dim_player"),
    "facts": ("fact_game_results", "fact_player_game_stats",
              "fact_team_game_stats", "fact_shot_events"),
    "metrics": ("team_shot_metrics", "player_shot_metrics",
                "team_shots_against_by_position", "team_shot_locations",
                "player_shot_locations", "bruins_next_opponent",
                "bruins_team_shot_locations", "bruins_player_shot_locations",
                "bruins_shot_events", "bruins_opponent_shot_locations"),
    "odds": ("stg_player_name_crosswalk", "fact_player_sog_props_v2",
             "rpt_sog_props_performance"),
}
QUALITY_CHECKS = ("not_null", "unique", "accepted_values", "accepted_range",
                  "relationships")


def frame_hash(pdf) -> str:
    """Order-insensitive digest of a result in the canonical form of the
    engine's DuckDB parity gate (``plans/parity.py``)."""
    from nhl_data_pipeline_spark.plans.parity import _canon_frame

    cols, rows = _canon_frame(pdf)
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def anchor(spark, reps: int = 2) -> float:
    """A fixed, data-independent md5 hash-aggregate (the shape of
    ``bench.py::_calibration_anchor`` at 1/64 of its rows). A slow anchor
    beside a sample says the machine, not the program, was slow. The
    fastest of ``reps`` back-to-back runs counts, so that a collection of
    the garbage a sample left behind is not taken for a slow machine."""
    from pyspark.sql import functions as F

    spark.catalog.clearCache()
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        (
            spark.range(0, 1 << 18, 1, 8)
            .select(F.md5(F.col("id").cast("string")).alias("h"), "id")
            .groupBy(F.substring("h", 1, 4).alias("k"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("id").cast("decimal(18,0)")).alias("s"))
            .write.format("noop").mode("overwrite").save()
        )
        best = min(best, time.perf_counter() - t)
    return best


def dir_bytes(path: str | Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Run:
    """State of one worker process: its session, tracer and samples."""

    def __init__(self, a):
        self.pid = os.getpid()
        t = time.perf_counter()
        from nhl_data_pipeline_spark.session import get_spark

        self.cores = a.cpus
        self.spark = get_spark(APP, cpus=a.cpus)
        self.session_s = time.perf_counter() - t
        self.tr = Tracer(self.spark, a.trace)
        self.counters = SparkCounters(self.spark) if a.trace else None
        self.samples: list[dict] = []
        self.anchors: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.peak_rss_mb = 0.0
        self._overhead0 = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)

    def begin_sample(self) -> tuple[float, float]:
        self.tr.sample = len(self.samples)
        if self.counters:  # skip what ran before the sample
            self.counters.drain()
            self.counters.stages()
            self.counters.executions()
        self._overhead0 = self.tr.overhead_s
        return time.perf_counter(), procfs.cpu_seconds(self.pid)

    def end_sample(self, w0: float, c0: float, **extra) -> dict:
        wall = time.perf_counter() - w0
        cpu = procfs.cpu_seconds(self.pid) - c0
        self.peak_rss_mb = max(self.peak_rss_mb, procfs.peak_rss_mb(self.pid))
        s = {"wall_s": wall, "cpu_s": cpu,
             "trace_overhead_s": self.tr.overhead_s - self._overhead0, **extra}
        self.samples.append(s)
        return s

    def layer_metrics(
        self, sample: dict, execs: list[dict], st: dict
    ) -> tuple[list[Span], list[float]]:
        """Per-layer numbers of one traced sample, from its spans and the
        Spark records read during it. Returns the sample's spans, with
        parents renumbered within the sample, and their self times."""
        idx = [i for i, s in enumerate(self.tr.spans)
               if s.sample == self.tr.sample]
        local = {g: k for k, g in enumerate(idx)}
        spans = [
            dataclasses.replace(s, parent=local.get(s.parent, -1))
            for s in (self.tr.spans[i] for i in idx)
        ]
        selfs = self_times(spans)

        def total(prefix: str) -> float:
            """Self time of the matching spans."""
            return sum(t for s, t in zip(spans, selfs)
                       if s.name.startswith(prefix))

        def incl(prefix: str) -> float:
            """Duration of the matching spans, children included."""
            return sum(s.dur for s in spans if s.name.startswith(prefix))

        def jobs(prefix: str) -> int:
            """Jobs of the matching spans and of everything under them."""
            n = 0
            for s in spans:
                p = s
                while True:
                    if p.name.startswith(prefix):
                        n += s.jobs
                        break
                    if p.parent < 0:
                        break
                    p = spans[p.parent]
            return n

        ops = operator_totals(execs)
        wall = sample["wall_s"]
        mb = 1 << 20
        sample["layers"] = {
            "plans.build_s": total("plans.build"),
            "plans.build_jobs": jobs("plans.build"),
            "plans.plan_s": total("plans.plan"),
            "exec.s": sum(e["wall_s"] for e in execs),
            "exec.cpu_s": st["cpu_s"],
            "exec.jobs": sum(s.jobs for s in spans),
            "exec.stages": st["stages"],
            "exec.tasks": st["tasks"],
            "exec.shuffle_write_mb": st["shuffle_write_b"] / mb,
            "exec.spill_mb": st["spill_b"] / mb,
            "exec.gc_s": st["gc_s"],
            "catalog.scan_rows": ops["scan_rows"],
            "catalog.scan_mb": ops["scan_b"] / mb,
            "catalog.scan_files": ops["scan_files"],
            "operators.python_mb": ops["python_b"] / mb,
            "nhl.dag_share": incl("nhl.dag") / wall,
            "nhl.dag_jobs": jobs("nhl.dag"),
            "nhl.quality_share": incl("nhl.quality") / wall,
            "nhl.quality_jobs": jobs("nhl.quality"),
            "sources.export_share": incl("sources.export") / wall,
            "trace.unattributed_s": unattributed(wall, spans, is_layer),
        }
        sample["spans"] = [
            {**dataclasses.asdict(s), "self_s": t}
            for s, t in zip(spans, selfs)
        ]
        return spans, selfs

    def result(self, setup_s: float, **extra) -> dict:
        flags = (
            stall_flags([s["wall_s"] for s in self.samples],
                        [s["cpu_s"] for s in self.samples], self.anchors,
                        self.cores)
            if self.samples else []
        )
        for s, f in zip(self.samples, flags):
            s["stall_suspect"] = f
        return {
            "setup_s": setup_s,
            "session_s": self.session_s,
            "anchors_s": self.anchors,
            "samples": self.samples,
            "attempted": self.attempted,
            "failed": self.failed,
            "notes": self.notes,
            "peak_rss_mb": self.peak_rss_mb,
            "cpus": self.spark.sparkContext.defaultParallelism,
            **extra,
        }


def query_mix(a) -> dict:
    from nhl_data_pipeline_spark.catalog import TABLES, load_table
    from nhl_data_pipeline_spark.plans.registry import all_queries

    r = Run(a)
    spark, tr = r.spark, r.tr
    specs = {n: s for n, s in all_queries().items() if s.bench}
    order = sorted(specs)
    random.Random(a.seed).shuffle(order)
    for t in TABLES:
        load_table(spark, a.lake, t)
    expected = json.loads((HERE / "expected_hashes.json").read_text())
    # Output check, which is also the untimed warm-up pass: each query's
    # verified shape (spec.fn) collected once and hashed.
    check_s = {}
    for name in order:
        spark.catalog.clearCache()
        r.attempted += 1
        t = time.perf_counter()
        try:
            got = frame_hash(specs[name].fn(spark, a.lake).toPandas())
        except Exception:  # a failed query is counted, and the run goes on
            got = traceback.format_exc(limit=1)
        check_s[name] = time.perf_counter() - t
        if got != expected["queries"][name]["hash"]:
            r.fail(f"{name}: result hash {got[:80]!r} differs")
    # One more untimed pass in the timed shape: the passes right after the
    # check still ran ~15% slower each while the JIT compiled.
    for name in order:
        spark.catalog.clearCache()
        try:
            specs[name].fn(spark, a.lake).write.format("noop").mode(
                "overwrite").save()
        except Exception:  # the check and the timed passes count failures
            pass
    setup_s = time.monotonic() - a.t_spawn
    anchor(spark, 3)  # compiles and JIT-warms the anchor; untimed
    r.anchors.append(anchor(spark))
    t_meas = time.monotonic()
    while len(r.samples) < MIN_PASSES or time.monotonic() - t_meas < a.seconds:
        w0, c0 = r.begin_sample()
        lat: dict[str, float] = {}
        ops: dict[str, list] = {}
        st_tot: dict[str, float] = {}
        execs_all: list[dict] = []
        held = [0, 0.0]
        for name in order:
            r.attempted += 1
            with tr.span("query", name):
                with tr.span("catalog.clear_cache"):
                    spark.catalog.clearCache()
                t = time.perf_counter()
                try:
                    with tr.span("plans.build", name):
                        df = specs[name].fn(spark, a.lake)
                    if a.trace:
                        with tr.span("plans.plan", name):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.sink", name):
                        df.write.format("noop").mode("overwrite").save()
                except Exception:  # counted; the pass goes on
                    r.fail(f"{name}: {traceback.format_exc(limit=1)}")
                lat[name] = time.perf_counter() - t
            # After the query span has closed, so its own jobs count too.
            if r.counters:
                with tr.overhead():
                    r.counters.drain()
                    tr.resolve_jobs()
                    n, b = r.counters.storage()
                    held[0] += n
                    held[1] += b
                    for k, v in r.counters.stages().items():
                        st_tot[k] = st_tot.get(k, 0.0) + v
                    ex = r.counters.executions()
                    execs_all.extend(ex)
                    ops[name] = top_operators(ex)
        s = r.end_sample(w0, c0, latencies_s=list(lat.values()), per_query_s=lat)
        r.anchors.append(anchor(spark))
        if a.trace:
            r.layer_metrics(s, execs_all, st_tot)
            s["layers"]["catalog.persisted_rdds_after"] = held[0]
            s["layers"]["catalog.cached_mb_after"] = held[1] / (1 << 20)
            s["top_operators"] = ops
    return r.result(setup_s, order=order, check_s=check_s)


def _timed_calls(module, names, sink: list[float]) -> None:
    """Wrap ``module.<name>`` so each call's latency lands in ``sink``."""
    for name in names:
        fn = getattr(module, name)

        @functools.wraps(fn)
        def timed(*args, _fn=fn, **kw):
            t = time.perf_counter()
            try:
                return _fn(*args, **kw)
            finally:
                sink.append(time.perf_counter() - t)

        setattr(module, name, timed)


def _traced_builders(tr: Tracer) -> None:
    """Spans around each model builder run_pipeline calls: the builder
    call itself, then forcing its physical plan."""
    import importlib

    for mod, names in NHL_BUILDERS.items():
        module = importlib.import_module(f"nhl_data_pipeline_spark.nhl.{mod}")
        for name in names:
            fn = getattr(module, name)

            @functools.wraps(fn)
            def build(*args, _fn=fn, _name=name, **kw):
                with tr.span("plans.build", _name):
                    df = _fn(*args, **kw)
                with tr.span("plans.plan", _name):
                    df._jdf.queryExecution().executedPlan()
                return df

            setattr(module, name, build)


def _model_times(
    spans: list[Span], selfs: list[float], execs: list[dict], wh: str
) -> dict[str, float]:
    """Seconds per model: its builder spans' self time plus the SQL
    executions that wrote its warehouse path. An execution that writes
    nothing (a sampling or counting job inside a builder or writer) is
    charged to the next one that writes."""
    out: dict[str, float] = {}
    for s, t in zip(spans, selfs):
        if s.name.startswith("plans.") and s.label:
            out[s.label] = out.get(s.label, 0.0) + t
    pending = 0.0
    for e in execs:
        pending += e["wall_s"]
        path = e["path"]
        if path and os.path.dirname(path.rstrip("/")) == wh.rstrip("/"):
            model = os.path.basename(path.rstrip("/"))
            out[model] = out.get(model, 0.0) + pending
            pending = 0.0
    return out


def nhl_daily(a) -> dict:
    from nhl_data_pipeline_spark.cli import BRONZE_TABLES, DEFAULT_BRONZE
    from nhl_data_pipeline_spark.nhl import pipeline, quality_suite
    from nhl_data_pipeline_spark.sources.export import export_all

    r = Run(a)
    spark, tr = r.spark, r.tr
    bronze = {
        t: spark.read.parquet(os.path.join(DEFAULT_BRONZE, t))
        for t in BRONZE_TABLES
    }
    bronze_b = dir_bytes(DEFAULT_BRONZE)
    check_lat: list[float] = []
    _timed_calls(quality_suite, QUALITY_CHECKS, check_lat)
    if a.trace:
        _traced_builders(tr)
    out_dir = Path(a.scratch)
    wh, csv = str(out_dir / "warehouse"), str(out_dir / "export")
    setup_s = time.monotonic() - a.t_spawn
    anchor(spark, 3)  # compiles and JIT-warms the anchor; untimed
    r.anchors.append(anchor(spark))
    w0, c0 = r.begin_sample()
    r.attempted += 1 + EXPECTED_CHECKS + EXPECTED_EXPORTS
    models, checks, paths = {}, [], {}
    try:
        with tr.span("nhl.dag"):
            models = pipeline.run_pipeline(spark, bronze, warehouse_dir=wh).models
        with tr.span("nhl.quality"):
            checks = quality_suite.run_reference_suite(models, bronze)
        with tr.span("sources.export"):
            paths = export_all(models, csv)
    except Exception:  # counted; what was built is still checked
        r.fail(traceback.format_exc(limit=2))
    s = r.end_sample(w0, c0, latencies_s=check_lat)
    r.anchors.append(anchor(spark))
    if models and len(models) != EXPECTED_MODELS:
        r.fail(f"{len(models)} models built, expected {EXPECTED_MODELS}")
    failed_checks = [f"{c.table}.{c.check}" for c in checks if not c.passed]
    bad = len(failed_checks) + abs(EXPECTED_CHECKS - len(checks))
    if bad:
        r.failed += bad
        r.notes.append(f"quality: {len(checks)} checks, failed {failed_checks}")
    written = [p for p in paths.values() if os.path.isdir(p)
               and any(f.endswith(".csv") for f in os.listdir(p))]
    if len(written) != EXPECTED_EXPORTS:
        r.failed += EXPECTED_EXPORTS - len(written)
        r.notes.append(f"{len(written)} exports written")
    wh_b = dir_bytes(wh) if os.path.isdir(wh) else 0
    csv_b = dir_bytes(csv) if os.path.isdir(csv) else 0
    if a.trace:
        with tr.overhead():
            r.counters.drain()
            tr.resolve_jobs()
            st = r.counters.stages()
            execs = r.counters.executions()
            n_rdd, held_b = r.counters.storage()
        spans, selfs = r.layer_metrics(s, execs, st)
        wall = s["wall_s"]
        times = _model_times(spans, selfs, execs, wh)
        mb = 1 << 20
        s["layers"].update({
            "catalog.persisted_rdds_after": n_rdd,
            "catalog.cached_mb_after": held_b / mb,
            "nhl.quality_checks": len(checks),
            "sources.export_mb": csv_b / mb,
            "sources.warehouse_mb": wh_b / mb,
            "sources.write_amp": (wh_b + csv_b) / bronze_b,
        })
        for name in (n for names in NHL_BUILDERS.values() for n in names):
            s["layers"][f"nhl.model.{name}.share"] = times.get(name, 0.0) / wall
        s["model_s"] = times
        s["top_operators"] = top_operators(execs, 10)
    shutil.rmtree(out_dir, ignore_errors=True)
    return r.result(
        setup_s,
        input_bytes={"bronze": bronze_b},
        output_bytes={"warehouse": wh_b, "export": csv_b},
        model_count=len(models),
        checks_passed=len(checks) - len(failed_checks),
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("query_mix", "nhl_daily"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--t-spawn", type=float, required=True,
                    help="time.monotonic() when the parent spawned us")
    ap.add_argument("--lake", default=None)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    a.trace = bool(a.trace)
    res = (query_mix if a.workload == "query_mix" else nhl_daily)(a)
    Path(a.out).write_text(json.dumps(res))
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


if __name__ == "__main__":
    main()
