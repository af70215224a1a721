#!/usr/bin/env python3
"""Benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run it from the repository root. Each run spawns fresh worker processes
(``worker.py``) at one task thread per core, one closed-loop client each,
and prints as its last stdout line one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` a separate,
traced run's per-layer metrics. The line before it records provenance;
the full record (every sample, span and check) goes to
``perfbench/.work/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import procfs
from stats import median, tail

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
ENGINE = ROOT / "nhl_data_pipeline_spark"
# A byte-for-byte copy of the engine's sf0.01 test lake (the one its
# DuckDB correctness tier runs on), so a checkout holds its own input.
LAKE = HERE / "data" / "sf0.01"
RUN_BUDGET_S = 170  # a run must end within 180 s


def _reap_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait until every process of the group has ended (the JVM outlives
    its Python driver by a moment); kill what is left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            if killed:
                return
            os.killpg(pgid, signal.SIGKILL)
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.05)


def _spawn(args: list[str], env: dict, log: Path, timeout_s: float) -> int:
    """Run one worker in its own process group; return its exit code."""
    with open(log, "w") as out:
        t = time.monotonic()
        p = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), *args,
             "--t-spawn", repr(t)],
            env=env, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = p.wait(max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            rc = p.wait()
        _reap_group(p.pid)
    return rc


def _env(scratch: Path) -> dict:
    """Worker environment that keeps every file the engine, Spark and the
    JVM read or write inside the checkout."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
        ),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(scratch / "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_SF_DIR": str(LAKE),
    })
    return env


def _table_sizes(paths: dict[str, Path]) -> dict[str, dict[str, int]]:
    """Rows (from parquet footers) and bytes of each input table."""
    import pyarrow.parquet as pq

    out = {}
    for name, p in paths.items():
        files = [p] if p.is_file() else sorted(p.rglob("*.parquet"))
        out[name] = {
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(f.stat().st_size for f in files),
        }
    return out


def _engine_version() -> dict:
    """The engine commit when the checkout is a git work tree, and always
    a digest of the engine's sources."""
    h = hashlib.sha256()
    for f in sorted(ENGINE.rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    try:
        top, commit = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        ).stdout.split() or (None, None)
    except (OSError, subprocess.SubprocessError, ValueError):
        top = commit = None
    if top is None or Path(top).resolve() != ROOT:  # not this tree's repo
        commit = None
    return {"commit": commit, "source_sha256": h.hexdigest()}


def _end_to_end(results: list[dict]) -> dict[str, float]:
    samples = [s for r in results for s in r["samples"]]
    return {
        "setup_s": median([r["setup_s"] for r in results]),
        "wall_s": median([s["wall_s"] for s in samples]),
        "query_p50_s": median([v for s in samples for v in s["latencies_s"]]),
        "cpu_s": median([s["cpu_s"] for s in samples]),
    }


def _per_layer(results: list[dict], names: list[str]) -> dict[str, float]:
    samples = [s for r in results for s in r["samples"]]
    walls = sum(s["wall_s"] for s in samples)
    # Forced planning is work the untraced run does not do, so it counts
    # as overhead beside the tracer's own bookkeeping.
    over = sum(
        s["trace_overhead_s"] + s["layers"]["plans.plan_s"] for s in samples
    )
    got = {
        "session.start_s": median([r["session_s"] for r in results]),
        "trace.overhead_frac": over / (walls - over),
    }
    for n in names:
        if n not in got:
            got[n] = median([s["layers"].get(n, 0.0) for s in samples])
    return got


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("query_mix", "nhl_daily"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args(argv)
    if not (ENGINE / "session.py").is_file():
        print(f"perfbench: engine sources missing at {ENGINE}; run from a"
              " full checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    group = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in group}

    sys.path.insert(0, str(ROOT))
    from nhl_data_pipeline_spark.cli import BRONZE_TABLES, DEFAULT_BRONZE

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    scratch = WORK / f"run-{os.getpid()}"
    logs, out_dir = WORK / "logs", WORK / "results"
    for d in (logs, out_dir):
        d.mkdir(parents=True, exist_ok=True)
    env = _env(scratch)
    cpus = len(os.sched_getaffinity(0))
    if a.workload == "query_mix":
        from nhl_data_pipeline_spark.catalog import TABLES

        lake = LAKE
        inputs = _table_sizes({t: lake / f"{t}.parquet" for t in TABLES})
    else:
        lake = None
        inputs = _table_sizes(
            {t: Path(DEFAULT_BRONZE) / t for t in BRONZE_TABLES}
        )
    common = [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus), "--scratch", str(scratch / "out"),
    ] + (["--lake", str(lake)] if lake else [])

    # query_mix keeps one long-lived session; nhl_daily pays a fresh
    # process (JVM start, cold JIT) per sample, as a daily run does.
    results, crashed = [], []
    steal0, ticks0 = procfs.host_cpu_ticks()
    t0 = time.monotonic()
    try:
        # Another nhl_daily process starts only while it can still finish
        # inside the run's budget.
        while not results or (
            a.workload == "nhl_daily"
            and time.monotonic() - t0 < min(a.seconds, RUN_BUDGET_S / 2)
        ):
            i = len(results)
            res_file = scratch / f"result-{i}.json"
            log = logs / f"{tag}-{i}.log"
            rc = _spawn(common + ["--out", str(res_file)], env, log,
                        RUN_BUDGET_S - (time.monotonic() - t0))
            if rc != 0 or not res_file.exists():
                crashed.append({"rc": rc, "log": str(log)})
                print(f"perfbench: worker exited {rc}; see {log}",
                      file=sys.stderr)
                break
            results.append(json.loads(res_file.read_text()))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if not results:
        return 1
    steal1, ticks1 = procfs.host_cpu_ticks()

    attempted = sum(r["attempted"] for r in results) + len(crashed)
    failed = sum(r["failed"] for r in results) + len(crashed)
    metrics = (
        _per_layer(results, list(units)) if a.trace else _end_to_end(results)
    )
    tail_s, tail_pct, n_lat = tail([
        v for r in results for s in r["samples"] for v in s["latencies_s"]
    ])
    provenance = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cores": cpus,
        "task_threads": results[0]["cpus"],
        "engine": _engine_version(), "inputs": inputs,
        "samples": sum(len(r["samples"]) for r in results),
        "peak_rss_mb": [r["peak_rss_mb"] for r in results],
        "processes": len(results),
        "host_steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "query_tail_s": {
            "value": tail_s, "percentile": tail_pct, "samples": n_lat
        },
        "stall_suspect": [
            s["stall_suspect"] for r in results for s in r["samples"]
        ],
        "failures": [n for r in results for n in r["notes"]] + crashed,
    }
    record = out_dir / f"{tag}.json"
    record.write_text(json.dumps(
        {"provenance": provenance, "metrics": metrics, "workers": results},
        indent=1,
    ))
    print(json.dumps({"provenance": provenance, "record": str(
        record.relative_to(ROOT))}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            n: {"value": metrics[n], "unit": units[n]} for n in units
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
