"""Materialized-DAG pipeline runner: the engine-side analog of the
reference's orchestration layer.

The reference wires `ingest >> [loads] >> dbt run >> export` as an Airflow
DAG (dags/nhl_daily_ingestion_dag.py:250-252) and relies on dbt to build
models in ref()-dependency order; re-runs are made safe by idempotent
loads. This module is that contract, Spark-native and state-aware:

- **Stages** are named DataFrame builders with explicit dependencies; the
  runner topologically orders them (cycles rejected at construction).
- **Materialization is a stage attribute**, like dbt's per-model
  `materialized=` config: ``write(df, path)`` writes a table to
  `<root>/<name>/` (plain parquet by default; partitioned or clustered
  writers plug in), ``None`` keeps the stage a lazy view. Downstream
  stages receive the re-read table or the lazy view. With no root every
  stage is a view — one lazy plan over the sources.
- **Each table carries a manifest** recording its STATE FINGERPRINT: md5
  of the package code, the stage's version token and its dependencies'
  fingerprints. Stages that read sources carry the sources' identity in
  their version (:func:`source_identity`); changing any of these
  invalidates exactly that stage and its downstream cone — dbt's
  `state:modified+` semantics without a metadata service. A stage whose
  version is None has no stable identity and always rebuilds.
- **Re-runs skip clean tables** (fingerprint match ⇒ read the existing
  parquet, zero compute) and **resume after crashes**: the manifest is
  written only AFTER the parquet commit, so a stage killed mid-write has
  no manifest and rebuilds; its finished upstreams skip. Fingerprints
  chain, so a skipped stage's downstream sees the same fingerprint it
  would after a rebuild.

At 100 TB this is the pattern that matters: the fingerprint is a few
bytes of driver state per stage — skipping is O(1) regardless of data
size, and materialization boundaries double as the shuffle-free restart
points the reference gets from its S3/Snowflake layer hops.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import uuid
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_pipeline_manifest.json"


def _manifest_fp(manifest: Path) -> str | None:
    """Fingerprint from a manifest, or None if absent/unreadable — a torn
    or corrupt manifest means the stage is DIRTY (rebuild), never a crash:
    self-healing is the whole point of the resume contract."""
    if not manifest.exists():
        return None
    try:
        return json.loads(manifest.read_text()).get("fingerprint")
    except (json.JSONDecodeError, OSError):
        return None


@functools.cache
def code_version() -> str:
    """md5 of this package's Python sources, computed once per process:
    any code change may change any stage's output."""
    pkg = Path(__file__).resolve().parent
    h = hashlib.md5()
    for f in sorted(pkg.rglob("*.py")):
        h.update(str(f.relative_to(pkg)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def source_identity(df: DataFrame) -> str | None:
    """Identity of a file-backed source frame: md5 of its canonicalized
    analyzed plan plus the sorted (path, size, mtime_ns) of its input
    files — the file key ``catalog.load_table`` memoizes on. Stable across
    processes; a rewritten file changes it. None when any leaf is not a
    local file scan (an in-memory frame has no identity to compare).
    ``df.semanticHash()`` is not usable here: it differs between
    processes for the same files."""
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (
            leaf.getClass().getSimpleName() != "LogicalRelation"
            or leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"
        ):
            return None
    files = []
    for f in sorted(df.inputFiles()):
        uri = urlparse(f)
        if uri.scheme not in ("", "file"):
            return None
        st = os.stat(unquote(uri.path))
        files.append((f, st.st_size, st.st_mtime_ns))
    key = json.dumps([plan.canonicalized().toString(), files])
    return hashlib.md5(key.encode()).hexdigest()


def write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


@dataclass(frozen=True)
class Stage:
    """One named model: ``fn(spark, inputs)`` where ``inputs`` maps each
    dependency name to its DataFrame. ``version`` is the stage's
    logic/source token — change it to force a rebuild of the stage and
    everything downstream; None rebuilds on every run. ``write`` is the
    materialization: ``write(df, path)`` for a table, None for a view."""

    name: str
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    deps: tuple[str, ...] = ()
    version: str | None = "1"
    write: Callable[[DataFrame, str], None] | None = write_parquet


@dataclass
class StageResult:
    status: str  # 'built' | 'skipped' | 'view'
    path: str | None
    fingerprint: str
    df: DataFrame


@dataclass
class Pipeline:
    stages: list[Stage] = field(default_factory=list)

    def __post_init__(self) -> None:
        names = [s.name for s in self.stages]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate stage names in {names}")
        known = set(names)
        for s in self.stages:
            missing = [d for d in s.deps if d not in known]
            if missing:
                raise ValueError(f"stage '{s.name}' depends on unknown {missing}")
        self._order = self._toposort()

    def _toposort(self) -> list[Stage]:
        by_name = {s.name: s for s in self.stages}
        done: dict[str, int] = {}  # 0=visiting, 1=done
        out: list[Stage] = []

        def visit(s: Stage, chain: tuple[str, ...]) -> None:
            state = done.get(s.name)
            if state == 1:
                return
            if state == 0:
                raise ValueError(
                    f"dependency cycle: {' -> '.join(chain + (s.name,))}"
                )
            done[s.name] = 0
            for d in s.deps:
                visit(by_name[d], chain + (s.name,))
            done[s.name] = 1
            out.append(s)

        for s in self.stages:
            visit(s, ())
        return out

    def run(
        self,
        spark: SparkSession,
        root: str | None,
        *,
        force: tuple[str, ...] = (),
    ) -> dict[str, StageResult]:
        """Build every stale table in dependency order; skip clean ones.

        ``root=None`` runs every stage as a view. ``force`` rebuilds the
        named stages regardless of state (their downstream rebuilds too
        only if fingerprints change — they don't on a pure force,
        matching dbt's `--full-refresh` of one model).
        """
        unknown = [f for f in force if f not in {s.name for s in self.stages}]
        if unknown:
            raise ValueError(f"force names not in pipeline: {unknown}")
        results: dict[str, StageResult] = {}
        for s in self._order:
            version = uuid.uuid4().hex if s.version is None else s.version
            fp = hashlib.md5(
                json.dumps(
                    [
                        code_version(),
                        s.name,
                        version,
                        [results[d].fingerprint for d in s.deps],
                    ]
                ).encode()
            ).hexdigest()
            inputs = {d: results[d].df for d in s.deps}
            if root is None or s.write is None:
                results[s.name] = StageResult(
                    "view", None, fp, s.fn(spark, inputs)
                )
                continue
            out_dir = Path(root) / s.name
            manifest = out_dir / _MANIFEST
            if s.name not in force and _manifest_fp(manifest) == fp:
                status = "skipped"
            else:
                # parquet first, manifest only after the commit: a crash
                # between the two leaves no manifest -> the stage rebuilds
                # on resume (at-least-once per stage, exactly-once per
                # manifest).
                if manifest.exists():
                    manifest.unlink()
                s.write(s.fn(spark, inputs), str(out_dir))
                # atomic manifest commit: write-to-temp + rename, so a torn
                # write can never leave a half-manifest at the final path
                tmp = manifest.with_suffix(".json.tmp")
                tmp.write_text(json.dumps({"fingerprint": fp}))
                tmp.rename(manifest)
                status = "built"
            results[s.name] = StageResult(
                status, str(out_dir), fp, spark.read.parquet(str(out_dir))
            )
        return results

    def read(self, spark: SparkSession, root: str, name: str) -> DataFrame:
        return spark.read.parquet(str(Path(root) / name))
