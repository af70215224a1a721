"""One-command pipeline run: bronze → model DAG → quality gates → exports.

The operational entry point a reference user gets from `make run` +
Airflow + dbt build + the export scripts, collapsed into one Spark job:

    python -m nhl_data_pipeline_spark.cli \
        --warehouse /tmp/nhl_wh --export /tmp/nhl_csv

Defaults read the committed bronze fixture parquet
(`nhl/bronze_fixtures/`, the same bytes the hash-checked
`nhl_pipeline_e2e` oracle consumes); point ``--bronze`` at a real lake
written by `sources/lake.py` for production data. Exit code is the
quality gate: non-zero when any reference dbt-suite assertion fails —
the same contract as `dbt build` (`dbt_nhl/` in the reference).
"""

from __future__ import annotations

import argparse
import os
import sys
from collections import Counter

BRONZE_TABLES = ("game_boxscore", "game_pbp", "schedule", "odds_player_props")
DEFAULT_BRONZE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "nhl", "bronze_fixtures"
)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--bronze", default=DEFAULT_BRONZE,
                   help="dir with one parquet dir per bronze table")
    p.add_argument("--warehouse", default=None,
                   help="materialize table-policy models as parquet here")
    p.add_argument("--export", default=None,
                   help="write the reference export manifest as CSV here")
    p.add_argument("--as-of", default="2024-11-15",
                   help="pipeline as-of date (dim_date spine end)")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--cluster-cores", type=int, default=None,
                   help="derive cluster-profile confs (session.cluster_conf)"
                        " for this many total executor cores")
    p.add_argument("--dataset-bytes", type=int, default=None,
                   help="dataset size for the 128 MiB working-set"
                        " partition rule (requires --cluster-cores)")
    p.add_argument("--skip-quality", action="store_true",
                   help="skip the reference dbt-suite gate")
    p.add_argument("--export-anyway", action="store_true",
                   help="write the CSV export manifest even when the"
                        " quality gate failed (default: halt like"
                        " `dbt build`)")
    args = p.parse_args(argv)

    from nhl_data_pipeline_spark.nhl.pipeline import run_pipeline
    from nhl_data_pipeline_spark.session import cluster_conf, get_spark

    extra_conf = None
    if args.cluster_cores is not None:
        extra_conf = cluster_conf(
            total_cores=args.cluster_cores,
            dataset_bytes=args.dataset_bytes or 0,
        )
        for k, v in sorted(extra_conf.items()):
            print(f"cluster_conf: {k}={v}")

    spark = get_spark("nhl_pipeline_cli", cpus=args.cpus,
                      extra_conf=extra_conf)
    bronze = {
        t: spark.read.parquet(os.path.join(args.bronze, t))
        for t in BRONZE_TABLES
    }
    result = run_pipeline(
        spark, bronze, warehouse_dir=args.warehouse, as_of=args.as_of
    )
    models = result.models
    n = Counter(r.status for r in result.stages.values())
    print(f"built {len(models)} models ({n['built']} built,"
          f" {n['skipped']} skipped, {n['view']} views)"
          + (f"; tables under {args.warehouse}" if args.warehouse else ""))

    rc = 0
    if not args.skip_quality:
        from nhl_data_pipeline_spark.nhl.quality_suite import (
            run_reference_suite,
        )

        checks = run_reference_suite(models, bronze)
        failed = [c for c in checks if not c.passed]
        print(f"quality: {len(checks) - len(failed)}/{len(checks)} passed")
        for c in failed:
            print(f"  FAIL {c.table}.{c.check}: {c.failing_rows} rows")
        rc = 1 if failed else 0

    if args.export:
        # The reference's `dbt build` halts before the export scripts run
        # when any test fails; a failed gate must not publish models.
        if rc != 0 and not args.export_anyway:
            print("export skipped: quality gate failed"
                  " (pass --export-anyway to override)")
        else:
            from nhl_data_pipeline_spark.sources.export import export_all

            paths = export_all(models, args.export)
            print(f"exported {len(paths)} models to {args.export}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
