"""Write ``expected_hashes.json``: the DuckDB oracle's result digest for
every benched query over the ``query_mix`` lake (``data/sf0.01``).

    python3 perfbench/oracle_hashes.py

Run it from the repository root when the lake, the benched query set or
an oracle changes; it needs no Spark session.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

from run import LAKE  # noqa: E402
from worker import frame_hash  # noqa: E402


def main() -> None:
    from nhl_data_pipeline_spark.plans.parity import duck_connection
    from nhl_data_pipeline_spark.plans.registry import all_queries

    con = duck_connection(str(LAKE))
    out = {}
    for name, spec in sorted(all_queries().items()):
        if spec.bench:
            pdf = con.execute(spec.oracle).fetchdf()
            out[name] = {"hash": frame_hash(pdf), "rows": len(pdf)}
    doc = {"lake": str(LAKE.relative_to(HERE)), "queries": out}
    (HERE / "expected_hashes.json").write_text(json.dumps(doc, indent=1) + "\n")
    print(f"{len(out)} oracle hashes written")


if __name__ == "__main__":
    main()
