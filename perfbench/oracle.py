"""DuckDB oracle digests for the plan workload, in a process of their own.

    python3 perfbench/oracle.py '{"plans": [[name, scale], ...],
                                  "data_dirs": {"<scale>": dir}, "nproc": n,
                                  "out": path}'

Writes ``{"<name>@<scale>": digest}`` to ``out``; a failed oracle maps to
``{"error": message}``. The worker runs this beside its untimed warm-up
pass, so DuckDB's threads and memory are gone before timing starts.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def digest(name: str, sf_dir: str, nproc: int) -> str:
    import duckdb

    from compendium_spark.plans import all_plans
    from compendium_spark.tables import TABLE_NAMES
    from perfbench.check import table_digest

    con = duckdb.connect()
    con.execute(f"SET threads TO {nproc}")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    try:
        return table_digest(con.execute(all_plans()[name].oracle).arrow())
    finally:
        con.close()


def main() -> int:
    args = json.loads(sys.argv[1])
    out = {}
    for name, scale in args["plans"]:
        try:
            out[f"{name}@{scale}"] = digest(name, args["data_dirs"][repr(scale)], args["nproc"])
        except Exception as e:  # fails the op's check, not the run
            out[f"{name}@{scale}"] = {"error": f"{type(e).__name__}: {e}"[:500]}
    Path(args["out"]).write_text(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
