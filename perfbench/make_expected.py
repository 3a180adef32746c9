"""Write perfbench/expected.json from each SQL-oracled query's DuckDB
oracle — never from the engine — over the benchmark's own copy of the
tables. Synthetic graph rows and rows-only queries are checked from closed
forms in verify.py and get no record here.

Run from the repository root after changing a workload's queries or data:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(1, str(ROOT))

import duckdb  # noqa: E402

from spark_ml_helper_spark.check import canon_rows  # noqa: E402
from spark_ml_helper_spark.operators.graph_bench import SYNTH_GRAPH_BENCH  # noqa: E402
from spark_ml_helper_spark.registry import REGISTRY, load_all_operators  # noqa: E402

from metrics import result_record  # noqa: E402


def main() -> None:
    load_all_operators()
    config = json.loads((HERE / "workloads.json").read_text())
    out = {}
    for workload in config["workloads"].values():
        con = duckdb.connect()
        for path in sorted((ROOT / workload["sf_dir"]).glob("*.parquet")):
            con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
        for name in workload["queries"]:
            oracle = REGISTRY[name].oracle
            if oracle is None or name in SYNTH_GRAPH_BENCH:
                continue
            pdf = con.execute(oracle).fetchdf()
            out[name] = result_record(pdf.columns, canon_rows(pdf))
            print(name, out[name]["rows"], "rows", file=sys.stderr)
        con.close()
    (HERE / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
