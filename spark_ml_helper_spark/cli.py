"""Command-line entry point: run any registry query like a user would.

Installed as the ``smh-run`` console script (pyproject.toml); also
runnable as ``python -m spark_ml_helper_spark.cli``.

    smh-run <name> [--sf-dir DIR] [--out PATH]
                   [--format parquet|csv|json] [--show N]
                   [--explain] [--oracle] [--list [substr]]

Examples:
    smh-run --list dedup
    smh-run dedup_minhash --show 20
    smh-run agg_group --explain
    smh-run agg_group --oracle      # print the DuckDB twin SQL
    smh-run text_tfidf --out /tmp/tfidf --format parquet

With --out the result writes through the requested sink; otherwise the
first --show rows print to stdout. --explain prints the formatted
physical plan instead of executing. Honors SPARK_GRAFT_SF_DIR and
SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import argparse
import os


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("name", nargs="?", help="registry query name")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--out", default=None, help="write result here instead of printing")
    ap.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    ap.add_argument("--show", type=int, default=20, help="rows to print without --out")
    ap.add_argument("--explain", action="store_true", help="print the physical plan, don't execute")
    ap.add_argument("--oracle", action="store_true",
                    help="print the query's DuckDB oracle SQL, don't execute")
    ap.add_argument("--list", nargs="?", const="", default=None, metavar="SUBSTR",
                    help="list query names (optionally filtered), then exit")
    args = ap.parse_args(argv)

    from spark_ml_helper_spark.registry import REGISTRY, load_all_operators

    load_all_operators()

    if args.list is not None:
        for n in sorted(REGISTRY):
            if args.list in n:
                kind = "SQL" if REGISTRY[n].oracle is not None else "rows-only"
                print(f"{n:40s} {REGISTRY[n].family:12s} {kind}")
        return
    if not args.name:
        ap.error("query name required (or use --list)")
    if args.name not in REGISTRY:
        import difflib

        close = difflib.get_close_matches(args.name, REGISTRY, n=5)
        ap.error(f"unknown query {args.name!r}; close matches: {close}")

    if args.oracle:
        # no Spark session needed — the oracle is a plain SQL string over
        # the ten pre-registered parquet views (run it in DuckDB as-is)
        o = REGISTRY[args.name].oracle
        print(o.strip() if o else f"{args.name}: rows-only (no SQL oracle; "
              "see COVERAGE.md §'Rows-only irreducibility')")
        return

    from spark_ml_helper_spark.session import get_spark

    spark = get_spark(app_name=f"smhs-run-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    df = REGISTRY[args.name].fn(spark, args.sf_dir)

    if args.explain:
        from spark_ml_helper_spark.plans.audit import explain_formatted

        print(explain_formatted(df))
        return
    if args.out:
        w = df.write.mode("overwrite")
        if args.format == "csv":
            w = w.option("header", True)
        getattr(w, args.format)(args.out)
        print(f"wrote {args.out} ({args.format})")
    else:
        df.show(args.show, truncate=False)


if __name__ == "__main__":
    main()
