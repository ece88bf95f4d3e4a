"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names, and values — strictly cell-exact (stricter than any plausible
driver hash, so passing here means passing there).

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
        python tools/check_correctness.py --tail [--json OUT.json] [sf_dir]
        python tools/check_correctness.py --vanilla [sf_dir] [query ...]

``--vanilla`` runs the Spark side on a PLAIN SparkSession instead of
get_spark — the driver builds its own untuned session, so this mode
catches any query that silently depends on a session-level conf that
load_table doesn't itself apply (run it once before round end).

``--tail`` restricts the run to the registry entries past the driver's
verdict window (``ORDER[DRIVER_WINDOW:]`` in plans/core.py); ``--json``
additionally writes a driver-shaped artifact (rows/schema/hash per
query — "hash" here means the stricter cell-exact comparison) so the
coverage claim for past-window entries is backed by a committed result.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from github_data_pipeline_spark.plans.core import DRIVER_WINDOW
    from github_data_pipeline_spark.session import get_spark
    from github_data_pipeline_spark.testing import (
        diff_frames,
        register_duckdb_views,
        run_oracle,
    )

    argv = sys.argv[1:]
    tail_only = "--tail" in argv
    if tail_only:
        argv.remove("--tail")
    vanilla = "--vanilla" in argv
    if vanilla:
        argv.remove("--vanilla")
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]

    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    if vanilla:
        # driver-faithful environment: the driver builds its own plain
        # SparkSession (no get_spark tuning), so every session-level
        # conf a query silently depends on must instead be applied by
        # load_table — this mode catches such dependencies before the
        # driver does
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-correctness-vanilla")
            .config("spark.sql.shuffle.partitions", "8")
            .getOrCreate()
        )
    else:
        spark = get_spark("check-correctness", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    register_duckdb_views(con, sf_dir)

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if tail_only:
        tail_names = set(list(queries)[DRIVER_WINDOW:])
        only = (only & tail_names) if only else tail_names
    failures, passed, rows_only = [], 0, []
    report: dict[str, dict] = {}
    for name, builder in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        report[name] = rec
        try:
            sdf = builder(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(s_rows)
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            rec["err"] = f"spark error: {e}"
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            rows_only.append((name, len(s_rows)))
            rec["err"] = "rows-only (no oracle by contract)"
            print(f"rows-only {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            d_cols, d_rows = run_oracle(con, oracles[name])
            rec["oracle_rows"] = len(d_rows)
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            rec["err"] = f"duckdb error: {e}"
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        rec["rows_match"] = len(s_rows) == len(d_rows)
        rec["schema_match"] = sorted(s_cols) == sorted(d_cols)
        msg = diff_frames(s_cols, s_rows, d_cols, d_rows)
        if msg is None:
            rec["hash_match"] = True
            passed += 1
            print(f"ok   {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
        else:
            failures.append((name, msg))
            rec["err"] = msg
            print(f"FAIL {name}: {msg}")

    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "mode": "cell-exact-local", "results": report}, f, indent=2)
            f.write("\n")
        print(f"wrote {json_out}")
    print(
        f"\n{passed} exact-match, {len(rows_only)} rows-only, "
        f"{len(failures)} failed / {len(queries) if not only else len(only)} total"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
