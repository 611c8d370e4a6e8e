"""Local stand-in for the driver's t2 correctness gate: run every registry
query on Spark and its oracle on DuckDB at sf0.01, compare row count, column
names, and an order-insensitive value multiset.

Usage: python tools/check_oracle.py [name ...] [--sf DIR] [--vanilla] [--json PATH]

``--json PATH`` writes a per-query report in the driver's CORRECTNESS_rNN.json
shape (rows_match / schema_match / hash_match / spark_rows / oracle_rows / err)
so full-registry local runs leave standing evidence next to the driver samples.

``--vanilla`` builds a bare SparkSession (no session-factory configs) exactly
like the driver's harness does, so session-construction-time assumptions are
caught locally before the driver catches them.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from pathlib import Path

import duckdb

ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, ROOT)
# Python workers inherit the JVM's environment, not this process's sys.path:
# pickled UDFs that import the package need the repo on PYTHONPATH too.
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from gmall_flink_230422_spark.io import TABLES, query_scope
from gmall_flink_230422_spark.plans import registry
from gmall_flink_230422_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0/0.0 and format stably
        if v == 0:
            v = 0.0
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    argv = sys.argv[1:]
    sf_dir = SF_DIR
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    vanilla = "--vanilla" in argv
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    args = [a for a in argv if not a.startswith("--")]
    specs = registry()
    names = args or list(specs)

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-oracle-vanilla")
            # Observability-store hygiene only (cannot affect results): the
            # SQL UI retains a plan description per execution, and across a
            # 200+-query marathon in this default-1g driver heap those
            # strings alone OOMed a localCheckpoint (r4 sweep,
            # x_cluster_purity). The driver's harness runs far fewer
            # queries per session and never hits this.
            .config("spark.ui.enabled", "false")
            .config("spark.sql.ui.retainedExecutions", "8")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("check-oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    report = {}
    for name in names:
        spec = specs[name]
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
            with query_scope(spark):
                sdf = spec.fn(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            rec["err"] = f"spark error: {e}"
            failures.append(name)
            continue
        rec["spark_rows"] = len(srows)
        if spec.oracle is None:
            print(f"ok   {name}: rows-only ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            rec["rows_match"] = len(srows) > 0
            rec["err"] = None if srows else "rows-only check returned 0 rows"
            if len(srows) == 0:
                print(f"WARN {name}: 0 rows")
            continue
        try:
            ores = con.sql(spec.oracle)
            ocols = ores.columns
            orows = ores.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            rec["err"] = f"duckdb error: {e}"
            failures.append(name)
            continue
        rec["oracle_rows"] = len(orows)
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(ocols)}")
            rec["err"] = "schema mismatch"
            failures.append(name)
            continue
        rec["schema_match"] = True
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(orows)}")
            rec["err"] = "rowcount mismatch"
            failures.append(name)
            continue
        rec["rows_match"] = True
        a, b = canon(srows, scols), canon(orows, ocols)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            rec["err"] = "value mismatch"
            failures.append(name)
            continue
        rec["hash_match"] = True
        print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
        if len(srows) == 0:
            print(f"WARN {name}: 0 rows (matching, but trivially)")

    if json_path:
        Path(json_path).write_text(json.dumps(report, indent=2) + "\n")
        print(f"wrote {json_path}")
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if failures:
        print("failures:", " ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
