"""Regenerate ``reference.json``: row count and digest of every analytics query.

    python3 perfbench/make_reference.py [--spark]

The values come from each query's DuckDB oracle SQL (the query registry's
ORACLES) run on the benchmark's own fixture; Spark is not involved. With
``--spark`` the script also runs every query on Spark and reports where the
two differ, without changing what is written. Run it only when the fixture,
the scale or the query set changes; the benchmark never recomputes it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import tpcgen, workloads  # noqa: E402
from perfbench.digest import digest  # noqa: E402


def oracle_reference(sf: float, sf_dir: str, queries) -> dict:
    """Reference entries from the DuckDB oracles over the fixture in sf_dir
    (generated there first)."""
    import duckdb

    from etl_data_ingestion_spark.plans import registry

    registry.load_all()
    tables = tpcgen.generate(sf, sf_dir)
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    ref = {"sf": sf, "fixture_seed": tpcgen.FIXTURE_SEED,
           "source": "duckdb oracle", "queries": {}}
    for name in queries:
        pdf = con.execute(registry.ORACLES[name]).fetchdf()
        ref["queries"][name] = {"rows": len(pdf), "digest": digest(pdf)}
    con.close()
    return ref


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--spark", action="store_true")
    args = ap.parse_args()

    mismatches = []
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        sf_dir = os.path.join(tmp, "fixture")
        ref = oracle_reference(workloads.ANALYTICS_SF, sf_dir, workloads.ANALYTICS_QUERIES)
        for name, r in ref["queries"].items():
            print(f"{name}: {r['rows']} rows", file=sys.stderr)
        if args.spark:
            os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
            from etl_data_ingestion_spark.plans import registry
            from etl_data_ingestion_spark.session import get_spark

            spark = get_spark(app_name="perfbench-reference")
            for name in workloads.ANALYTICS_QUERIES:
                pdf = registry.QUERIES[name](spark, sf_dir).toPandas()
                got = {"rows": len(pdf), "digest": digest(pdf)}
                if got != ref["queries"][name]:
                    mismatches.append(name)
                    print(f"MISMATCH {name}: spark {got} oracle {ref['queries'][name]}",
                          file=sys.stderr)
            spark.stop()
    with open(workloads.REFERENCE, "w") as fh:
        json.dump(ref, fh, indent=1)
        fh.write("\n")
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
