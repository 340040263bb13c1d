"""Record the materialized pandas dtype KINDS of every queries() result
(Spark → toPandas) and every oracle_sql() result (DuckDB → .df()) at
sf0.001 into tests/data/oracle_dtypes_sf0001.json.

The companion pytest (tests/test_oracle_dtypes.py) then RE-EXECUTES every
static oracle in DuckDB and pins its kinds against the recorded Spark
kinds — so an oracle edit that decays an integer column to float64 (the
r4 HUGEINT lesson) fails in seconds, with no Spark session, before it can
reach a driver round. Hand-off oracles (whose SQL reads a parquet the
query writes at run time) are pinned record-vs-record.

Usage: python tools/record_spark_dtypes.py  (~10 min; rerun after adding
or editing a query/oracle — the pytest fails with a pointer here when the
recording is stale).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# isolate this run's hand-offs from any concurrent sweep
os.environ.setdefault("MSK_RUN_TOKEN", str(os.getpid()))

import duckdb  # noqa: E402

from tools.dtype_kinds import frame_kinds  # noqa: E402

SF = "/root/testdata/sf0.001"
OUT = os.path.join(ROOT, "tests/data/oracle_dtypes_sf0001.json")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    import __spark_entry__ as E
    from metric_search_spark.entry_queries import _STATIC_ORACLES, oracles_for
    from metric_search_spark.session import build_session

    spark = build_session(cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    oracles = oracles_for(SF)
    rec: dict = {
        "sf_dir": SF,
        "static": sorted(set(_STATIC_ORACLES) & set(oracles)),
        "spark": {},
        "oracle": {},
    }
    # queries first: hand-off oracles read files the queries write
    for name, fn in E.queries().items():
        t0 = time.time()
        rec["spark"][name] = frame_kinds(fn(spark, SF).toPandas())
        print(f"spark  {name}: {time.time() - t0:.1f}s", flush=True)
    for name, sql in oracles.items():
        rec["oracle"][name] = frame_kinds(con.sql(sql).df())
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    drift = [
        n
        for n in rec["oracle"]
        if n in rec["spark"] and rec["oracle"][n] != rec["spark"][n]
    ]
    print("recorded", len(rec["spark"]), "queries,", len(rec["oracle"]), "oracles")
    print("kind drift:", drift or "none")
    return 1 if drift else 0


if __name__ == "__main__":
    sys.exit(main())
