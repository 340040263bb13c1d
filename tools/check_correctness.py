"""Local replica of the driver's correctness gate: run every queries() entry
via Spark at a given sf, run the oracle SQL via DuckDB on the same parquet,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Per-run hand-off namespace: concurrent sweeps at the same sf must not
# cross-read each other's oracle hand-off files (ADVICE r3 item 5). Set
# before importing entry_queries; respected lazily by _handoff_path either
# way. An explicit caller-provided token (e.g. a parent orchestrating
# several tools in one logical run) wins.
os.environ.setdefault("MSK_RUN_TOKEN", str(os.getpid()))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


_NULL = "\x00NULL"


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # one token for every null first: astype(str) alone reads None
            # as 'None' but NaN as 'nan', so the same null would mismatch
            df[c] = df[c].where(df[c].notna(), _NULL).astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


from tools.dtype_kinds import kind as _kind  # noqa: E402  (shared collapse)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Driver-exact comparison: dtype-faithful, order-insensitive, no float
    tolerance. An int Spark column materializing against a float oracle
    column is a FAIL (dtype drift) even when the values are numerically
    equal — that is precisely what the driver's value hash rejects. Float
    columns compare bit-exact (NaN==NaN), since every float-emitting query
    in the battery is engineered to land on identical doubles in both
    engines; a bit mismatch here is a real divergence, reported with its
    max abs error so representation bugs and math bugs are distinguishable."""
    import numpy as np

    problems = []
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"columns {sorted(got.columns)} != {sorted(want.columns)}")
        return problems
    if len(got) != len(want):
        problems.append(f"rowcount {len(got)} != {len(want)}")
        return problems
    for c in sorted(got.columns):
        gk, wk = _kind(got[c].dtype), _kind(want[c].dtype)
        if gk != wk:
            problems.append(
                f"col {c}: dtype drift spark={got[c].dtype} vs oracle={want[c].dtype}"
            )
    if problems:
        return problems
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        if _kind(got[c].dtype) == "float":
            a = g[c].to_numpy(dtype="float64")
            b = w[c].to_numpy(dtype="float64")
            eq = (a.view("int64") == b.view("int64")) | (np.isnan(a) & np.isnan(b))
            if not eq.all():
                bad = ~eq
                finite = np.isfinite(a) & np.isfinite(b)
                maxerr = float(np.abs(a[finite] - b[finite]).max()) if finite.any() else float("nan")
                problems.append(
                    f"col {c}: {int(bad.sum())} bit-mismatched floats "
                    f"(max abs err {maxerr:.3e}); first: "
                    f"{g[bad][:3].to_dict('records')} vs {w[bad][:3].to_dict('records')}"
                )
        else:
            eq = g[c].to_numpy() == w[c].to_numpy()
            if not getattr(eq, "all", lambda: bool(eq))():
                bad = ~eq
                problems.append(
                    f"col {c}: {int(bad.sum())} mismatched values; first: "
                    f"{g[bad][:3].to_dict('records')} vs {w[bad][:3].to_dict('records')}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as E
    from metric_search_spark.session import build_session

    only = set(sys.argv[2:])
    spark = build_session(cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = E.queries()
    # the driver contract (E.oracle_sql) is pinned to its sf0.01 compare;
    # locally, derive hand-off paths / n for whatever sf we're checking
    from metric_search_spark.entry_queries import oracles_for

    oracles = oracles_for(sf_dir)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(got)} rows, {t_spark:.1f}s)")
            continue
        t0 = time.time()
        try:
            want = con.sql(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {type(ex).__name__}: {ex}")
            failures += 1
            continue
        problems = compare(name, got, want)
        if problems:
            failures += 1
            print(f"FAIL {name} ({len(got)} vs {len(want)} rows): " + "; ".join(problems))
        else:
            print(
                f"ok   {name}: {len(got)} rows match "
                f"(spark {t_spark:.1f}s, duckdb {time.time() - t0:.1f}s)"
            )
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
