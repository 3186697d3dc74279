"""Standing gate-replica: replay the driver's CORRECTNESS comparison
(every queries() entry vs its oracle_sql() DuckDB result) at an
arbitrary scale factor, with EXACT string-level value comparison —
stricter than both the driver's value-hash and the pytest mirror's
allclose. Rounds 2–3 found three cross-engine mismatch classes at
sf0.01 that sf0.001 missed, so every new or changed oracle query must
pass here at sf0.01 before it enters the driver window.

Usage:
    python scripts/gate_replica.py [--sf /root/testdata/sf0.01] [names...]

With no names, runs every oracle-backed query. Exit code = number of
failing queries.
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from ballet_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-shaped canonicalization: columns sorted by name, rows
    sorted by all columns, every cell rendered as a string (floats at
    12 significant digits with -0.0 normalized — exact, no allclose)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    out = {}
    for c in pdf.columns:
        col = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            out[c] = col.astype("int64").astype(str)
        elif pd.api.types.is_float_dtype(col):
            out[c] = col.map(
                lambda v: "∅" if pd.isna(v) else format(v + 0.0, ".12g")
            )
        elif pd.api.types.is_bool_dtype(col):
            out[c] = col.map(lambda v: "∅" if pd.isna(v) else str(bool(v)))
        else:
            out[c] = col.map(lambda v: "∅" if pd.isna(v) else str(v))
    res = pd.DataFrame(out)
    return res.sort_values(list(res.columns), kind="mergesort").reset_index(
        drop=True
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or [n for n in queries if n in oracles]
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 1

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{t}.parquet')"
        )
    spark = get_spark(
        app_name="gate_replica",
        shuffle_partitions=16,
        extra_conf={"spark.driver.memory": "16g"},
    )

    failed = []
    for name in names:
        try:
            got = queries[name](spark, args.sf).toPandas()
            if name not in oracles:
                print(f"{name}: NO ORACLE (rows={len(got)})")
                continue
            exp = con.sql(oracles[name]).df()
            if sorted(got.columns) != sorted(exp.columns):
                raise AssertionError(
                    f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
                )
            if len(got) != len(exp):
                raise AssertionError(f"rows {len(got)} vs {len(exp)}")
            g, e = canon(got), canon(exp)
            for c in g.columns:
                neq = (g[c].to_numpy() != e[c].to_numpy())
                if neq.any():
                    i = int(neq.argmax())
                    raise AssertionError(
                        f"col {c} differs at sorted-row {i}: "
                        f"{g[c].iloc[i]!r} vs {e[c].iloc[i]!r} "
                        f"({int(neq.sum())} cells total)"
                    )
            print(f"{name}: OK ({len(got)} rows)")
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: FAIL — {exc}")
            failed.append(name)

    print(f"\n{len(names) - len(failed)}/{len(names)} pass at {args.sf}")
    if failed:
        print("failed:", failed)
    return len(failed)


if __name__ == "__main__":
    sys.exit(main())
