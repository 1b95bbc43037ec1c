"""Driver-mimicking correctness harness: run every ``queries()`` entry
via Spark and its ``oracle_sql()`` via DuckDB on the same parquet
tables; compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...] [--extras]

``--extras`` adds the per-method debug rows behind the consolidated
catalog gates (naming one ``x_`` row selects it alone). No row is
skipped at any scale: ``minhash_jaccard_dups``'s oracle replays the
engine's LSH candidates instead of scoring all pairs.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} != {len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}")
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                ok = np.allclose(
                    av.astype(float), bv.astype(float), rtol=0, atol=1e-9, equal_nan=True
                )
            else:
                ok = (av == bv).all()
            if not ok:
                bad = np.flatnonzero(
                    ~np.isclose(av.astype(float), bv.astype(float), rtol=0, atol=1e-9)
                    if av.dtype.kind == "f"
                    else av != bv
                )[:3]
                problems.append(
                    f"col {c}: {len(bad)}+ mismatches, first at rows {bad.tolist()}: "
                    f"spark={av[bad].tolist()} duck={bv[bad].tolist()}"
                )
    return problems


def main() -> int:
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    extras = "--extras" in flags
    unknown = flags - {"--extras"}
    if unknown:
        print(f"unknown flags: {sorted(unknown)}")
        return 2
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as e
    from tersets_spark.session import get_spark

    spark = get_spark("oracle_check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = e.queries(), e.oracle_sql()
    if extras or any(n.startswith("x_") for n in only):
        # per-method debug rows behind the consolidated catalog gates
        qs = {**qs, **e.extra_queries()}
        oracles = {**oracles, **e.extra_oracle_sql()}
        if not extras:
            qs = {n: f for n, f in qs.items() if n in only}
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark query raised: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(spark_pdf)} rows")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: oracle raised: {ex}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"OK   {name}: {len(spark_pdf)} rows match")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
