"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs each ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count + column set +
order-insensitive values. Used by tests/test_oracle_parity.py and runnable
directly:  python tests/oracle_harness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark-written fixtures (.scaledata/sf1) are DIRECTORIES of
        # part files; the driver's flat single-file layout stays as-is
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon_cell(v):
    if isinstance(v, (list, tuple)) or v.__class__.__name__ == "ndarray":
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round BEFORE sorting/comparing: sub-ulp cross-engine drift in
        # double arithmetic (summation order) must neither reorder rows
        # nor fail the equality — same 7 dp the driver-replica
        # (tools/check_correctness.py) uses.
        return round(v, 7)
    if pd.isna(v):
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    return v


def canonicalize(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(_canon_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def compare(spark_df, oracle_pdf: pd.DataFrame, name: str) -> list[str]:
    """Returns a list of problems (empty == match)."""
    problems: list[str] = []
    spdf = spark_df.toPandas()
    if sorted(spdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"{name}: column mismatch spark={sorted(spdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if len(spdf) != len(oracle_pdf):
        problems.append(f"{name}: row count spark={len(spdf)} oracle={len(oracle_pdf)}")
        return problems
    # dtype-kind parity: the driver's value hash is dtype-sensitive — a
    # DuckDB HUGEINT aggregate lands in pandas as float64 while Spark's
    # bigint stays int64, and Python-level value compares (100 == 100.0)
    # cannot see it. Flag any column whose numeric KIND diverges.
    for c in sorted(spdf.columns):
        ka, kb = spdf[c].dtype.kind, oracle_pdf[c].dtype.kind
        if {ka, kb} <= {"i", "u"} or ka == kb:
            continue
        if {ka, kb} == {"i", "f"} or {ka, kb} == {"u", "f"}:
            problems.append(
                f"{name}: col {c!r} dtype kind spark={spdf[c].dtype} "
                f"oracle={oracle_pdf[c].dtype} (HUGEINT-class drift: the "
                "driver's exact hash fails on this even when values match)"
            )
    if problems:
        return problems
    a, b = canonicalize(spdf), canonicalize(oracle_pdf)
    n_bad = 0
    for i, (ra, rb) in enumerate(zip(a, b)):
        if ra != rb:
            n_bad += 1
            if n_bad <= 3:
                problems.append(f"{name}: row diff #{i}:\n  spark ={ra}\n  oracle={rb}")
    if n_bad > 3:
        problems.append(f"{name}: ... {n_bad} differing rows total")
    return problems


def run_all(sf_dir: str, only: list[str] | None = None) -> dict[str, list[str]]:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from sf_epa_data_ingestion_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    con = duck_con(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, list[str]] = {}
    for qname, fn in qs.items():
        if only and qname not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            if qname in oracles:
                opdf = con.execute(oracles[qname]).df()
                results[qname] = compare(sdf, opdf, qname)
            else:
                sdf.count()  # rows-only smoke: must execute without error
                results[qname] = []
        except Exception as exc:  # noqa: BLE001
            import traceback

            results[qname] = [f"{qname}: EXCEPTION {exc.__class__.__name__}: {exc}\n{traceback.format_exc(limit=5)}"]
    return results


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:] or None
    res = run_all(sf_dir, only)
    n_fail = 0
    for qname, problems in res.items():
        if problems:
            n_fail += 1
            print(f"FAIL {qname}")
            for p in problems:
                print("   ", p)
        else:
            print(f"ok   {qname}")
    print(f"\n{len(res) - n_fail}/{len(res)} matched")
    sys.exit(1 if n_fail else 0)
