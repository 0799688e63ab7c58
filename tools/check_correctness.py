"""Local stand-in for the driver's t2 gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, column
names, and order-insensitive values.

Usage: PYTHONPATH=/root/repo python tools/check_correctness.py [sf_dir] [only,names]

Set STRICT=1 for the dtype-sensitive comparator that mirrors the driver's
value hash: both results go through pandas (so DuckDB HUGEINT surfaces as
float64, exactly as it does in the driver) and cells compare by str() with
NO numeric unification — int64 3 vs float64 3.0 is a FAIL. The r4
pack_sequences red was precisely this: sum(BIGINT) is HUGEINT in DuckDB,
pandas renders it float, the lenient %.9g comparator hid it.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

from __spark_entry__ import oracle_sql, queries  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

STRICT = bool(os.environ.get("STRICT"))


def norm_cell(v):
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def strict_rows(pdf):
    """Driver-mirror normalization: sorted column order, str() cells."""
    pdf = pdf[sorted(pdf.columns)]
    return sorted(
        tuple(str(v) for v in row) for row in pdf.itertuples(index=False)
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    qs = queries()
    unknown = sorted(only - qs.keys()) if only else []
    if unknown:
        # a requested name that is not registered would otherwise be
        # skipped silently and the run would still read "all ok"
        sys.exit(f"not in queries(): {', '.join(unknown)}")

    from tachyon_spark.session import get_spark

    spark = get_spark("correctness", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = oracle_sql()
    ok = bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            if STRICT:
                s_pdf = sdf.toPandas()
                s_rows = [tuple(r) for r in s_pdf.itertuples(index=False)]
            else:
                s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            bad += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            ok += 1
            continue
        try:
            res = con.execute(sql)
            d_cols = [d[0] for d in res.description]
            if STRICT:
                d_pdf = res.df()
                d_rows = [tuple(r) for r in d_pdf.itertuples(index=False)]
            else:
                d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            bad += 1
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={s_cols} duck={d_cols}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            if STRICT:
                a, b = strict_rows(s_pdf), strict_rows(d_pdf)
            else:
                a, b = norm_rows(s_cols, s_rows), norm_rows(d_cols, d_rows)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y]
                problems.append(f"values differ: {len(diffs)} rows, first: {diffs[:2]}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            bad += 1
        else:
            print(f"match {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
            ok += 1
    print(f"\n{ok} ok, {bad} failing")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
