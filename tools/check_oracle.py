"""Local replica of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` twin on
DuckDB over the same sf dir, then compares row count, column names, and
values (columns sorted by name, rows sorted by their full tuple) EXACTLY
— including bit-equality of doubles, which is stricter than any sane
driver hash, so passing here should pass there.

Both sides are fetched THROUGH PANDAS (Spark toPandas / DuckDB .df())
because that is the path the driver hashes: dtype-representation bugs
like DuckDB SUM(BIGINT) -> HUGEINT -> float64 ("5.0" vs "5") only
surface there, never in Python-tuple fetches (round-1 lesson).

Each Spark fetch is a run of the query runner: the seconds printed are
its build + execute, and what the query cached is released.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v, collapse_midnight=False):
    import datetime as dt

    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return "None"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(float(v))  # full precision; np.float64 -> float
    # Date-vs-midnight-timestamp is a dtype artifact, not a value
    # difference (Spark DATE -> datetime.date, DuckDB DATE/TIMESTAMP
    # -> pandas Timestamp); the driver hash treats them as equal.  Only
    # collapse in columns where ONE side is genuinely date-typed — a
    # true TIMESTAMP column whose values happen to be midnight must NOT
    # silently match a DATE column (round-2 ADVICE).
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if collapse_midnight and v.hour == v.minute == v.second == 0 \
                and getattr(v, "microsecond", 0) == 0:
            return v.strftime("%Y-%m-%d")
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d")
    return str(v)


def date_like_cols(colnames, rows):
    """Columns whose non-null values are all pure datetime.date (not
    datetime/Timestamp) — i.e. the frame carries a real DATE column."""
    import datetime as dt

    out = set()
    for i, c in enumerate(colnames):
        vals = [r[i] for r in rows if r[i] is not None]
        if vals and all(
            isinstance(v, dt.date) and not isinstance(v, dt.datetime) for v in vals
        ):
            out.add(c)
    return out


def to_rows(colnames, rows, collapse_cols=frozenset()):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [
        tuple(norm_cell(r[i], colnames[i] in collapse_cols) for i in order)
        for r in rows
    ]
    out.sort()
    return [tuple(sorted(colnames))] + out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from vcf_pg_loader_spark import runner
    from vcf_pg_loader_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir.rstrip('/')}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            rec, spdf = runner.run(
                spark, lambda: fn(spark, sf_dir), lambda df: df.toPandas()
            )
            sec = runner.seconds(rec)
            scols = list(spdf.columns)
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only): {len(srows)} rows "
                  f"[{sec:.1f}s]")
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
            dcols = list(dpdf.columns)
            drows = [tuple(r) for r in dpdf.itertuples(index=False, name=None)]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        # Collapse midnight timestamps only in columns where exactly one
        # side is a true DATE (dtype artifact of the pandas fetch path).
        sdate, ddate = date_like_cols(scols, srows), date_like_cols(dcols, drows)
        collapse = sdate.symmetric_difference(ddate)
        if collapse:
            print(f"note {name}: date/timestamp collapse on {sorted(collapse)}")
        s = to_rows(scols, srows, collapse)
        d = to_rows(dcols, drows, collapse)
        if s[0] != d[0]:
            failures.append(name)
            print(f"FAIL {name}: columns spark={s[0]} duckdb={d[0]}")
            continue
        if len(s) != len(d):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(s)-1} duckdb={len(d)-1}")
            continue
        bad = [(a, b) for a, b in zip(s[1:], d[1:]) if a != b]
        if bad:
            failures.append(name)
            print(f"FAIL {name}: {len(bad)} mismatched rows; first:")
            print(f"  cols : {s[0]}")
            print(f"  spark: {bad[0][0]}")
            print(f"  duck : {bad[0][1]}")
            continue
        print(f"OK   {name}: {len(srows)} rows [{sec:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
