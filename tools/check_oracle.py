"""Local stand-in for the driver's correctness gate: runs each
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on DuckDB
at sf0.01, then compares row count, sorted column names, and an
order-insensitive value hash (floats rounded, timestamps normalized).

Usage: python tools/check_oracle.py [query ...] [--sf-dir PATH]
                                    [--rotate N --round R]

--rotate N --round R picks a deterministic per-round sample of N oracle-
backed queries (ordered by md5(f"{R}:{name}")) — the scale-robustness sweep
(r2 verdict item 7): run with --sf-dir /root/testdata/sf0.1 each round so
rounding/tie-break behavior is continuously validated at 10x the gate SF,
with a different 30-query slice every round.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb
import pandas as pd

# the checkout this script lives in, so a second checkout checks its own code
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the transcript stand-in and its vectors; an oracle over any other table
# fails loudly (DuckDB: table does not exist)
TABLES = "documents embeddings".split()


def normalize(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("<null>")
            elif isinstance(v, float):
                row.append(f"{v:.6f}")
            elif isinstance(v, pd.Timestamp):
                row.append(v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat())
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)


def value_hash(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()[:16]


def main() -> int:
    # --sf-dir <path> overrides the driver's default sf0.01 (e.g. sf0.1 for
    # a scale-robustness spot-check of rounding/tie-break behavior)
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        if i + 1 >= len(args):
            print("usage: check_oracle.py [query ...] [--sf-dir PATH]")
            return 2
        sf_dir = args[i + 1]
        args = args[:i] + args[i + 2 :]
    if not os.path.isdir(sf_dir):
        print(f"--sf-dir not a directory: {sf_dir}")
        return 2
    sys.path.insert(0, ROOT)
    # the Python workers must import the same checkout as the driver
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as entry
    from cliner_spark.session import get_spark

    rotate = rnd = None
    for flag in ("--rotate", "--round"):
        if flag in args:
            i = args.index(flag)
            if i + 1 >= len(args):
                print("usage: check_oracle.py [--rotate N --round R]")
                return 2
            val = int(args[i + 1])
            if flag == "--rotate":
                rotate = val
            else:
                rnd = val
            args = args[:i] + args[i + 2 :]

    qs = entry.queries()
    oracles = entry.oracle_sql()
    wanted = args or list(qs)
    if rotate is not None:
        pool = sorted(
            oracles, key=lambda n: hashlib.md5(f"{rnd or 0}:{n}".encode()).hexdigest()
        )
        wanted = pool[:rotate]
        print(f"# rotating sample (round={rnd}, n={rotate}): {' '.join(wanted)}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    spark = get_spark("check_oracle", master="local[8]", shuffle_partitions=8)

    failures = 0
    for name in wanted:
        if name not in qs:
            print(f"{name}: NOT REGISTERED")
            failures += 1
            continue
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name}: rows-only (no oracle), spark rows={len(sdf)}")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        problems = []
        if len(sdf) != len(ddf):
            problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"cols spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        else:
            a, b = normalize(sdf), normalize(ddf)
            if value_hash(a) != value_hash(b):
                problems.append("value-hash mismatch")
                for i, (x, y) in enumerate(zip(a, b)):
                    if x != y:
                        problems.append(f"  first diff row {i}: spark={x} duck={y}")
                        break
                if len(a) != len(b):
                    problems.append(f"  normalized lens {len(a)} vs {len(b)}")
        if problems:
            print(f"{name}: FAIL  " + "; ".join(problems))
            failures += 1
        else:
            print(f"{name}: OK ({len(sdf)} rows)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
