#!/usr/bin/env python
"""Audit every board entry's RESULT SURFACE for engine-portable types.

Round-10 root-cause instrument for the driver-only hash divergence
(7 entries failed r9's driver gate while passing the local gate in both
collect-exact and one-ulp-exact modes).  Measured on this box
(duckdb 1.0.0): DuckDB's *pandas* fetch path (`fetchdf`/`df()`) renders

  - HUGEINT  (the result type of SUM over any integer column)  -> float64
  - DECIMAL                                                    -> float64
  - so a logically-integer `SUM(x) = 6` stringifies as '6.0' in a
    pandas-mode normalizer while Spark's bigint renders '6'.

`fetchall()` (what tools/verify_local.py uses) returns Python ints for
both — which is exactly why the divergence is invisible locally: the
local gate and the driver gate normalize through DIFFERENT fetch paths.

Every r9 driver hash-FAIL has an uncast SUM/HUGEINT (or decimal) column
on its oracle surface; every r8/r9 driver PASS casts sums to
BIGINT/DOUBLE/VARCHAR.  This tool makes that rule mechanical:

  RISKY duckdb result types: HUGEINT, UHUGEINT, UBIGINT, DECIMAL(...),
    FLOAT/REAL (float32 repr differs from float64), DATE (datetime.date
    vs pandas Timestamp midnight), TIME, INTERVAL, BLOB, LIST/STRUCT/MAP
    (engine-specific stringification).
  RISKY spark result types: decimal(...), float, date, array/struct/map,
    binary.

Usage: python tools/audit_oracle_types.py [sf_dir] [query ...]
Prints one line per query: OK or the flagged (column, type) pairs.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from llmxmapreduce_spark import TABLES  # noqa: E402

# NB: TIME is anchored (TIMESTAMP is a SAFE type — it stringifies
# identically on both fetch paths); DATE is risky (datetime.date vs
# pandas Timestamp-at-midnight render differently).
RISKY_DUCK = re.compile(
    r"^(HUGEINT|UHUGEINT|UBIGINT|DECIMAL|FLOAT|REAL|DATE$|TIME$|TIMETZ$"
    r"|INTERVAL|BLOB|.*\[\]$|STRUCT|MAP|UNION)", re.I)
RISKY_SPARK = re.compile(
    r"^(decimal|float$|date$|array|struct|map|binary)", re.I)


def audit(sf: str = "/root/testdata/sf0.001", only=None,
          spark=None) -> list[str]:
    """Importable core (pytest-gated via tests/test_oracle_types.py):
    returns one "name: flag, flag" line per flagged/erroring entry —
    empty list == the whole board is surface-portable."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()

    problems: list[str] = []
    for name in qs:
        if only and name not in only:
            continue
        flags = []
        osql = oracles.get(name)
        if osql is not None:
            try:
                desc = con.execute(
                    f"DESCRIBE SELECT * FROM ({osql}) t").fetchall()
            except Exception as e:
                problems.append(f"{name}: duckdb describe: {str(e)[:160]}")
                continue
            for cname, ctype, *_ in desc:
                if RISKY_DUCK.match(ctype):
                    flags.append(f"duck:{cname}:{ctype}")
        if spark is not None:
            try:
                sdf = qs[name](spark, sf)
                for cname, ctype in sdf.dtypes:
                    if RISKY_SPARK.match(ctype):
                        flags.append(f"spark:{cname}:{ctype}")
            except Exception as e:
                # record the error WITHOUT dropping duckdb-side flags
                # already collected for this query (r11 review); the
                # "spark error:" prefix is distinct from a spark TYPE
                # flag ("spark:col:type") so main() classifies right
                problems.append(f"{name}: spark error: {str(e)[:160]}")
        if flags:
            problems.append(f"{name}: {', '.join(flags)}")
    return problems


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    # flags must not leak into the name filter: "--spark" in `only`
    # used to skip EVERY query and false-green the audit (r10 review)
    only = [a for a in args if "/" not in a]

    spark = None
    if "--spark" in sys.argv:
        from llmxmapreduce_spark.session import get_spark
        spark = get_spark("audit_types")

    problems = audit(sf, only=only, spark=spark)
    bad = {p.split(":")[0] for p in problems}
    for name in entrymod.queries():
        if only and name not in only:
            continue
        if name in bad:
            for line in (p for p in problems if p.startswith(f"{name}:")):
                kind = "ERR " if (
                    line.startswith(f"{name}: duckdb describe:")
                    or line.startswith(f"{name}: spark error:")) else "FLAG"
                print(f"{kind} {line}")
        else:
            print(f"OK   {name}")
    print(f"\n{len(problems)} flagged")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
