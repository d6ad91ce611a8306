"""CI gate for the round-10 driver-divergence class: every board oracle's
result surface must be engine-portable under the driver's PANDAS fetch
convention (DuckDB renders HUGEINT/DECIMAL as float64 there, so an uncast
``SUM(x) = 6`` stringifies '6.0' against Spark's bigint '6' and
hash-fails the driver while passing every collect-based local check).

tools/audit_oracle_types.py found the class statically — it flagged
exactly the 7 r9 hash-FAILs and nothing else.  This test wires the audit
into pytest so a NEW oracle with an uncast SUM/DECIMAL/FLOAT/DATE/LIST
surface fails CI the day it is written, not two driver rounds later
(r10 verdict, task #5).
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def test_every_board_oracle_surface_is_portable():
    from tools.audit_oracle_types import audit

    problems = audit("/root/testdata/sf0.001")
    assert problems == [], (
        "board oracle surfaces with driver-risky result types "
        "(cast SUMs to BIGINT, decimals/floats to DOUBLE, render "
        "dates/lists as strings):\n" + "\n".join(problems))


def test_auditor_still_detects_the_class():
    """The gate must not rot green: a deliberately-risky surface (uncast
    SUM over an integer column -> HUGEINT) must be flagged."""
    import duckdb

    from tools.audit_oracle_types import RISKY_DUCK

    desc = duckdb.sql(
        "DESCRIBE SELECT SUM(x) AS s FROM (SELECT 1::BIGINT AS x)"
    ).fetchall()
    assert any(RISKY_DUCK.match(ctype) for _, ctype, *_ in desc), (
        "duckdb no longer types SUM(BIGINT) as HUGEINT — re-derive the "
        "risky-type list against this duckdb version")
