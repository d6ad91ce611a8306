"""Semi-structured (JSON string column) operators.

Event/crawl tables at scale almost always carry a free-form JSON
payload column (the test schema's ``events.props``).  These helpers
keep JSON work INSIDE Catalyst — `from_json` / `get_json_object` are
JVM expressions inside whole-stage codegen, never a Python round-trip
— and make the failure lane explicit, following the repo's D8
error-sentinel convention (operators/llm_op.py): a malformed payload
never throws mid-pipeline and never silently disappears; it yields a
flagged row the caller can route to a dead-letter sink.

- ``parse_json``     — typed struct extraction against a declared
  schema, with a ``corrupt`` flag (FAILFAST throws, PERMISSIVE without
  a flag hides rot; this is PERMISSIVE + explicit flag).  At 100 TB
  declare the schema — schema inference is a second full scan.
- ``json_scalar``    — one path extracted + cast (column expression).
- ``json_kv_explode``— an object of unknown keys → (key, value) rows
  via ``from_json`` to map<string,string> + explode: audit/profiling
  of payload key usage without declaring anything.  Scalar values
  arrive as their JSON text (portable across engines; nested objects
  re-serialize with engine-specific whitespace — compare structurally
  if you need those).

Values gates: tests/test_json_ops.py (malformed/null lanes, kv explode
vs json_each, plan pin: zero Python nodes, one scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def json_scalar(col: Column | str, path: str, cast: str = "string") -> Column:
    """Extract one JSON path (``$.a.b`` syntax) and cast it.  Null on
    missing path, malformed JSON, or failed cast — pair with
    ``parse_json`` when you need to distinguish those lanes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path).cast(cast)


def parse_json(
    df: DataFrame,
    col: str,
    schema: str,
    out_col: str = "parsed",
    corrupt_col: str = "corrupt",
) -> DataFrame:
    """Parse ``col`` against ``schema`` (a DDL string like
    ``"k long, tags array<string>"``).  Adds ``out_col`` (struct, null
    fields where absent) and ``corrupt_col`` (true iff the non-null
    payload failed to FULLY conform — malformed JSON or a failed field
    coercion — the dead-letter lane; null payloads and merely-missing
    keys are NOT corrupt).

    PERMISSIVE `from_json` alone returns an all-null struct for garbage
    (indistinguishable from an empty object), so the corrupt lane rides
    the columnNameOfCorruptRecord channel and is stripped from the
    emitted struct.  One codegen projection — no Python, no second
    scan."""
    full = schema + ", __corrupt_rec string"
    parsed = F.from_json(
        F.col(col), full,
        {"mode": "PERMISSIVE",
         "columnNameOfCorruptRecord": "__corrupt_rec"})
    return (df.withColumn("__p", parsed)
            .withColumn(corrupt_col,
                        F.col("__p")["__corrupt_rec"].isNotNull())
            .withColumn(out_col, F.col("__p").dropFields("__corrupt_rec"))
            .drop("__p"))


def json_kv_explode(
    df: DataFrame,
    col: str,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Flat JSON OBJECT of unknown keys → one (key, value) row per
    entry, values as their JSON text (ints/floats/bools verbatim,
    strings unquoted, nested values re-serialized).  Rows whose payload
    is null or not an object vanish (explode of null map) — run
    ``parse_json`` first when the corrupt lane matters.  The key-usage
    profiling shape: follow with groupBy(key) to see payload drift."""
    ids = id_cols if id_cols is not None else []
    m = F.from_json(F.col(col), "map<string,string>")
    return df.select(*ids, F.explode(m).alias("key", "value"))
