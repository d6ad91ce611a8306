"""llmxmapreduce_spark — the LLMxMapReduce queries (thunlp/LLMxMapReduce) on
PySpark.

The paper's system answers two queries (SURVEY.md §0, §3):

- V1 ``answer(question, document)`` over documents longer than the model's
  context: chunk, map, collapse, reduce (``pipelines.v1_qa``), scored by the
  InfiniteBench evaluators (``pipelines.v1_eval``);
- V2/V3 ``survey(topic, papers)``: group, outline, digest, then convolve,
  refine and decode (``pipelines.v2_survey``), driven from a topic by the
  V3 planner loop (``pipelines.v3_host``) over search and crawl
  (``pipelines.search_crawl``), and judged by SurveyEval
  (``pipelines.eval_suite``).

They are built from one batched-LLM ``mapInPandas`` operator with retry,
dead-letter and prompt-cache semantics (``operators.llm_op``), the
reference's scalar text operators as Spark columns (``functions.text``),
the operators in ``operators`` that those pipelines import, the LLM clients
and deterministic mocks (``llm``), the prompt tables (``prompts``),
checkpoint release (``retention``) and the session factory (``session``).

The remaining modules (media codecs, ANN/graph operators, corpus and
dataset preparation, streaming, analytics) are an operator library that no
paper query imports; tests/test_package_closure.py lists them.

``load_table`` reads one table of the generated test data.
"""

__version__ = "0.1.0"

from llmxmapreduce_spark.session import get_spark  # noqa: F401

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark, sf_dir, name):
    """Load one test table; normalizes the nanosecond ``events.ts`` column.

    ``events.parquet`` stores TIMESTAMP(NANOS).  Depending on the Spark
    build, the column arrives either as a BIGINT of nanoseconds (when
    ``spark.sql.legacy.parquet.nanosAsLong`` applies) or as TIMESTAMP_NTZ
    (Spark 4 native nanos read, truncated to micros).  Both are normalized
    to a session-tz TIMESTAMP so downstream ``unix_micros``/``window`` calls
    behave identically; the session timezone is pinned to UTC (session.py)
    so the NTZ→LTZ cast is epoch-preserving.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type in ("timestamp_ntz", "timestamp"):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        else:
            raise ValueError(
                f"unexpected dtype {ts_type!r} for events.ts — expected "
                "bigint (nanosAsLong), timestamp_ntz, or timestamp")
    return df


def load_tables(spark, sf_dir):
    """Load the standard test tables from ``sf_dir`` as a dict of DataFrames."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}

