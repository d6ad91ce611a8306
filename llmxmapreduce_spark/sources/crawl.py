"""Search / crawl front-end (S3, S4, S10, T7) — interface-gated.

Reference: LLM_search.py:153-445 (S3 web search), async_crawl.py:283-331
(S4 crawler), V3 llm_search_mcp_server.py:1033-1238 (S10 incremental
crawl state).  The S6 per-topic grouping is ``crawl_ops.group_topics``.

No network access in this environment, so the fetchers are *injected*
callables; tests use deterministic fakes.  The Spark shapes are real:

- search fan-out and page fetches run inside ``mapInPandas`` partitions
  (the reference's 10+10 greenlet pools become per-partition batches);
- url dedup is ``dropDuplicates``; over-fetch is T7; result filtering is
  operators.crawl_ops (P6/T4);
- incremental state (S10) is a parquet upsert keyed by url — the
  file-locked JSON of the reference becomes an idempotent anti-join write.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.operators.topk import over_fetch

SEARCH_RESULT = T.StructType([
    T.StructField("topic", T.StringType(), False),
    T.StructField("query", T.StringType(), False),
    T.StructField("url", T.StringType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("snippet", T.StringType(), True),
])

CRAWL_RESULT = T.StructType([
    T.StructField("topic", T.StringType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("raw_content", T.StringType(), True),
    T.StructField("error", T.BooleanType(), False),
])

# (query) -> list of {url, title, snippet}
SearchFn = Callable[[str], list[dict]]
# (url) -> markdown string (raising marks the row error=True)
FetchFn = Callable[[str], str]


def batch_web_search(queries: DataFrame, search_fn_factory: Callable[[], SearchFn],
                     top_n: int, topic_col: str = "topic",
                     query_col: str = "query") -> DataFrame:
    """S3 (LLM_search.py:336-445): fan queries out inside partitions, dedup
    by url *within each topic*, cap at over-fetch(top_n) **per topic** (T7)
    for the downstream crawl filter.  The cap is deterministic (url order);
    relevance-ranked trimming happens after L19 snippet scoring (T3)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        search = search_fn_factory()
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                for hit in search(r[query_col]):
                    rows.append({
                        "topic": r[topic_col], "query": r[query_col],
                        "url": hit.get("url"), "title": hit.get("title"),
                        "snippet": hit.get("snippet"),
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in SEARCH_RESULT.fields])

    from pyspark.sql import Window

    hits = queries.mapInPandas(run, schema=SEARCH_RESULT)
    deduped = hits.dropDuplicates([topic_col, "url"])
    w = Window.partitionBy(topic_col).orderBy("url")
    return (
        deduped.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= over_fetch(top_n))
        .drop("__rn")
    )


def crawl_urls(targets: DataFrame, fetch_fn_factory: Callable[[], FetchFn],
               topic_col: str = "topic", url_col: str = "url") -> DataFrame:
    """S4 (async_crawl.py:283-331): fetch pages inside partitions; failures
    become ``error=True`` rows (the reference's error-flag records,
    :302-310), never exceptions."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetch = fetch_fn_factory()
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                try:
                    content, err = fetch(r[url_col]), False
                except Exception:  # noqa: BLE001 - error-sentinel flow
                    content, err = None, True
                rows.append({"topic": r[topic_col], "url": r[url_col],
                             "raw_content": content, "error": err})
            yield pd.DataFrame(rows, columns=[f.name for f in CRAWL_RESULT.fields])

    return targets.mapInPandas(run, schema=CRAWL_RESULT)


def upsert_crawl_state(spark: SparkSession, state_path: str,
                       new_rows: DataFrame, url_col: str = "url") -> DataFrame:
    """S10 (llm_search_mcp_server.py:1033-1238): resumable crawl state as an
    idempotent parquet upsert — existing urls win, new urls append.  Returns
    the updated state.  (On a cluster this is a Delta MERGE; plain parquet
    rewrite keeps the environment dependency-free.)"""
    try:
        existing = spark.read.parquet(state_path)
        merged = existing.unionByName(
            new_rows.join(existing.select(url_col), url_col, "left_anti"),
            allowMissingColumns=True,
        )
    except Exception:  # first write — no state yet
        merged = new_rows
    merged.write.mode("overwrite").parquet(state_path + ".tmp")
    out = spark.read.parquet(state_path + ".tmp")
    out.write.mode("overwrite").parquet(state_path)
    return spark.read.parquet(state_path)


def pending_urls(state: DataFrame, candidates: DataFrame,
                 url_col: str = "url") -> DataFrame:
    """S10 helper: candidates not yet crawled successfully."""
    done = state.filter(~F.col("error")).select(url_col)
    return candidates.join(done, url_col, "left_anti")
