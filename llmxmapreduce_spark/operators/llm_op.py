"""The generic batched-LLM operator (SURVEY.md §2.10b) — the single pattern
behind every L1-L27 "LLM scalar".

``llm_stage`` is a ``mapInPandas`` transformation: per Arrow batch it formats
prompts from row fields, calls the client (one client per partition — the
Spark analog of the reference's per-model request pool,
request/wrapper.py:12-67), parses replies, and emits the payload plus the
error-sentinel bookkeeping columns ``llm_ok/llm_error/llm_attempts``
(async_d/node/node.py:243-272, decorator.py:9-18).  Failed rows flow on and
can be quarantined with :func:`dead_letter_split` instead of killing the job.

Every model call of the paper's queries, in these stages, V1's collapse,
V2's per-survey passes and A10's LLM dedup, goes through
:func:`_call_and_parse`, which retries, meters and parses it: the
reference's one request path (request/wrapper.py:12-67,
token_counter.py:7-37).

Scale notes: Arrow-batched (never row-at-a-time Python), no driver collect.
``llm_stage``'s parallelism is its input partitioning, so its concurrency
is tuned by ``repartition(n)`` before the stage; ``llm_stage_cached`` sets
its own, one model-calling task per ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import math
import threading
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.llm.client import LLMClient, RetryPolicy, call_with_retry
from llmxmapreduce_spark.retention import checkpoint

LLM_COLS = [
    T.StructField("llm_ok", T.BooleanType(), False),
    T.StructField("llm_error", T.StringType(), True),
    T.StructField("llm_attempts", T.IntegerType(), False),
]


class LLMMetrics:
    """D10/D12 call + token accounting via Spark accumulators (the engine
    analog of the reference's token_counter.py:7-37 / pipeline_analyser).

    Character counts stand in for tokens (÷4 ≈ the reference's estimate);
    accumulators aggregate across all executors and are readable on the
    driver after each action.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self.calls = sc.accumulator(0)
        self.failures = sc.accumulator(0)
        self.prompt_chars = sc.accumulator(0)
        self.reply_chars = sc.accumulator(0)

    def snapshot(self) -> dict:
        return {
            "calls": self.calls.value,
            "failures": self.failures.value,
            "prompt_chars": self.prompt_chars.value,
            "reply_chars": self.reply_chars.value,
            "est_prompt_tokens": self.prompt_chars.value // 4,
            "est_reply_tokens": self.reply_chars.value // 4,
        }


def llm_stage(
    df: DataFrame,
    build_prompt: Callable[[dict[str, Any]], str | None],
    parse: Callable[[str], dict[str, Any]],
    client_factory: Callable[[], LLMClient],
    payload_fields: list[T.StructField],
    keep_cols: list[str],
    retry: RetryPolicy | None = None,
    metrics: LLMMetrics | None = None,
) -> DataFrame:
    """Run one LLM stage over ``df``.

    - ``client_factory() -> LLMClient`` — the contract of every
      model-calling stage: one client per task (per survey in V2's
      per-survey passes), plus one on the driver for its ``retry_policy``;
      ``complete()`` must be thread-safe when ``V2Config.llm_threads > 1``.
    - ``build_prompt(row_dict) -> str | None`` — prompt template over row
      fields; a row whose prompt is ``None`` sends nothing and comes out
      ``llm_ok=false``, ``llm_error="NoPrompt"``, ``llm_attempts=0``.
    - ``parse(reply) -> dict`` — validated payload; raising marks the row
      ``llm_ok=false`` (parse-and-retry is the reference's schema system,
      process_str.py:8-29).
    - ``payload_fields`` — schema of what ``parse`` returns.
    - ``keep_cols`` — input columns carried through (ids, ordering keys).

    When ``retry`` is omitted, the policy comes from the client's own
    ``retry_policy`` (the per-provider preset on OpenAICompatClient),
    falling back to the test default.
    """
    retry = _resolve_retry(client_factory, retry)
    keep_fields = [df.schema[c] for c in keep_cols]
    out_schema = T.StructType(keep_fields + payload_fields + LLM_COLS)
    payload_names = [f.name for f in payload_fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()
        for pdf in batches:
            out_rows = []
            for row in pdf.to_dict("records"):
                payload, ok, err, attempts = _call_and_parse(
                    client, build_prompt(row), parse, payload_names, retry,
                    metrics)
                out_rows.append(
                    {**{c: row[c] for c in keep_cols}, **payload,
                     "llm_ok": ok, "llm_error": err, "llm_attempts": attempts}
                )
            yield pd.DataFrame(out_rows, columns=[f.name for f in out_schema.fields])

    return df.mapInPandas(run, schema=out_schema)


def _resolve_retry(client_factory: Callable[[], LLMClient],
                   retry: RetryPolicy | None) -> RetryPolicy:
    """``retry``, else the client's own ``retry_policy``, else the default."""
    if retry is not None:
        return retry
    return getattr(client_factory(), "retry_policy", None) or RetryPolicy()


# an accumulator's add is a read-modify-write, and V2's per-survey passes
# call _call_and_parse from several threads (v2_survey._pmap) that share
# their stage's counters
_METER_LOCK = threading.Lock()


def _call_and_parse(client: LLMClient, prompt: str | None,
                    parse: Callable[[str], dict[str, Any]],
                    payload_names: list[str], retry: RetryPolicy,
                    metrics: LLMMetrics | None,
                    ) -> tuple[dict[str, Any], bool, str | None, int]:
    """One model call with retries, metered and parsed:
    ``(payload, llm_ok, llm_error, llm_attempts)``.  A ``None`` prompt
    calls nothing and meters nothing: ``(nulls, False, "NoPrompt", 0)``."""
    if prompt is None:
        return dict.fromkeys(payload_names), False, "NoPrompt", 0
    reply, err, attempts = call_with_retry(client, prompt, retry)
    if metrics is not None:
        with _METER_LOCK:
            metrics.calls.add(1)
            metrics.prompt_chars.add(len(prompt))
            if reply is None:
                metrics.failures.add(1)
            else:
                metrics.reply_chars.add(len(reply))
    payload: dict[str, Any] = dict.fromkeys(payload_names)
    ok = reply is not None
    if ok:
        try:
            parsed = parse(reply)
            payload.update({k: parsed.get(k) for k in payload_names})
        except Exception as e:  # noqa: BLE001 - sentinel semantics
            ok, err = False, f"ParseError: {type(e).__name__}: {e}"
    return payload, ok, err, attempts


def dead_letter_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ok_rows, failed_rows) — D8 quarantine instead of crash."""
    return df.filter("llm_ok"), df.filter("NOT llm_ok")


# ---------------------------------------------------------------------------
# Prompt-hash result cache (SURVEY.md §4 "Caching/reuse" extension).
#
# The reference caches nothing except the V3 crawl resume
# (LLMxMapReduce_V3/src/mcp_server/llm_search_mcp_server.py:1043-1060, which
# skips already-crawled URLs on restart).  At 100 TB the same idea applied to
# LLM calls is the single biggest cost lever a re-run has: identical prompts
# (re-digests of unchanged papers, repeated eval rubrics, incremental corpus
# refreshes) should hit a persisted result table instead of the model.
# ---------------------------------------------------------------------------

PROMPT_HASH_COL = "__prompt_hash"

# above this on-disk size, llm_stage_cached prunes the cache read with a
# semi-join on the batch's hashes instead of deduping the whole cache
PRUNE_CACHE_READ_BYTES = 256 * 1024 * 1024

# llm_stage_cached appends its fresh rows in one parquet file per this many
# rows, not one per shuffle partition
ROWS_PER_APPEND_FILE = 1_000_000

# llm_stage_cached's internal columns: the cache-side payload struct and
# the flag on the one row per fresh successful hash that the append writes
_CACHED_COL = "__cached"
_FRESH_COL = "__fresh"


def _cache_bytes(spark, cache_dir: str) -> int:
    """Total on-disk bytes under ``cache_dir`` (0 if absent) — the cheap
    FS-level signal for the prune-vs-full-dedupe read strategy."""
    jvm = spark._jvm
    base = jvm.org.apache.hadoop.fs.Path(cache_dir)
    fs = base.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(base):
        return 0
    return int(fs.getContentSummary(base).getLength())


def with_prompt_hash(
    df: DataFrame,
    build_prompt: Callable[[dict[str, Any]], str | None],
    version: str = "",
    hash_col: str = PROMPT_HASH_COL,
) -> DataFrame:
    """Pure pre-pass: append the md5 of the prompt each row WOULD send
    (no LLM traffic; null for a row whose prompt is ``None``).  ``version``
    is salted into the hash — bump it when the prompt template or the
    parser changes semantics, and the whole cache invalidates without a
    directory wipe.

    The prompt is built twice for cache misses (here and inside the LLM
    stage) rather than carried as a column: prompts are the widest thing
    in these pipelines, and shipping a 16-byte hash through the cache
    join instead of the full text is the difference between a bounded
    shuffle and re-shuffling the corpus.  ``build_prompt`` must therefore
    be deterministic — the same contract that makes caching sound at all.
    """
    if hash_col in df.columns:
        raise ValueError(
            f"with_prompt_hash: input already has a {hash_col!r} column")
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(hash_col, T.StringType(), True)])
    salt = version.encode() + b"\x00"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            pdf = pdf.copy()
            prompts = [build_prompt(row) for row in pdf.to_dict("records")]
            pdf[hash_col] = [
                None if p is None else hashlib.md5(salt + p.encode()).hexdigest()
                for p in prompts
            ]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def read_prompt_cache(spark, cache_dir: str,
                      payload_fields: list[T.StructField],
                      hash_col: str = PROMPT_HASH_COL,
                      relevant: DataFrame | None = None) -> DataFrame | None:
    """The deduplicated cache table ``(hash_col, *payload, llm_attempts)``,
    or None before the first write.  The read is given that schema, so it
    spends no job inferring it from the parquet footers.  Existence goes
    through the Hadoop FileSystem API (the streaming-admission idiom,
    streaming/ingest.py) — never a parse of one Spark version's error
    text.  Appends may have written the same hash twice (two concurrent
    runs, duplicate prompts in one batch at different times); one row per
    hash is picked by a total order over the payload struct, so every
    reader resolves ties the same way.

    ``relevant`` (a frame containing ``hash_col``) prunes the cache with a
    left-semi join BEFORE the dedupe shuffle: an incremental batch over a
    big accumulated cache then shuffles ~batch-size rows, not the whole
    cache — the difference between O(batch) and O(cache) per run at
    100 TB.  AQE broadcasts the batch side while it is small."""
    jvm = spark._jvm
    base = jvm.org.apache.hadoop.fs.Path(cache_dir)
    fs = base.getFileSystem(spark._jsc.hadoopConfiguration())
    # a pre-created EMPTY directory is a normal cold start (mkdtemp,
    # mkdir -p deploy scripts) — treat it like absence, or the parquet
    # read dies with UNABLE_TO_INFER_SCHEMA
    if not fs.exists(base) or not fs.listFiles(base, True).hasNext():
        return None
    raw = spark.read.schema(T.StructType(
        [T.StructField(hash_col, T.StringType(), True), *payload_fields,
         T.StructField("llm_attempts", T.IntegerType(), True)])
    ).parquet(cache_dir)
    if relevant is not None:
        raw = raw.join(relevant.select(hash_col), hash_col, "left_semi")
    names = [f.name for f in payload_fields] + ["llm_attempts"]
    picked = (
        raw.groupBy(hash_col)
        .agg(F.max(F.struct(*[F.col(n) for n in names])).alias("__p"))
    )
    return picked.select(hash_col, *[F.col(f"__p.{n}").alias(n) for n in names])


def llm_stage_cached(
    df: DataFrame,
    build_prompt: Callable[[dict[str, Any]], str | None],
    parse: Callable[[str], dict[str, Any]],
    client_factory: Callable[[], LLMClient],
    payload_fields: list[T.StructField],
    keep_cols: list[str],
    cache_dir: str,
    retry: RetryPolicy | None = None,
    metrics: LLMMetrics | None = None,
    version: str = "",
) -> DataFrame:
    """:func:`llm_stage` behind a persisted prompt-hash result cache.

    Same output schema and row set as ``llm_stage`` (keep_cols + payload +
    the D8 sentinel columns), with three engine changes:

    - rows whose prompt hash is already in ``cache_dir`` never reach the
      model: their payload (and original ``llm_attempts``) replays from
      the cache with ``llm_ok=true``;
    - cache misses cost ONE call per distinct prompt, even on a cold
      cache: rows are hash-partitioned on the prompt hash, so every row
      sharing a prompt lands in the same task, and a per-task memo
      serves the repeats;
    - successful fresh results are appended to ``cache_dir`` (parquet;
      appends are new files, one per ``ROWS_PER_APPEND_FILE`` fresh rows,
      so concurrent runs never corrupt — dup hashes are resolved
      deterministically at read).

    Failed rows (``llm_ok=false``) are returned with the usual sentinel
    but NOT cached, so the next run retries them — the D8/D13 contract.
    Rows whose prompt is ``None`` come out as in ``llm_stage``, with no
    call and no cache row.

    Job shape, one pass over the input: the lazily hashed input is
    left-joined with the deduplicated cache (:func:`read_prompt_cache`;
    Spark broadcasts the cache side while it is small), repartitioned on
    the hash to ``spark.sql.shuffle.partitions`` tasks, and one
    ``mapInPandas`` replays hits and calls the model for misses.  That
    frame is an eager :func:`~llmxmapreduce_spark.retention.checkpoint`
    — the upstream plan and the model calls run exactly once, for the
    returned rows AND the cache append, which reads the checkpoint and is
    skipped when nothing is fresh.  The call leaves that one frame pinned;
    a caller that wraps it in ``retention.owned()`` gets its id and
    releases it once the rows have been read.  The explicit partition
    count is what keeps the model calls parallel: AQE may coalesce a
    count-less repartition of a small miss set into one task that would
    call the model serially.

    Scale: the cache join is an equi-join on a 16-byte hash (broadcast
    while the cache is small, shuffle-on-hash after), the append is an
    executor-side parquet write, and nothing collects to the driver.
    Past ``PRUNE_CACHE_READ_BYTES`` the cache read is semi-join pruned
    to the batch's hashes, which evaluates the upstream plan a second
    time — at that cache size the saved cache-wide dedupe dominates.
    """
    spark = df.sparkSession
    retry = _resolve_retry(client_factory, retry)
    payload_names = [f.name for f in payload_fields]
    hashed = with_prompt_hash(df, build_prompt, version)
    # Prune the cache read only once the cache is big enough that its
    # dedupe shuffle dominates (the semi-join costs an extra join and an
    # extra upstream pass — a net loss while the cache is batch-sized, a
    # requirement once it has accumulated for months).
    prune = _cache_bytes(spark, cache_dir) > PRUNE_CACHE_READ_BYTES
    cache = read_prompt_cache(spark, cache_dir, payload_fields,
                              relevant=hashed if prune else None)
    if cache is not None:
        # the cached payload rides in one struct column (null on a miss):
        # an input column may share a name with a payload column (V1's
        # map stage reads chunk `text` and emits payload `text`)
        hashed = hashed.join(
            cache.select(PROMPT_HASH_COL, F.struct(
                *payload_names, "llm_attempts").alias(_CACHED_COL)),
            PROMPT_HASH_COL, "left")
    n_tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    routed = hashed.repartition(n_tasks, PROMPT_HASH_COL)

    keep_fields = [df.schema[c] for c in keep_cols]
    out_schema = T.StructType(
        keep_fields + payload_fields + LLM_COLS
        + [T.StructField(PROMPT_HASH_COL, T.StringType(), True),
           T.StructField(_FRESH_COL, T.BooleanType(), False)])
    out_names = [f.name for f in out_schema.fields]
    fresh_rows = spark.sparkContext.accumulator(0)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = None
        memo: dict[str, tuple] = {}     # hash -> this task's call result
        for pdf in batches:
            out_rows = []
            for row in pdf.to_dict("records"):
                h = row[PROMPT_HASH_COL]
                cached = row.get(_CACHED_COL)
                fresh = False
                if cached is not None:
                    payload = {n: cached[n] for n in payload_names}
                    ok, err, attempts = True, None, cached["llm_attempts"]
                elif h in memo:
                    payload, ok, err, attempts = memo[h]
                else:
                    if client is None:
                        client = client_factory()
                    payload, ok, err, attempts = memo[h] = _call_and_parse(
                        client, build_prompt(row), parse, payload_names,
                        retry, metrics)
                    fresh = ok
                out_rows.append(
                    {**{c: row[c] for c in keep_cols}, **payload,
                     "llm_ok": ok, "llm_error": err, "llm_attempts": attempts,
                     PROMPT_HASH_COL: h, _FRESH_COL: fresh})
            fresh_rows.add(sum(r[_FRESH_COL] for r in out_rows))
            yield pd.DataFrame(out_rows, columns=out_names)

    done = checkpoint(routed.mapInPandas(run, schema=out_schema))
    if fresh_rows.value:
        done.filter(_FRESH_COL).select(
            PROMPT_HASH_COL, *payload_names, "llm_attempts"
        ).coalesce(math.ceil(fresh_rows.value / ROWS_PER_APPEND_FILE)
                   ).write.mode("append").parquet(cache_dir)
    return done.select(*keep_cols, *payload_names, "llm_ok", "llm_error",
                       "llm_attempts")


def compact_prompt_cache(spark, cache_dir: str,
                         payload_fields: list[T.StructField],
                         hash_col: str = PROMPT_HASH_COL) -> int:
    """Rewrite ``cache_dir`` with one row per prompt hash, returning the
    compacted row count.  Long-lived caches accumulate duplicate hashes
    (concurrent runs, repeated cold batches) and small append files; the
    read path tolerates both (deterministic struct-max dedupe), but each
    read then re-pays the dedupe over dead rows — compaction makes the
    steady state O(distinct prompts) again.

    Write-then-swap, never in-place: the deduped table lands in a
    ``…__compact`` sibling, the old directory is renamed aside, the
    sibling renamed in, and the old data deleted last — a reader
    sees either the old files or the new, not a half-written mix.
    (Hadoop rename is atomic per directory on HDFS/local FS; on object
    stores with non-atomic rename, run compaction in a maintenance
    window like any parquet table rewrite.)  Not safe concurrently with
    WRITERS — appends landing between the read and the swap are lost;
    schedule it like the reference schedules its crawl-state cleanup.
    """
    table = read_prompt_cache(spark, cache_dir, payload_fields, hash_col)
    if table is None:
        return 0
    tmp = cache_dir.rstrip("/") + "__compact"
    old = cache_dir.rstrip("/") + "__old"
    table.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p_cache = jvm.org.apache.hadoop.fs.Path(cache_dir)
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    p_old = jvm.org.apache.hadoop.fs.Path(old)
    fs = p_cache.getFileSystem(conf)
    if fs.exists(p_old):
        fs.delete(p_old, True)
    if not fs.rename(p_cache, p_old):
        raise IOError(f"compact_prompt_cache: could not move {cache_dir} "
                      f"aside to {old}")
    if not fs.rename(p_tmp, p_cache):
        # roll back so the cache is never left missing
        fs.rename(p_old, p_cache)
        raise IOError(f"compact_prompt_cache: could not install {tmp} "
                      f"as {cache_dir} (original restored)")
    fs.delete(p_old, True)
    return n
