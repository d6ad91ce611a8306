"""One-pass shape of the prompt-hash cache (llm_op.llm_stage_cached).

A cached stage is one pass over its input: the hashed input is
left-joined with the cache, hash-partitioned, and a single mapInPandas
replays hits and calls the model for misses; one eager checkpoint feeds
both the returned rows and the cache append.  These tests pin that
shape (calls per distinct prompt, job count, one upstream pass, one
pinned frame) and the fault paths (retried misses, malformed replies,
runs with nothing fresh).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.llm.client import LLMClient, RetryPolicy
from llmxmapreduce_spark.operators import llm_op
from llmxmapreduce_spark.retention import pinned_ids, release

PAYLOAD = [T.StructField("echo", T.StringType(), True)]
KEEP = ["row_id", "word"]

# A half-warm stage plus one collect of its output: parquet schema
# inference, the cache dedupe, its broadcast, the input shuffle, the
# checkpoint, the append write and the collect.
HALF_WARM_MAX_JOBS = 7


def _mk(fail_first: bool = False, always_fail: bool = False):
    """Closures (cloudpickle-by-value): executors cannot import the test
    module, so nothing here may pickle by reference.

    ``fail_first``: each client raises on its first call for a prompt and
    answers the retry.  ``always_fail``: every call raises, so a run that
    succeeds proves nothing reached the model.  Replies to prompts
    containing 'garble' do not parse."""

    class EchoClient(LLMClient):
        def __init__(self):
            self.seen: set[str] = set()

        def complete(self, prompt: str) -> str:
            if always_fail:
                raise RuntimeError("model must not be called")
            if fail_first and prompt not in self.seen:
                self.seen.add(prompt)
                raise RuntimeError("transient model failure")
            if "garble" in prompt:
                return "<<not a reply>>"
            return f"REPLY::{prompt}"

    def build(row):
        return f"say {row['word']}"

    def parse(reply):
        if not reply.startswith("REPLY::"):
            raise ValueError("malformed reply")
        return {"echo": reply[len("REPLY::"):]}

    return EchoClient, build, parse


def _frame(spark, words, partitions=2):
    rows = [(i, w) for i, w in enumerate(words)]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, partitions),
        "row_id bigint, word string")


def _cached(df, cache_dir, metrics=None, **mk):
    client, build, parse = _mk(**mk)
    return llm_op.llm_stage_cached(
        df, build, parse, client, PAYLOAD, KEEP, str(cache_dir),
        retry=RetryPolicy(max_attempts=3), metrics=metrics)


def _rows(df):
    return sorted(tuple(r) for r in df.select(
        "row_id", "word", "echo", "llm_ok", "llm_error", "llm_attempts"
    ).collect())


def _cache_files(cache_dir):
    return sorted(f for f in os.listdir(cache_dir) if f.endswith(".parquet"))


def _run_pinned(spark, build_out):
    """(collected rows, frames the call left pinned); releases them."""
    sc = spark.sparkContext
    before = pinned_ids(sc)
    rows = _rows(build_out())
    created = pinned_ids(sc) - before
    release(sc, created)
    return rows, created


def test_cold_cache_calls_once_per_distinct_prompt(spark, tmp_path):
    words = [f"w{i % 5}" for i in range(40)]
    df = _frame(spark, words, partitions=8)
    m = llm_op.LLMMetrics(spark)
    rows, _ = _run_pinned(spark, lambda: _cached(df, tmp_path / "c", m))
    assert m.calls.value == 5
    assert len(rows) == 40
    assert all(r[3] and r[2] == f"say {r[1]}" for r in rows)
    # one cache row per distinct prompt, not per input row
    assert spark.read.parquet(str(tmp_path / "c")).count() == 5


def test_half_warm_stage_job_count_and_single_upstream_pass(spark, tmp_path):
    sc = spark.sparkContext
    words = [f"w{i}" for i in range(20)]
    _run_pinned(spark, lambda: _cached(
        _frame(spark, words[:10]), tmp_path / "c"))

    upstream = sc.accumulator(0)

    def tag(word):
        upstream.add(1)
        return word

    df = _frame(spark, words, partitions=4).withColumn(
        "word", F.udf(tag, "string")("word"))
    m = llm_op.LLMMetrics(spark)
    group = "llm-cache-onepass-half-warm"
    sc.setJobGroup(group, group)
    try:
        rows, created = _run_pinned(
            spark, lambda: _cached(df, tmp_path / "c", m))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    assert m.calls.value == 10                  # only the uncached half
    assert len(rows) == 20 and all(r[3] for r in rows)
    assert upstream.value == 20                 # upstream evaluated once
    assert len(created) == 1
    assert jobs <= HALF_WARM_MAX_JOBS, jobs


def test_each_call_pins_exactly_one_frame(spark, tmp_path):
    for words in (["alpha", "beta"],                     # cold
                  ["alpha", "beta", "gamma", "delta"],   # half warm
                  ["alpha", "beta", "gamma", "delta"]):  # fully warm
        df = _frame(spark, words)
        rows, created = _run_pinned(
            spark, lambda: _cached(df, tmp_path / "c"))
        assert len(rows) == len(words)
        assert len(created) == 1, created


def test_retried_miss_is_cached_with_its_attempts(spark, tmp_path):
    df = _frame(spark, ["alpha", "beta"])
    m = llm_op.LLMMetrics(spark)
    rows, _ = _run_pinned(
        spark, lambda: _cached(df, tmp_path / "c", m, fail_first=True))
    assert [(r[1], r[3], r[5]) for r in rows] == [
        ("alpha", True, 2), ("beta", True, 2)]
    assert m.calls.value == 2 and m.failures.value == 0
    stored = spark.read.parquet(str(tmp_path / "c")).collect()
    assert sorted(r["llm_attempts"] for r in stored) == [2, 2]

    # a later hit replays the stored attempt count without a call
    m2 = llm_op.LLMMetrics(spark)
    rows2, _ = _run_pinned(
        spark, lambda: _cached(df, tmp_path / "c", m2, always_fail=True))
    assert m2.calls.value == 0
    assert [(r[3], r[5]) for r in rows2] == [(True, 2), (True, 2)]


def test_malformed_reply_is_failed_and_not_cached(spark, tmp_path):
    df = _frame(spark, ["alpha", "garble"])
    rows, _ = _run_pinned(spark, lambda: _cached(df, tmp_path / "c"))
    bad = [r for r in rows if r[1] == "garble"]
    assert len(bad) == 1
    _i, _w, echo, ok, err, attempts = bad[0]
    assert not ok and echo is None and attempts == 1
    assert err.startswith("ParseError: ValueError")
    stored = spark.read.parquet(str(tmp_path / "c")).collect()
    assert len(stored) == 1                     # only 'alpha'

    # the malformed prompt goes back to the model on the next run
    m = llm_op.LLMMetrics(spark)
    _run_pinned(spark, lambda: _cached(df, tmp_path / "c", m))
    assert m.calls.value == 1


def test_run_with_nothing_fresh_writes_no_cache_file(spark, tmp_path):
    d = tmp_path / "c"
    # every miss fails to parse: nothing fresh, so no cache is created
    _run_pinned(spark, lambda: _cached(_frame(spark, ["garble"]), d))
    assert not d.exists() or not _cache_files(d)

    df = _frame(spark, ["alpha", "beta"])
    _run_pinned(spark, lambda: _cached(df, d))
    files = _cache_files(d)
    assert files

    # fully warm: every row replays, the append is skipped
    m = llm_op.LLMMetrics(spark)
    rows, _ = _run_pinned(spark, lambda: _cached(df, d, m))
    assert m.calls.value == 0 and len(rows) == 2
    assert _cache_files(d) == files


def test_no_prompt_rows_send_nothing(spark, tmp_path):
    """A row whose prompt is None is not sent, metered or cached, in
    either stage: ``llm_ok=false``, ``NoPrompt``, 0 attempts."""
    client, build, parse = _mk(always_fail=True)

    def build_or_none(row):
        return None if row["word"] is None else build(row)

    d = tmp_path / "c"
    stages = {
        "llm_stage": lambda df, m: llm_op.llm_stage(
            df, build_or_none, parse, client, PAYLOAD, KEEP, metrics=m),
        "llm_stage_cached": lambda df, m: llm_op.llm_stage_cached(
            df, build_or_none, parse, client, PAYLOAD, KEEP, str(d),
            metrics=m),
    }
    df = _frame(spark, [None, None, None])
    for name, stage in stages.items():
        m = llm_op.LLMMetrics(spark)
        rows, _ = _run_pinned(spark, lambda: stage(df, m))
        assert rows == [(i, None, None, False, "NoPrompt", 0)
                        for i in range(3)], name
        assert m.calls.value == 0 and m.prompt_chars.value == 0, name
    # nothing was appended: the cache was never created
    assert not d.exists() or not _cache_files(d)


def test_cold_append_writes_one_file(spark, tmp_path):
    """Fresh rows from every shuffle partition land in one parquet part
    file per append, not one per partition."""
    d = tmp_path / "c"
    words = [f"w{i}" for i in range(40)]
    _run_pinned(spark, lambda: _cached(_frame(spark, words[:20], 4), d))
    assert len(_cache_files(d)) == 1
    _run_pinned(spark, lambda: _cached(_frame(spark, words, 4), d))
    assert len(_cache_files(d)) == 2
    assert spark.read.parquet(str(d)).count() == 40
