"""Prompt-hash LLM result cache (SURVEY §4 "Caching/reuse" extension;
the engine-side generalization of the reference's V3 crawl resume,
llm_search_mcp_server.py:1043-1060).

Contract under test: llm_stage_cached is row- and value-identical to
llm_stage, never calls the model for a prompt whose hash is cached,
calls once per DISTINCT prompt on a cold cache, does not cache failures
(so they retry next run), and invalidates wholesale on a version bump.
"""

from __future__ import annotations

from pyspark.sql import types as T

from llmxmapreduce_spark.llm.client import LLMClient, RetryPolicy
from llmxmapreduce_spark.operators import llm_op

PAYLOAD = [T.StructField("echo", T.StringType(), True)]


def _mk():
    """Closures (cloudpickle-by-value): executors cannot import the test
    module, so nothing here may pickle by reference."""

    class CountingEchoClient(LLMClient):
        # deterministic reply; fails on prompts containing 'poison' so
        # the not-cached-on-failure path is testable
        def complete(self, prompt: str) -> str:
            if "poison" in prompt:
                raise RuntimeError("injected model failure")
            return f"REPLY::{prompt}"

    def build(row):
        return f"say {row['word']}"

    def parse(reply):
        assert reply.startswith("REPLY::")
        return {"echo": reply[len("REPLY::"):]}

    return CountingEchoClient, build, parse


def _frame(spark, words):
    return spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], ["row_id", "word"])


def _rows(df):
    return sorted(tuple(r) for r in df.select(
        "row_id", "word", "echo", "llm_ok", "llm_error", "llm_attempts"
    ).collect())


def _cached(spark, df, cache_dir, metrics=None, version=""):
    client, build, parse = _mk()
    return llm_op.llm_stage_cached(
        df, build, parse, client, PAYLOAD,
        ["row_id", "word"], str(cache_dir),
        retry=RetryPolicy(max_attempts=1), metrics=metrics, version=version)


def test_cold_run_matches_llm_stage_and_dedupes_prompts(spark, tmp_path):
    df = _frame(spark, ["alpha", "beta", "alpha", "gamma", "beta"])
    client, build, parse = _mk()
    plain = llm_op.llm_stage(
        df, build, parse, client, PAYLOAD,
        ["row_id", "word"], retry=RetryPolicy(max_attempts=1))

    m = llm_op.LLMMetrics(spark)
    out = _cached(spark, df, tmp_path / "c", metrics=m)
    assert _rows(out) == _rows(plain)           # value-identical to llm_stage
    assert m.calls.value == 3                    # one call per DISTINCT prompt


def test_warm_run_is_zero_calls(spark, tmp_path):
    df = _frame(spark, ["alpha", "beta", "gamma"])
    _cached(spark, df, tmp_path / "c").count()   # populate

    m = llm_op.LLMMetrics(spark)
    out = _cached(spark, df, tmp_path / "c", metrics=m)
    assert m.calls.value == 0
    rows = _rows(out)
    assert len(rows) == 3
    assert all(ok for _i, _w, _e, ok, _err, _a in rows)
    assert rows[0][2] == "say alpha"             # payload replayed intact


def test_incremental_run_calls_only_new_prompts(spark, tmp_path):
    _cached(spark, _frame(spark, ["alpha", "beta"]), tmp_path / "c").count()

    m = llm_op.LLMMetrics(spark)
    out = _cached(
        spark, _frame(spark, ["alpha", "beta", "delta"]), tmp_path / "c",
        metrics=m)
    assert m.calls.value == 1                    # only 'delta' reached the model
    assert len(_rows(out)) == 3


def test_failures_not_cached_and_retry_next_run(spark, tmp_path):
    df = _frame(spark, ["alpha", "poison"])
    out1 = _cached(spark, df, tmp_path / "c")
    bad = out1.filter("NOT llm_ok").collect()
    assert len(bad) == 1 and bad[0]["word"] == "poison"

    # run 2: alpha replays, poison is re-attempted (not served from cache)
    m = llm_op.LLMMetrics(spark)
    out2 = _cached(spark, df, tmp_path / "c", metrics=m)
    assert out2.count() == 2
    assert m.calls.value == 1 and m.failures.value == 1


def test_version_salt_invalidates(spark, tmp_path):
    df = _frame(spark, ["alpha", "beta"])
    _cached(spark, df, tmp_path / "c", version="v1").count()

    m = llm_op.LLMMetrics(spark)
    _cached(spark, df, tmp_path / "c", version="v2", metrics=m).count()
    assert m.calls.value == 2                    # full miss under the new salt

    m2 = llm_op.LLMMetrics(spark)
    _cached(spark, df, tmp_path / "c", version="v2", metrics=m2).count()
    assert m2.calls.value == 0                   # and v2 is now warm


def test_duplicate_cache_rows_resolve_deterministically(spark, tmp_path):
    # two populating runs append the same hashes twice; the read must
    # collapse to one row per hash and serve a single consistent payload
    df = _frame(spark, ["alpha"])
    _cached(spark, df, tmp_path / "c").count()
    # force a second append of the same hash by bypassing the hit short-
    # circuit: write the same populate again under a fresh session read
    raw = spark.read.parquet(str(tmp_path / "c"))
    raw.write.mode("append").parquet(str(tmp_path / "c"))
    assert spark.read.parquet(str(tmp_path / "c")).count() == 2

    m = llm_op.LLMMetrics(spark)
    out = _cached(spark, df, tmp_path / "c", metrics=m)
    assert m.calls.value == 0
    assert len(_rows(out)) == 1


def test_cache_checkpoint_is_bounded(spark, tmp_path):
    """One pinned frame per call (the one-pass stage's eager checkpoint;
    the bound leaves one of slack) — not one per input row or per cached
    row."""
    from llmxmapreduce_spark.retention import pinned_ids, release

    sc = spark.sparkContext
    before = pinned_ids(sc)
    _cached(spark, _frame(spark, ["a", "b", "c", "d"]), tmp_path / "c").count()
    created = pinned_ids(sc) - before
    assert len(created) <= 2
    release(sc, created)


def test_pruned_cache_read_path(spark, tmp_path, monkeypatch):
    """Force the big-cache read strategy (semi-join pruning before the
    dedupe shuffle) and assert it serves the same rows at zero calls."""
    df = _frame(spark, ["alpha", "beta", "gamma"])
    _cached(spark, df, tmp_path / "c").count()

    monkeypatch.setattr(llm_op, "PRUNE_CACHE_READ_BYTES", 0)
    m = llm_op.LLMMetrics(spark)
    out = _cached(spark, df, tmp_path / "c", metrics=m)
    assert m.calls.value == 0
    rows = _rows(out)
    assert len(rows) == 3 and all(r[3] for r in rows)


def test_pre_created_empty_cache_dir_is_cold_start(spark, tmp_path):
    """mkdir-ed but empty cache dirs (deploy scripts, mkdtemp) must behave
    like absence, not die with UNABLE_TO_INFER_SCHEMA."""
    d = tmp_path / "c"
    d.mkdir()
    m = llm_op.LLMMetrics(spark)
    out = _cached(spark, _frame(spark, ["alpha"]), d, metrics=m)
    assert out.count() == 1 and m.calls.value == 1


def test_compact_prompt_cache(spark, tmp_path):
    """Compaction rewrites to one row per hash; reads keep serving
    identically (zero calls) afterwards."""
    d = tmp_path / "c"
    df = _frame(spark, ["alpha", "beta"])
    _cached(spark, df, d).count()
    # duplicate every cached row, then compact
    raw = spark.read.parquet(str(d))
    raw.write.mode("append").parquet(str(d))
    assert spark.read.parquet(str(d)).count() == 4

    n = llm_op.compact_prompt_cache(spark, str(d), PAYLOAD)
    assert n == 2
    assert spark.read.parquet(str(d)).count() == 2

    m = llm_op.LLMMetrics(spark)
    out = _cached(spark, df, d, metrics=m)
    assert m.calls.value == 0 and len(_rows(out)) == 2


def test_compact_empty_cache_is_noop(spark, tmp_path):
    assert llm_op.compact_prompt_cache(
        spark, str(tmp_path / "never"), PAYLOAD) == 0
