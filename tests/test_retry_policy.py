"""D13 per-provider retry envelopes (reference: request/openai.py:22-26,
request/google.py:31-35, request/local.py:24-28 — all
wait_random_exponential(multiplier=2, max=60) with provider-specific
attempt budgets and retryable-exception sets)."""

import pytest

from llmxmapreduce_spark.llm.client import (
    FlakyClient,
    LLMClient,
    RetryPolicy,
    call_with_retry,
)


def test_preset_envelopes():
    o, g, l = RetryPolicy.openai(), RetryPolicy.google(), RetryPolicy.local()
    assert (o.max_attempts, g.max_attempts, l.max_attempts) == (100, 10, 30)
    for p in (o, g, l):
        assert p.base_delay == 2.0 and p.max_delay == 60.0 and p.backoff == 2.0
        # backoff cap: 2*2^a grows past 60 and is clamped there
        assert max(
            p.delay(a) for a in range(p.max_attempts)
        ) <= 60.0
        p2 = RetryPolicy(max_attempts=p.max_attempts, base_delay=2.0,
                         backoff=2.0, max_delay=60.0)  # jitterless twin
        assert p2.delay(0) == 2.0 and p2.delay(5) == 60.0


def test_retryable_exception_sets():
    class RateLimitError(Exception):
        pass

    class APIError(Exception):
        pass

    from json.decoder import JSONDecodeError

    o, g, l = RetryPolicy.openai(), RetryPolicy.google(), RetryPolicy.local()
    assert o.should_retry(RateLimitError())
    assert o.should_retry(APIError())
    assert not o.should_retry(ValueError("bad request"))
    assert g.should_retry(ValueError("anything"))
    assert l.should_retry(JSONDecodeError("m", "doc", 0))
    assert not l.should_retry(RateLimitError())


class _FailNTimes(LLMClient):
    def __init__(self, n, exc_factory):
        self.n = n
        self.exc_factory = exc_factory
        self.calls = 0

    def complete(self, prompt):
        self.calls += 1
        if self.calls <= self.n:
            raise self.exc_factory()
        return "ok"


def test_non_retryable_error_stops_immediately():
    c = _FailNTimes(10, lambda: ValueError("schema"))
    policy = RetryPolicy.openai()
    reply, err, attempts = call_with_retry(c, "p", policy)
    assert reply is None and attempts == 1 and "ValueError" in err
    assert c.calls == 1  # did not burn the 100-attempt budget


def test_retryable_error_retries_through():
    class RateLimitError(Exception):
        pass

    c = _FailNTimes(2, RateLimitError)
    policy = RetryPolicy(max_attempts=100, base_delay=0.0,
                         retry_on=("RateLimitError",))
    reply, err, attempts = call_with_retry(c, "p", policy)
    assert reply == "ok" and err is None and attempts == 3


def test_mro_name_matching():
    """Subclasses of a retryable type retry too (tenacity's
    retry_if_exception_type is isinstance-based)."""

    class APIError(Exception):
        pass

    class APIConnectionError(APIError):
        pass

    p = RetryPolicy(retry_on=("APIError",))
    assert p.should_retry(APIConnectionError())


def test_jitter_bounded():
    p = RetryPolicy.openai()
    for a in range(8):
        cap = min(60.0, 2.0 * 2 ** a)
        for _ in range(20):
            assert 0 <= p.delay(a) <= cap


def test_provider_preset_selection_requires_known_name():
    pytest.importorskip("openai", reason="openai sdk not installed")
    from llmxmapreduce_spark.llm.client import OpenAICompatClient

    with pytest.raises(ValueError):
        OpenAICompatClient("m", provider="nope")


def _preset_flaky(inner_cls):
    """A client factory whose clients fail every prompt three times and
    carry their own five-attempt policy, the way ``OpenAICompatClient``
    carries its provider preset.  (The class is local so executors
    unpickle it by value.)"""

    class PresetFlaky(FlakyClient):
        retry_policy = RetryPolicy(max_attempts=5)

        def __init__(self):
            super().__init__(inner_cls(), n_failures=3)

    return PresetFlaky


def test_v2_stages_use_the_client_preset(spark):
    """No explicit ``retry``: every V2 stage, the per-survey conv/refine
    and decode assembly included, must retry under the client's own
    policy — the default three attempts would drop every survey."""
    from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
    from llmxmapreduce_spark.pipelines import v2_survey as v2
    from tests.test_v2_pipeline import make_surveys

    surveys = make_surveys(spark, n_surveys=2, n_papers=4)
    cfg = v2.V2Config(conv_layers=1, receptive_field=2, result_num=2,
                      top_k=2, refine_rounds=1, best_of=1)
    want = sorted(map(tuple, v2.run_v2_survey(
        surveys, MockSurveyClient, cfg).collect()))
    got = v2.run_v2_survey(
        surveys, _preset_flaky(MockSurveyClient), cfg).collect()
    assert [r["survey_id"] for r in sorted(got)] == ["survey0", "survey1"]
    assert all(r["eval_score"] is not None and r["content_md"] for r in got)
    assert sorted(map(tuple, got)) == want


def test_llm_dedup_claims_uses_the_client_preset(spark):
    from llmxmapreduce_spark.llm.client import MockDedupClient
    from llmxmapreduce_spark.operators.eval_ops import llm_dedup_claims

    facts = ["alpha finding", "ALPHA finding", "beta finding", "gamma finding"]
    claims = spark.createDataFrame(
        [("s1", i, f) for i, f in enumerate(facts)],
        ["survey_id", "claim_id", "claim"])
    kept = llm_dedup_claims(claims, _preset_flaky(MockDedupClient),
                            group_size=2).collect()
    assert sorted(r["claim_id"] for r in kept) == [0, 2, 3]
