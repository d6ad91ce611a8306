"""The benchmark's simulated model.

It answers through the repo's deterministic mocks (``ChattyQAClient`` for
V1, ``MockSurveyClient`` for V2), so replies, routing and output checks
are the program's own.  It adds what a served model has and the mocks do
not: a fixed per-call latency and seeded transient failures on a first
attempt.  Every call is accounted per prompt route through one Spark
accumulator, so the counts are correct however Spark spreads the calls
over Python workers.

This module is imported by the Python workers (the client factory and the
accumulator parameter are pickled by reference), so it must stay
importable from the checkout root and start nothing at import.
"""

from __future__ import annotations

import functools
import hashlib
import time

from pyspark.accumulators import AccumulatorParam

from llmxmapreduce_spark.llm.client import LLMClient
from llmxmapreduce_spark.llm.survey_mock import _tagged

# (route, marker) in the order the mocks test them, so a prompt is
# counted under the route whose reply it gets.  V1 markers are the phrases
# MockQAClient routes on; V2 tags are resolved by the survey mock's own
# ``_tagged`` (condensed tags and full reference prompts alike).
V1_ROUTES = (
    ("map", "Extract Relevant Information"),
    ("collapse", "Integrate Extracted Information"),
    ("reduce", "Information from chunks"),
)
V2_ROUTES = (
    ("outline", "[INIT_OUTLINE]"),
    ("outline", "[CONCAT_OUTLINE]"),
    ("digest", "[DIGEST]"),
    ("feedback", "[FEEDBACK]"),
    ("kernel", "[KERNEL]"),
    ("modify", "[MODIFY]"),
    ("eval", "[EVAL_OUTLINE]"),
    ("refine", "[SELF_REFINE]"),
    ("orchestra", "[ORCHESTRA]"),
    ("summary", "[SUMMARY]"),
    ("polish", "[POLISH]"),
)
ROUTES = tuple(dict.fromkeys([r for r, _ in V1_ROUTES + V2_ROUTES] + ["other"]))


def route_of(prompt: str) -> str:
    for route, marker in V1_ROUTES:
        if marker in prompt:
            return route
    for route, tag in V2_ROUTES:
        if _tagged(prompt, tag):
            return route
    return "other"


class _DictSum(AccumulatorParam):
    """Accumulates ``{"route.field": number}`` dicts by key-wise sum."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


def new_counters(sc):
    """The per-route call accumulator one benchmark process shares."""
    return sc.accumulator({}, _DictSum())


class TransientModelError(RuntimeError):
    """A failure the default RetryPolicy retries (it retries everything)."""


class SimulatedModel(LLMClient):
    """``inner`` mock + ``latency_s`` sleep per call + a seeded
    ``fail_rate`` share of prompts that fail their first attempt."""

    def __init__(self, inner_cls, counters, latency_s: float = 0.0,
                 fail_rate: float = 0.0, seed: int = 0):
        self.inner = inner_cls()
        self.counters = counters
        self.latency_s = latency_s
        self.fail_rate = fail_rate
        self.seed = seed
        self._failed_once: set[str] = set()

    def _fails_now(self, prompt: str) -> bool:
        if not self.fail_rate:
            return False
        h = hashlib.md5(f"{self.seed}\x00{prompt}".encode()).hexdigest()
        if int(h[:8], 16) / 0x100000000 >= self.fail_rate or h in self._failed_once:
            return False
        self._failed_once.add(h)
        return True

    def complete(self, prompt: str) -> str:
        route = route_of(prompt)
        t0 = time.perf_counter()
        if self.latency_s:
            time.sleep(self.latency_s)
        if self._fails_now(prompt):
            self.counters.add({f"{route}.calls": 1, f"{route}.retries": 1,
                               f"{route}.prompt_chars": len(prompt),
                               f"{route}.busy_s": time.perf_counter() - t0})
            raise TransientModelError("simulated transient model failure")
        reply = self.inner.complete(prompt)
        self.counters.add({f"{route}.calls": 1,
                           f"{route}.prompt_chars": len(prompt),
                           f"{route}.reply_chars": len(reply),
                           f"{route}.busy_s": time.perf_counter() - t0})
        return reply


def factory(inner_cls, counters, latency_s: float = 0.0,
            fail_rate: float = 0.0, seed: int = 0):
    """A picklable zero-argument client factory for the pipelines."""
    return functools.partial(SimulatedModel, inner_cls, counters,
                             latency_s, fail_rate, seed)
