"""LLM clients: deterministic mocks for tests/benchmarks + an
OpenAI-compatible client for production (import-gated; no network in CI).

Reference parity:
- retry policy — request/openai.py:22-26 (100 attempts, exp backoff ≤60 s);
  here configurable, default 3 for tests.
- per-model concurrency — request/wrapper.py:17-23 Semaphore(20).  The
  pipelines call ``complete()`` through ``llm_op._call_and_parse``, one
  row at a time inside each Spark task, so calls in flight = running tasks
  (tuned by the LLM stage's input partitioning); V2's per-survey stages
  add ``V2Config.llm_threads`` calls per task.  The client contract is
  stated once, at ``llm_op.llm_stage``'s ``client_factory``.
"""

from __future__ import annotations

import hashlib
import random
import re
import time
from dataclasses import dataclass


@dataclass
class RetryPolicy:
    """D13 retry policy.

    The reference ships one envelope per provider, all with
    ``wait_random_exponential(multiplier=2, max=60)`` but different attempt
    budgets and retryable-exception sets — mirrored by the classmethod
    presets below (request/openai.py:22-26, request/google.py:31-35,
    request/local.py:24-28):

    ============  ========  =========================================
    preset        attempts  retries on
    ============  ========  =========================================
    ``openai()``  100       RateLimitError, InternalServerError, APIError
    ``google()``  10        any Exception
    ``local()``   30        JSONDecodeError, HTTPError
    ============  ========  =========================================

    ``retry_on`` holds exception *class names* (matched against the raised
    exception's MRO), so the presets work without the provider SDKs
    installed; ``None`` retries everything.  A non-retryable error falls
    through to the D8 sentinel immediately instead of burning the attempt
    budget.  ``jitter`` samples uniform(0, cap) per wait like tenacity's
    wait_random_exponential; off by default for deterministic tests."""

    max_attempts: int = 3
    base_delay: float = 0.0      # seconds; 0 for deterministic tests
    max_delay: float = 60.0
    backoff: float = 2.0
    retry_on: tuple[str, ...] | None = None
    jitter: bool = False

    def delay(self, attempt: int) -> float:
        cap = min(self.max_delay, self.base_delay * (self.backoff ** attempt))
        if self.jitter and cap > 0:
            return random.uniform(0, cap)
        return cap

    def should_retry(self, exc: BaseException) -> bool:
        if self.retry_on is None:
            return True
        mro_names = {c.__name__ for c in type(exc).__mro__}
        return bool(mro_names & set(self.retry_on))

    @classmethod
    def openai(cls) -> "RetryPolicy":
        """request/openai.py:22-26."""
        return cls(max_attempts=100, base_delay=2.0, max_delay=60.0,
                   backoff=2.0, jitter=True,
                   retry_on=("RateLimitError", "InternalServerError",
                             "APIError"))

    @classmethod
    def google(cls) -> "RetryPolicy":
        """request/google.py:31-35 (retries any Exception)."""
        return cls(max_attempts=10, base_delay=2.0, max_delay=60.0,
                   backoff=2.0, jitter=True, retry_on=None)

    @classmethod
    def local(cls) -> "RetryPolicy":
        """request/local.py:24-28."""
        return cls(max_attempts=30, base_delay=2.0, max_delay=60.0,
                   backoff=2.0, jitter=True,
                   retry_on=("JSONDecodeError", "HTTPError"))


class LLMClient:
    """Protocol: ``complete(prompt) -> str``, raising on a failed call.
    Callers go through ``llm_op._call_and_parse`` (retries, metering,
    parsing); a client may carry its own ``retry_policy``."""

    def complete(self, prompt: str) -> str:  # pragma: no cover - interface
        raise NotImplementedError


class HashEchoClient(LLMClient):
    """Deterministic fallback mock: prompt-hash → templated completion with a
    well-formed fenced block, so parsers always succeed (FIXTURES.md A9)."""

    def complete(self, prompt: str) -> str:
        h = hashlib.sha256(prompt.encode()).hexdigest()[:12]
        return f"```markdown\n# Echo {h}\n```"


# ---------------------------------------------------------------------------
# Deterministic V1 QA mock: behaves like an extractive QA model over the
# planted-fact fixtures (FIXTURES.md A1), so the full chunk→map→collapse→
# reduce pipeline produces exactly checkable answers.
# ---------------------------------------------------------------------------

_SECRET_RE = re.compile(r"secret key for document (\d+) is (SK-\d+)")
_QUESTION_RE = re.compile(r"What is the secret key for document (\d+)\?")
_ANSWER_BLOCK_RE = re.compile(
    r"Answer:\s*(.+?)\s*(?:\n|$).*?Confidence Score:\s*([0-9.]+)", re.DOTALL
)


def _found_block(answer: str, conf: float) -> str:
    return (
        f"Extracted Information: The relevant fact is {answer}.\n"
        f"Rationale: The passage states it explicitly.\n"
        f"Answer: {answer}\n"
        f"Confidence Score: {conf:g}"
    )


_NOT_FOUND_BLOCK = (
    "Extracted Information: None.\n"
    "Rationale: The passage does not mention the requested fact.\n"
    "Answer: [NO INFORMATION]\n"
    "Confidence Score: 1"
)


class MockQAClient(LLMClient):
    """Routes on the V1 prompt templates (config/qa.yaml):

    - map prompt  → extract the planted ``SK-…`` secret for the asked doc id
      from the chunk, or emit the ``[NO INFORMATION]`` block;
    - collapse prompt → merge structured blocks, keep the highest-confidence
      non-empty answer (what the real model is instructed to do);
    - reduce prompt → final ``Rationale:/Answer:`` block.

    Anything else falls through to :class:`HashEchoClient` semantics.
    """

    def complete(self, prompt: str) -> str:
        qm = _QUESTION_RE.search(prompt)
        if "Extract Relevant Information" in prompt:        # map
            if qm:
                for m in _SECRET_RE.finditer(prompt):
                    if m.group(1) == qm.group(1):
                        return _found_block(m.group(2), 5)
            return _NOT_FOUND_BLOCK
        if "Integrate Extracted Information" in prompt:     # collapse
            best, best_conf = None, -1.0
            for m in _ANSWER_BLOCK_RE.finditer(prompt):
                ans, conf = m.group(1).strip(), float(m.group(2))
                if "[NO INFORMATION]" in ans.upper():
                    continue
                if conf > best_conf:
                    best, best_conf = ans, conf
            if best is None:
                return _NOT_FOUND_BLOCK
            return _found_block(best, best_conf)
        if "Information from chunks" in prompt:             # reduce
            best, best_conf = None, -1.0
            for m in _ANSWER_BLOCK_RE.finditer(prompt):
                ans, conf = m.group(1).strip(), float(m.group(2))
                if "[NO INFORMATION]" in ans.upper():
                    continue
                if conf > best_conf:
                    best, best_conf = ans, conf
            answer = best if best is not None else "[NO INFORMATION]"
            return f"Rationale: Merged evidence across chunks.\nAnswer: {answer}"
        return HashEchoClient().complete(prompt)


class ChattyQAClient(MockQAClient):
    """MockQAClient with padded map replies (~100 extra tokens each — small
    enough that one reply still fits the collapse budget), so several
    surviving chunks together overflow it and the V1 A1 loop actually runs —
    the terse mock's outputs never trip it.  Test-only: exercises the
    collapse path (and its StageMetrics accumulation) e2e."""

    def complete(self, prompt: str) -> str:
        out = super().complete(prompt)
        if "Extract Relevant Information" in prompt and "[NO INFORMATION]" not in out:
            return out + "\nContext recap:" + " pad" * 100
        return out


class MockDedupClient(LLMClient):
    """Cooperative A10 fact-dedup mock (atomic_facts.py get_deduplication
    prompt contract): given a numbered fact list, replies with the 1-based
    indices of later exact (whitespace/case-normalized) duplicates."""

    def complete(self, prompt: str) -> str:
        if "[DEDUP]" in prompt:
            facts = re.findall(r"^\d+\. (.*)$", prompt, re.MULTILINE)
            seen: set[str] = set()
            drop: list[str] = []
            for i, f in enumerate(facts):
                key = " ".join(f.lower().split())
                if key in seen:
                    drop.append(str(i + 1))
                else:
                    seen.add(key)
            return ", ".join(drop) if drop else "none"
        return HashEchoClient().complete(prompt)


class FlakyClient(LLMClient):
    """Test double: fails the first ``n_failures`` calls per prompt, then
    delegates — exercises the retry + dead-letter path (D8/D13)."""

    def __init__(self, inner: LLMClient, n_failures: int = 1,
                 fail_marker: str | None = None):
        self.inner = inner
        self.n_failures = n_failures
        self.fail_marker = fail_marker
        self._counts: dict[str, int] = {}

    def complete(self, prompt: str) -> str:
        if self.fail_marker is not None and self.fail_marker in prompt:
            raise RuntimeError("permanent mock failure")
        key = hashlib.sha256(prompt.encode()).hexdigest()
        seen = self._counts.get(key, 0)
        if seen < self.n_failures:
            self._counts[key] = seen + 1
            raise RuntimeError(f"transient mock failure #{seen + 1}")
        return self.inner.complete(prompt)


class OpenAICompatClient(LLMClient):
    """Production client for any OpenAI-compatible endpoint (vLLM, etc.).

    Import-gated: the ``openai`` package is optional in this environment.
    Retries are handled by the operator layer's RetryPolicy; ``provider``
    selects the reference envelope (``"openai"`` → 100 attempts on
    rate-limit/5xx, ``"google"`` → 10 on anything, ``"local"`` → 30 on
    decode/HTTP errors — vLLM and Gemini-behind-OpenAI-compat endpoints
    surface the same OpenAI exception types, so pick by BACKEND behavior).
    Operators that receive no explicit policy use ``self.retry_policy``.
    """

    def __init__(self, model: str, base_url: str | None = None,
                 api_key: str | None = None, max_tokens: int = 300,
                 temperature: float = 0.0, timeout: float = 120.0,
                 provider: str = "openai"):
        try:
            from openai import OpenAI  # type: ignore
        except ImportError as e:  # pragma: no cover
            raise ImportError(
                "OpenAICompatClient requires the 'openai' package; use a mock "
                "client for offline runs"
            ) from e
        self._client = OpenAI(base_url=base_url, api_key=api_key, timeout=timeout)
        self.model = model
        self.max_tokens = max_tokens
        self.temperature = temperature
        presets = {"openai": RetryPolicy.openai, "google": RetryPolicy.google,
                   "local": RetryPolicy.local}
        if provider not in presets:
            raise ValueError(f"unknown provider preset: {provider!r}")
        self.retry_policy = presets[provider]()

    def complete(self, prompt: str) -> str:  # pragma: no cover - needs network
        resp = self._client.chat.completions.create(
            model=self.model,
            messages=[{"role": "user", "content": prompt}],
            max_tokens=self.max_tokens,
            temperature=self.temperature,
        )
        return resp.choices[0].message.content or ""


def call_with_retry(client: LLMClient, prompt: str,
                    policy: RetryPolicy) -> tuple[str | None, str | None, int]:
    """(reply, error, attempts) — the error-sentinel contract (D8,
    async_d/node/node.py:243-272): after ``max_attempts`` failures the row
    flows on with ``llm_ok=false`` instead of killing the job."""
    err = None
    for attempt in range(policy.max_attempts):
        try:
            return client.complete(prompt), None, attempt + 1
        except Exception as e:  # noqa: BLE001 - sentinel semantics
            err = f"{type(e).__name__}: {e}"
            if not policy.should_retry(e):
                return None, err, attempt + 1
            d = policy.delay(attempt)
            if d:
                time.sleep(d)
    return None, err, policy.max_attempts
