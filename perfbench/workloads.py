"""The benchmark's workloads.  Each drives the program only through its
public functions and checks every output it gets back.

Why these two (also recorded in BENCHMARK.json):

- ``qa_refresh`` is V1 batch throughput: one batch over many long
  documents through the chunker, the Arrow ``llm_stage`` and the collapse
  shuffles, with the prompt cache on and restored before every request to
  a snapshot that holds half of the documents, so both hit reads and the
  miss dedupe + append path run.  Its model has a small fixed latency and
  fails a seeded 2% of first attempts, so model-call concurrency and the
  retry path are measured too.
- ``survey_refdefaults`` is the paper's main algorithm (V2) at the
  reference's shipped algorithm knobs with every engine knob at its
  default: bound by the driver-side iterative loop of small jobs; it
  bypasses V1, the chunker and the cache.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
from dataclasses import dataclass

from pyspark.sql import functions as F

from llmxmapreduce_spark.functions import text as X
from llmxmapreduce_spark.llm.client import ChattyQAClient
from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
from llmxmapreduce_spark.operators import chunker
from llmxmapreduce_spark.pipelines import v1_qa
from llmxmapreduce_spark.pipelines import v2_survey as v2
from llmxmapreduce_spark.retention import pinned_ids, release

from perfbench import inputs
from perfbench.model import factory

CHUNK_SIZE = 600   # model context in tokens: several chunks per document


@dataclass
class Outcome:
    items: int      # documents (QA) or papers (survey) in the request
    correct: int    # items whose output passed the check
    failed: int     # items that raised or came back without an LLM result


class Workload:
    name = ""
    pipeline = ""        # span name of the pipeline call
    stage_prefix = ""    # span name prefix of the pipeline's stages
    tail_stage = ""      # the lazy stage after the last eager boundary

    def __init__(self, spark, seed: int, workdir: str, counters):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.counters = counters
        self.rng = random.Random(seed)

    def generate(self) -> None:
        """Build the inputs from the seed (timed as set-up)."""

    def warmup(self) -> None:
        """Run the pipeline until lazy set-up is done (timed as set-up)."""

    def prepare(self) -> None:
        """Untimed hygiene before each request."""

    def run(self, stage_metrics=None) -> list:
        """One request: call the pipeline and collect its rows."""
        raise NotImplementedError

    def check(self, rows: list) -> Outcome:
        raise NotImplementedError

    def items(self) -> int:
        raise NotImplementedError

    def layers(self, tracer, request: str) -> dict:
        """Traced requests only: extra layer calls timed from outside."""
        return {}


class QARefresh(Workload):
    name = "qa_refresh"
    pipeline = "pipeline.run_v1_qa"
    stage_prefix, tail_stage = "v1_qa", "reduce"
    n_docs = 32
    latency_s = 0.005
    fail_rate = 0.02

    def generate(self) -> None:
        self.docs = inputs.qa_docs(self.rng, 0, self.n_docs)
        self.df = inputs.docs_frame(self.spark, self.docs)
        self.half_df = inputs.docs_frame(self.spark, self.docs[: self.n_docs // 2])
        self.client = factory(ChattyQAClient, self.counters, self.latency_s,
                              self.fail_rate, self.seed)
        self.snapshot = os.path.join(self.workdir, "cache_snapshot")
        self.cache_dir = os.path.join(self.workdir, "cache")

    def _answer(self, docs_df, cache_dir: str, stage_metrics=None) -> list:
        out = v1_qa.run_v1_qa(docs_df, chunk_size=CHUNK_SIZE,
                              client_factory=self.client,
                              stage_metrics=stage_metrics,
                              llm_cache_dir=cache_dir)
        return out.collect()

    def _require(self, rows: list, docs: list[inputs.QADoc]) -> None:
        if _check_answers(rows, docs).correct != len(docs):
            raise RuntimeError(f"{self.name}: warm-up answers are wrong")

    def warmup(self) -> None:
        # the pre-warmed snapshot: the cache as it stood after a batch over
        # the first half of the documents
        sc = self.spark.sparkContext
        pinned = pinned_ids(sc)
        half = self.n_docs // 2
        self._require(self._answer(self.half_df, self.snapshot), self.docs[:half])
        release(sc, pinned_ids(sc) - pinned)
        # that batch ran on an empty cache; one request as measured warms
        # the hit/miss plans, which a first request would otherwise pay
        # for with about half again its steady time
        self.prepare()
        self._require(self.run(), self.docs)

    def prepare(self) -> None:
        shutil.rmtree(self.cache_dir, ignore_errors=True)
        shutil.copytree(self.snapshot, self.cache_dir)

    def run(self, stage_metrics=None) -> list:
        return self._answer(self.df, self.cache_dir, stage_metrics)

    def check(self, rows: list) -> Outcome:
        return _check_answers(rows, self.docs)

    def items(self) -> int:
        return self.n_docs

    def layers(self, tracer, request: str) -> dict:
        """Times one standalone ``chunk_documents`` call over the request's
        documents, with the budget ``run_v1_qa`` gives it, and reads the
        cache as the request left it."""
        budget = (F.lit(CHUNK_SIZE - chunker.bpe_ish_len(v1_qa.MAP_PROMPT)
                        - v1_qa.MAX_NEW_TOKENS)
                  - X.token_count_bpe_ish(F.col("question")))
        with tracer.span("chunker.chunk_documents", request=request) as sid:
            chunks = chunker.chunk_documents(
                self.df.withColumn("budget", budget), id_col="doc_id",
                text_col="context", budget_col="budget").drop("budget")
            n_chunks = chunks.agg(F.count(F.lit(1))).first()[0]
        span = tracer.spans[sid]
        return {"chunker.s": span["end"] - span["start"], "chunks": n_chunks,
                "cache.rows_before": _parquet_rows(self.snapshot),
                "cache.rows_after": _parquet_rows(self.cache_dir),
                "cache.bytes_after": _dir_bytes(self.cache_dir)}


def _check_answers(rows: list, docs: list[inputs.QADoc]) -> Outcome:
    """Every document answered once, with its planted key."""
    got = {r["doc_id"]: r["answer"] for r in rows}
    correct = sum(1 for d in docs if got.get(d.doc_id) == d.key)
    failed = sum(1 for d in docs if got.get(d.doc_id) in (None, X.NO_INFORMATION))
    if len(rows) != len(docs):
        correct = min(correct, len(rows))
    return Outcome(len(docs), correct, failed)


# the reference's shipped algorithm knobs (LLMxMapReduce_V2 args.py and
# scripts/pipeline_start.sh); every engine knob keeps its V2Config default
REFERENCE_KNOBS = dict(conv_layers=6, receptive_field=3, result_num=10,
                       top_k=6, refine_rounds=3, best_of=3, block_count=1)

_CITATION_RE = re.compile(r"\[([^\]]*)\]")


class SurveyRefDefaults(Workload):
    name = "survey_refdefaults"
    pipeline = "pipeline.run_v2_survey"
    stage_prefix, tail_stage = "v2_survey", "decode"
    n_surveys, n_papers = 8, 32

    def generate(self) -> None:
        self.rows = inputs.surveys(self.rng, self.n_surveys, self.n_papers)
        self.df = inputs.surveys_frame(self.spark, self.rows)
        self.cfg = v2.V2Config(**REFERENCE_KNOBS)
        self.client = factory(MockSurveyClient, self.counters)
        self.fingerprint: str | None = None

    def warmup(self) -> None:
        # the measured request itself, cold: a request's cost is mostly its
        # fixed driver-side jobs, so a smaller warm-up would save little,
        # and this one gives the fingerprint every request must reproduce
        rows = self.run()
        if _surveys_correct(rows, self.rows) != self.n_surveys:
            raise RuntimeError(f"{self.name}: warm-up survey failed its check")
        self.fingerprint = survey_fingerprint(rows)

    def run(self, stage_metrics=None) -> list:
        return v2.run_v2_survey(self.df, self.client, self.cfg,
                                stage_metrics=stage_metrics).collect()

    def items(self) -> int:
        return self.n_surveys * self.n_papers

    def check(self, rows: list) -> Outcome:
        """Every survey passes ``_surveys_correct`` and the output is
        identical to the warm-up's, and so to every other request's."""
        good = _surveys_correct(rows, self.rows)
        if survey_fingerprint(rows) != self.fingerprint:
            good = 0
        missing = len({sid for sid, _, _ in self.rows} - {r["survey_id"] for r in rows})
        return Outcome(self.items(), good * self.n_papers, missing * self.n_papers)


def _surveys_correct(rows: list, inputs_rows: list[tuple]) -> int:
    """Surveys with exactly one output row whose ``n_papers`` equals the
    input, every citation naming an input paper, ``n_sections`` >= 1 and
    ``cite_ratio`` in [0, 1]."""
    expect = {sid: len(papers) for sid, _, papers in inputs_rows}
    by_id = {r["survey_id"]: r for r in rows}
    if len(rows) != len(by_id) or set(by_id) - set(expect):
        return 0
    good = 0
    for sid, n in expect.items():
        r = by_id.get(sid)
        if (r is not None and r["n_papers"] == n and r["n_sections"] >= 1
                and r["cite_ratio"] is not None
                and 0.0 <= r["cite_ratio"] <= 1.0
                and _citations_valid(r["content_md"], n)):
            good += 1
    return good


def _citations_valid(md: str | None, n_papers: int) -> bool:
    """Decoded citations are ``[i,j]`` indices into the survey's paper
    list; anything else in brackets names no input paper."""
    if not md:
        return False
    for group in _CITATION_RE.findall(md):
        for tok in group.split(","):
            tok = tok.strip()
            if not tok.isdigit() or not 1 <= int(tok) <= n_papers:
                return False
    return True


def survey_fingerprint(rows: list) -> str:
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["survey_id"]):
        h.update(repr((r["survey_id"], r["content_md"], r["n_sections"],
                       r["n_papers"], r["cite_ratio"])).encode())
    return h.hexdigest()


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(base, f)).num_rows
    return total


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(base, f))
               for base, _, files in os.walk(path) for f in files)


WORKLOADS = {w.name: w for w in (QARefresh, SurveyRefDefaults)}
