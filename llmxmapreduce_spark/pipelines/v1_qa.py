"""V1 long-document QA pipeline: chunk → map → filter → collapse* → reduce.

Reference: LLMxMapReduce_V1/pipeline.py:30-43 (BasePipeline.run), with

- chunking C1/C2 — Generator.py:234-299 (operators/chunker.py)
- map L1        — Generator.py:86-116 + config/qa.yaml map_prompt
- filter P1     — pipeline.py:10-27 remove_chunk
- collapse A1/L2 — Generator.py:336-393 mr_collapse (the data-dependent
  while-loop runs per document, bounded by ``max_collapse_rounds``, in one
  ``applyInPandas`` pass, so every document converges independently)
- reduce A2/L3  — Generator.py:395-419 mr_reduce

Spark shape (SURVEY.md §3.1): documents → chunks (posexplode_outer) →
mapInPandas(L1) → [per-doc applyInPandas: P1 + the A1/L2 loop + the
chunk labels] → mapInPandas(L3) → answers, one row per document.  Every
LLM call is Arrow-batched on an executor, the caller's documents are read
once, and nothing is collected to the driver.

The prompts keep the reference's routing markers and output contract
(Extracted Information / Rationale / Answer / Confidence Score) in a
condensed form — the full prompt text is model configuration, not engine
semantics.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.functions import text as X
from llmxmapreduce_spark.llm.client import LLMClient, RetryPolicy
from llmxmapreduce_spark.operators import chunker
from llmxmapreduce_spark.operators.llm_op import (
    LLMMetrics,
    _call_and_parse,
    _resolve_retry,
    llm_stage,
    llm_stage_cached,
)
from llmxmapreduce_spark.operators.stage_metrics import StageRun

MAX_NEW_TOKENS = 300  # gen_args.get('max_tokens', 300), Generator.py:350

MAP_PROMPT = (
    "You are provided with a portion of an article and a question.\n"
    "Article:\n{context}\n\nQuestion:\n{question}\n\n"
    "Instructions: 1. Extract Relevant Information from the passage. "
    "2. Provide a Rationale. 3. Answer the Question — if the passage has no "
    "relevant information, output \"[NO INFORMATION]\" as the answer. "
    "4. Assign a Confidence Score (out of 5).\n"
    "Please follow this format:\n\n"
    "Extracted Information:\nRationale:\nAnswer:\nConfidence Score:"
)

COLLAPSE_PROMPT = (
    "You are provided with a question and information extracted from chunks "
    "of a long document, each with Extracted Information, Rationale, Answer "
    "and a Confidence Score.\n"
    "Extracted Information:\n{context}\n\nQuestion:\n{question}\n\n"
    "Instructions: 1. Integrate Extracted Information, weighing confidence "
    "scores. 2. Analyze. 3. Answer the Question (\"[NO INFORMATION]\" if "
    "unanswerable). 4. Assign Confidence Score (out of 5).\n"
    "Please follow this format:\n\n"
    "Extracted Information:\nRationale:\nAnswer:\nConfidence Score:"
)

REDUCE_PROMPT = (
    "You are provided with a question and information extracted from chunks "
    "of a long document.\n"
    "Question:\n{question}\n\nInformation from chunks:\n{context}\n\n"
    "Integrate the information, weighing confidence scores to resolve "
    "inconsistencies, then provide the final answer.\n"
    "Please follow this format:\n\nRationale:\nAnswer:"
)

_TEXT_PAYLOAD = [T.StructField("text", T.StringType(), True)]

# the answer row of a document with nothing informative left to reduce
NO_INFORMATION_REPLY = f"Rationale: no informative chunks.\nAnswer: {X.NO_INFORMATION}"


def _informative(question: str, text: str) -> bool:
    """P1 with the per-row question escape hatch (pipeline.py:19-20)."""
    marker = X.NO_INFORMATION.upper()
    return marker in question.upper() or marker not in text.upper()


def _chunk_information(texts: list[str]) -> str:
    """The labelled join that the collapse budget measures and the reduce
    prompt reads (Generator.py:311-331)."""
    return "".join(f"Information of Chunk {i}:\n{t}\n" for i, t in enumerate(texts))


def _collapse(
    state: DataFrame,
    template: str,
    token_max: int,
    length_fn: chunker.LengthFn,
    client_factory: Callable[[], LLMClient],
    retry: RetryPolicy | None,
    metrics: LLMMetrics | None,
    max_rounds: int,
) -> DataFrame:
    """A1/L2 as one per-document pass: ``state`` (doc_id, chunk_id,
    question, text, llm_ok) → (doc_id, question, context), where
    ``context`` is the reduce's labelled join, or null when nothing
    informative is left.  Each document filters its map replies (P1) and
    runs mr_collapse's loop at most ``max_rounds`` times: while the join
    is over ``token_max``, pack (utils.py:61-90), merge each pack, filter.
    The explicit partition count keeps the model calls on every core (AQE
    would coalesce a small count-less shuffle into a task or two)."""
    retry = _resolve_retry(client_factory, retry)
    schema = T.StructType([state.schema["doc_id"], state.schema["question"],
                           T.StructField("context", T.StringType(), True)])

    def fmt_len(texts: list[str]) -> int:
        return length_fn(_chunk_information(texts))

    def collapse_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("chunk_id")
        question = pdf["question"].iloc[0]
        texts = [t for ok, t in zip(pdf["llm_ok"], pdf["text"])
                 if ok and _informative(question, t)]
        client = None
        for _ in range(max_rounds):
            if fmt_len(texts) <= token_max:
                break
            client = client or client_factory()
            replies = [
                _call_and_parse(
                    client, template.format(context="\n\n".join(group),  # join_docs
                                            question=question),
                    lambda reply: {"text": reply}, ["text"], retry, metrics)
                for group in chunker.split_list_of_docs(texts, fmt_len, token_max)
            ]
            texts = [p["text"] for p, ok, _, _ in replies
                     if ok and _informative(question, p["text"])]
        return pd.DataFrame({
            "doc_id": [pdf["doc_id"].iloc[0]], "question": [question],
            "context": [_chunk_information(texts) if texts else None]})

    n_tasks = int(state.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (state.repartition(n_tasks, "doc_id").groupBy("doc_id")
            .applyInPandas(collapse_doc, schema=schema))


def run_v1_qa(
    docs: DataFrame,
    chunk_size: int,
    client_factory: Callable[[], LLMClient],
    length_fn: chunker.LengthFn = chunker.bpe_ish_len,
    max_collapse_rounds: int = 8,
    retry: RetryPolicy | None = None,
    prompts: dict[str, str] | None = None,
    stage_metrics=None,
    llm_cache_dir: str | None = None,
) -> DataFrame:
    """``docs``: (doc_id, context, question) → (doc_id, answer, raw_reply),
    one row per document.  A document with no informative chunk left (an
    empty one too) answers ``[NO INFORMATION]`` without a reduce call.

    ``chunk_size`` is the model context budget in tokens (reference default
    4096); the map budget subtracts the prompt, the question, and
    MAX_NEW_TOKENS exactly as Generator.py:236-240 does.  ``length_fn``
    counts every token: the chunker's, the question's in the map budget
    and the collapse budget's.

    ``prompts``: optional ``{"map": …, "collapse": …, "reduce": …}``
    templates with ``{context}``/``{question}`` slots — pass
    ``llmxmapreduce_spark.prompts.v1_prompts("qa")`` (or any of the six
    reference task configs) for verbatim reference prompt texts; the
    condensed defaults remain the deterministic mock contract.  The budget
    arithmetic automatically reflects the chosen prompt lengths.

    ``stage_metrics``: optional
    :class:`~llmxmapreduce_spark.operators.stage_metrics.StageMetrics` —
    attaches zero-job rows-out observations and per-stage LLM accumulators
    for the chunk/map/collapse/reduce stages, and wall times that tile the
    call at the map, collapse and reduce cuts (D10 report parity).

    ``llm_cache_dir``: optional prompt-hash result cache root
    (:func:`~llmxmapreduce_spark.operators.llm_op.llm_stage_cached`) —
    the map and reduce stages then replay unchanged (doc, question)
    work from ``{dir}/map`` / ``{dir}/reduce`` instead of re-calling
    the model (per-stage subdirs because the payload schemas differ).
    The collapse stage stays uncached on purpose: its inputs are
    intermediate merges that only repeat on byte-identical re-runs.
    Each cached stage is one pass over its input — cache join, hash
    repartition, one model/replay ``mapInPandas`` — whose eager frame
    also feeds the cache append.  Rows with no prompt (an empty document,
    a document with nothing to reduce) are never sent and never cached.

    Retention: the call cuts the map rows, one collapsed row per document
    and the returned answers, the only frame the call leaves pinned
    (nothing on an error).  Each cut inside the call is released once its
    last reader is cut.  A caller that wraps the call in
    ``retention.owned()`` gets the returned frame's id, to release once
    it has read the result, even while other requests share the session.
    """
    map_tmpl = (prompts or {}).get("map", MAP_PROMPT)
    collapse_tmpl = (prompts or {}).get("collapse", COLLAPSE_PROMPT)
    reduce_tmpl = (prompts or {}).get("reduce", REDUCE_PROMPT)
    map_prompt_len = length_fn(map_tmpl)
    collapse_prompt_len = length_fn(collapse_tmpl)

    with StageRun(docs.sparkSession, stage_metrics) as run:
        # --- C1/C2 chunk ---------------------------------------------------
        chunks = run.rows("chunk", chunker.chunk_documents(
            docs, id_col="doc_id", text_col="context",
            budget_col=F.lit(chunk_size - map_prompt_len - MAX_NEW_TOKENS),
            length_fn=length_fn, reserve_col="question",
        ))

        # --- L1 map --------------------------------------------------------
        def map_or_cached(df, stage, **kw):
            """``llm_stage``, replayed from ``{llm_cache_dir}/{stage}``
            when a cache is given."""
            kw.update(client_factory=client_factory, retry=retry,
                      metrics=run.llm(stage))
            if llm_cache_dir is None:
                return llm_stage(df, **kw)
            return llm_stage_cached(
                df, cache_dir=os.path.join(llm_cache_dir, stage), **kw)

        mapped = map_or_cached(
            chunks, "map",
            build_prompt=lambda r: None if r["text"] is None else map_tmpl.format(
                context=r["text"], question=r["question"]),
            parse=lambda reply: {"text": reply},
            payload_fields=_TEXT_PAYLOAD,
            keep_cols=["doc_id", "chunk_id", "question"],
        )
        # Every chunk row stays, so the collapse pass sees each document
        # (P1 runs there) and the result needs no join back to `docs`.
        state = run.cut("map", mapped.select(
            "doc_id", "chunk_id", "question", "text", "llm_ok"))

        # --- A1/L2 collapse -------------------------------------------------
        # token budget per merged group (Generator.py:347-350)
        token_max = chunk_size - collapse_prompt_len - MAX_NEW_TOKENS
        state = run.cut("collapse", _collapse(
            state, collapse_tmpl, token_max, length_fn, client_factory, retry,
            run.llm("collapse"), max_collapse_rounds), supersedes=(state,))

        # --- A2/L3 reduce ----------------------------------------------------
        reduced = map_or_cached(
            state, "reduce",
            build_prompt=lambda r: None if r["context"] is None else reduce_tmpl.format(
                context=r["context"], question=r["question"]),
            parse=lambda reply: {"raw_reply": reply},
            payload_fields=[T.StructField("raw_reply", T.StringType(), True)],
            keep_cols=["doc_id"],
        )
        # A document whose every map/collapse output was filtered (all
        # [NO INFORMATION] or all llm_ok=false) still answers — the
        # reference runs mr_reduce regardless and the answer scores 0;
        # dropping it would silently inflate eval denominators (v1_eval).
        return run.result("reduce", reduced.select(
            "doc_id",
            F.coalesce(X.extract_answer(F.col("raw_reply")),
                       F.lit(X.NO_INFORMATION)).alias("answer"),
            F.coalesce(F.col("raw_reply"), F.lit(NO_INFORMATION_REPLY)
                       ).alias("raw_reply"),
        ))
