"""V1 long-document QA pipeline: chunk → map → filter → collapse* → reduce.

Reference: LLMxMapReduce_V1/pipeline.py:30-43 (BasePipeline.run), with

- chunking C1/C2 — Generator.py:234-299 (operators/chunker.py)
- map L1        — Generator.py:86-116 + config/qa.yaml map_prompt
- filter P1     — pipeline.py:10-27 remove_chunk
- collapse A1/L2 — Generator.py:336-393 mr_collapse (the data-dependent
  while-loop becomes a bounded driver loop; per-document bin-packing via
  ``applyInPandas`` so every document converges independently)
- reduce A2/L3  — Generator.py:395-419 mr_reduce

Spark shape (SURVEY.md §3.1): documents → chunks (posexplode) →
mapInPandas(L1) → filter(P1) → [driver loop: per-doc regroup +
mapInPandas(L2) + filter] → groupBy(doc).collect_list → mapInPandas(L3) →
answers.  Every LLM call is Arrow-batched; the only driver-side values are
the loop-termination aggregates (one count per round).

The prompts keep the reference's routing markers and output contract
(Extracted Information / Rationale / Answer / Confidence Score) in a
condensed form — the full prompt text is model configuration, not engine
semantics.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.functions import text as X
from llmxmapreduce_spark.llm.client import LLMClient, RetryPolicy
from llmxmapreduce_spark.operators import chunker
from llmxmapreduce_spark.operators.llm_op import llm_stage, llm_stage_cached
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


def _keep_informative(df: DataFrame, text_col: str = "text") -> DataFrame:
    """P1 with the per-row question escape hatch (pipeline.py:19-20)."""
    marker = X.NO_INFORMATION.upper()
    return df.filter(
        F.upper(F.col("question")).contains(marker)
        | ~F.upper(F.col(text_col)).contains(marker)
    )


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
    """``docs``: (doc_id, context, question) → (doc_id, answer, raw_reply).

    ``chunk_size`` is the model context budget in tokens (reference default
    4096); the map budget subtracts the prompt, the question, and
    MAX_NEW_TOKENS exactly as Generator.py:236-240 does.

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
    also feeds the cache append.

    Retention: the returned frame is an eager checkpoint, the only frame
    the call leaves pinned (nothing on an error).  Each cut inside the
    call is released once its last reader is cut.  A caller that wraps
    the call in ``retention.owned()`` gets the returned frame's id, to
    release once it has read the result, even while other requests share
    the session.
    """
    map_tmpl = (prompts or {}).get("map", MAP_PROMPT)
    collapse_tmpl = (prompts or {}).get("collapse", COLLAPSE_PROMPT)
    reduce_tmpl = (prompts or {}).get("reduce", REDUCE_PROMPT)
    map_prompt_len = length_fn(map_tmpl)
    collapse_prompt_len = length_fn(collapse_tmpl)

    with StageRun(docs.sparkSession, stage_metrics) as run:
        # --- C1/C2 chunk ---------------------------------------------------
        budget = (
            F.lit(chunk_size - map_prompt_len - MAX_NEW_TOKENS)
            - X.token_count_bpe_ish(F.col("question"))
        )
        chunks = run.rows("chunk", chunker.chunk_documents(
            docs.withColumn("budget", budget),
            id_col="doc_id", text_col="context", budget_col="budget",
            length_fn=length_fn,
        ).drop("budget"))

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
            build_prompt=lambda r: map_tmpl.format(context=r["text"], question=r["question"]),
            parse=lambda reply: {"text": reply},
            payload_fields=_TEXT_PAYLOAD,
            keep_cols=["doc_id", "chunk_id", "question"],
        )
        # The collapse gate (`over.isEmpty`), the reduce path and a round's
        # keep/merge branches all read `state`: without this cut the map
        # LLM stage ran 2-3× (the map accumulator showed 1804 calls for 902
        # chunks on the sf0.01 documents).  The cut runs it once.
        state = run.cut("map", _keep_informative(mapped.filter("llm_ok")).select(
            "doc_id", "chunk_id", "question", "text"
        ))

        # --- A1/L2 collapse loop --------------------------------------------
        # token budget per merged group (Generator.py:347-350)
        token_max = chunk_size - collapse_prompt_len - MAX_NEW_TOKENS

        pack_schema = T.StructType([
            T.StructField("doc_id", docs.schema["doc_id"].dataType, False),
            T.StructField("group_id", T.IntegerType(), False),
            T.StructField("question", T.StringType(), True),
            T.StructField("context", T.StringType(), True),
        ])

        def pack(pdf: pd.DataFrame) -> pd.DataFrame:
            """Per-doc greedy bin-packing (utils.py:61-90) with the reference's
            formatted-length measure (Generator.py:311-316)."""
            pdf = pdf.sort_values("chunk_id")
            texts = list(pdf["text"])

            def fmt_len(docs_list: list[str]) -> int:
                joined = "".join(
                    f"Information of Chunk {i}:\n{d}\n" for i, d in enumerate(docs_list)
                )
                return length_fn(joined)

            groups = chunker.split_list_of_docs(texts, fmt_len, token_max)
            rows = [
                {"doc_id": pdf["doc_id"].iloc[0], "group_id": gid,
                 "question": pdf["question"].iloc[0],
                 "context": "\n\n".join(group)}          # join_docs, Generator.py:320-323
                for gid, group in enumerate(groups)
            ]
            return pd.DataFrame(rows, columns=[f.name for f in pack_schema.fields])

        w = Window.partitionBy("doc_id").orderBy("chunk_id")
        for _ in range(max_collapse_rounds):
            cur = state.withColumn("__idx", F.row_number().over(w) - 1).withColumn(
                "__tok",
                X.token_count_bpe_ish(X.format_chunk_information(F.col("__idx"), F.col("text"))),
            )
            totals = cur.groupBy("doc_id").agg(F.sum("__tok").alias("__total"))
            over = totals.filter(F.col("__total") > token_max).select("doc_id")
            if over.isEmpty():
                break
            ok_chunks = cur.join(over, "doc_id", "left_anti").select(
                "doc_id", "chunk_id", "question", "text"
            )
            over_chunks = cur.join(over, "doc_id", "left_semi")
            packed = over_chunks.select("doc_id", "chunk_id", "question", "text") \
                .groupBy("doc_id").applyInPandas(pack, schema=pack_schema)
            merged = llm_stage(
                packed,
                build_prompt=lambda r: collapse_tmpl.format(
                    context=r["context"], question=r["question"]),
                parse=lambda reply: {"text": reply},
                client_factory=client_factory,
                payload_fields=_TEXT_PAYLOAD,
                keep_cols=["doc_id", "group_id", "question"],
                retry=retry,
                metrics=run.llm("collapse"),
            )
            new_chunks = _keep_informative(merged.filter("llm_ok")).select(
                "doc_id", F.col("group_id").alias("chunk_id"), "question", "text"
            )
            # cut the per-round lineage so the loop's plan doesn't grow
            # superlinearly (bounded driver loop, SURVEY.md §7); the round
            # is the last reader of the state it replaces
            state = run.cut("collapse", ok_chunks.unionByName(new_chunks),
                            supersedes=(state,))

        # --- A2/L3 reduce ----------------------------------------------------
        final = state.withColumn("__idx", F.row_number().over(w) - 1)
        per_doc = (
            final.withColumn("__fmt", X.format_chunk_information(F.col("__idx"), F.col("text")))
            .groupBy("doc_id", "question")
            .agg(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("__idx", "__fmt"))),
                        lambda s: s["__fmt"],
                    ),
                ).alias("context")
            )
        )
        reduced = map_or_cached(
            per_doc, "reduce",
            build_prompt=lambda r: reduce_tmpl.format(
                context=r["context"], question=r["question"]),
            parse=lambda reply: {"raw_reply": reply},
            payload_fields=[T.StructField("raw_reply", T.StringType(), True)],
            keep_cols=["doc_id"],
        )
        answers = reduced.select(
            "doc_id",
            X.extract_answer(F.col("raw_reply")).alias("answer"),
            "raw_reply",
        )
        # Documents whose every map/collapse output was filtered (all
        # [NO INFORMATION] or all llm_ok=false) must still produce a row —
        # the reference runs mr_reduce regardless and the answer scores 0;
        # dropping them would silently inflate eval denominators (v1_eval).
        return run.result("reduce", docs.select("doc_id").join(
            answers, "doc_id", "left").select(
            "doc_id",
            F.coalesce(F.col("answer"), F.lit(X.NO_INFORMATION)).alias("answer"),
            F.coalesce(F.col("raw_reply"),
                       F.lit(f"Rationale: no informative chunks.\nAnswer: {X.NO_INFORMATION}")
                       ).alias("raw_reply"),
        ))
