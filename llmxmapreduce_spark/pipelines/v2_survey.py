"""V2 survey-generation pipeline (reference: LLMxMapReduce_V2, SURVEY.md §3.2).

Stages, each a DataFrame→DataFrame operator; the reference's gevent actor
DAG becomes a chain of Spark jobs with a bounded block-cycle loop
(hidden_pipeline.py:73-85 — ``digest → skeleton_refine → re-digest`` while
``block_cycle_count < block_count``):

  surveys ─ explode → papers ─ C7 group → digest groups
    ├─ C6 batch → L5 init outlines → L6 concat → outline          (encode)
    ├─ [block cycle ×block_count:
    │     L7 per-paper digest → J1 align → A3 merge → digests     (hidden)
    │     L9 feedback → conv block (T5/L10/L11/L12/T1) →
    │     L13 self-refine → refined outline → re-digest]
    └─ decode: [write pass: L14 orchestra leaves → A6 bottom-up
          assembly → L15 polish] → [tail pass: P12/J3 renumber → A7 →
          references → S5-shape]                                  (decode)

Each stage has exactly one implementation.  The row-parallel LLM fan-outs —
L5/L6 init outlines, L7 per-paper digests, L9 feedback — are ``llm_stage``
(``mapInPandas``) operators.  The per-survey algorithms (the reference
runs each ``forward()`` per survey object) are per-survey pandas passes:
:func:`conv_refine` runs the convolution block and self-refine back to
back in ONE ``applyInPandas``, and :func:`decode_survey` is two
``cogroup`` passes, one that writes a survey's sections (leaf prose,
bottom-up summaries, polish) and one that renumbers and assembles them.
Surveys are the scale axis (thousands of independent groups on a
cluster), per-survey state is tiny (≤ result_num outlines), and
intra-survey LLM calls can fan out over ``V2Config.llm_threads`` (the
reference's per-node worker pool).  No per-survey pass has per-layer or
per-depth job barriers: a block cycle's conv→refine chain is one shuffle,
and decode is two, regardless of conv depth or tree depth.
:func:`run_v2_survey` never writes session conf: shuffles are sized by the
session's own settings.

Determinism: every shuffle the reference does with ``random.shuffle`` is a
keyed-hash order here; T5 sampling uses a per-survey seeded RandomState; the
mock client is prompt-hash deterministic — two runs are byte-identical
(tests/test_v2_pipeline.py).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.functions import text as X
from llmxmapreduce_spark.llm.client import RetryPolicy
from llmxmapreduce_spark.operators import digest_ops, grouping, sampling, skeleton
from llmxmapreduce_spark.operators.citations import renumber_citations_py
from llmxmapreduce_spark.operators.llm_op import _call_and_parse, _resolve_retry, llm_stage
from llmxmapreduce_spark.operators.stage_metrics import StageRun
from llmxmapreduce_spark.retention import checkpoint


@dataclass
class V2Config:
    digest_batch: int = 3        # --digest_group_mode batch size (args.py:18)
    skeleton_batch: int = 3      # skeleton_group_size (args.py:19)
    block_count: int = 1         # --block_count (args.py:21; shipped script
                                 # scripts/pipeline_start.sh:13 uses 1)
    conv_layers: int = 2         # --conv_layer (args.py:24, default 6)
    receptive_field: int = 2     # kernel width (args.py:25, default 3)
    result_num: int = 4          # args.py:26, default 10
    top_k: int = 3               # args.py:27, default 6
    refine_rounds: int = 1       # refine_count (args.py:28, default 3)
    best_of: int = 2             # args.py:29, default 3
    seed: int = 42
    polish: bool = True
    figures: bool = False        # L16/J5 chart stage (chart_node)
    group_mode: str = "random"   # C7: 'random' (hash) | 'llm' (L4 + repair)
    llm_threads: int = 1         # intra-survey LLM fan-out inside the
                                 # per-survey conv_refine pass and decode's
                                 # write pass (leaf prose and polish;
                                 # reference worker pool, node.py:48);
                                 # never changes the output
    full_prompts: bool = False   # use the reference's verbatim prompt texts
                                 # (prompts/prompts_{lang}.py) instead of the
                                 # condensed deterministic test templates
    prompt_lang: str = "en"      # reference PROMPT_LANGUAGE: 'en' | 'zh'
    llm_cache_dir: str | None = None
    # ^ prompt-hash result cache root (llm_op.llm_stage_cached) for the
    # per-paper digest stage — the pipeline's dominant fan-out.  A re-run
    # over unchanged papers/outlines replays digests from
    # ``{dir}/digest`` instead of re-calling the model; cycle-2 prompts
    # embed the refined outline, so they miss (and populate) naturally.
    # run_v2_survey owns the cached stage's one eager frame per pass
    # and releases it once the next digest checkpoint has read it.
    # Default off; byte-identity with the uncached path is gated by
    # tests/test_v2_cache.py.


_STR = T.StringType()
_SCORES = T.ArrayType(T.DoubleType())
_BLOCK_SCORES = T.ArrayType(_SCORES)                     # per cycle: layer avgs
_REFINE_SCORES = T.ArrayType(T.ArrayType(_SCORES))       # per cycle/round: chain scores
_POOL_SIZES = T.ArrayType(T.ArrayType(T.IntegerType()))  # per cycle: pool sizes
#   pool-size trajectory [initial, after layer 0, ...]: pooling layers
#   contract the pool by the receptive field, prune layers clamp it to top_k
#   — the externally observable proof of the convolution_module.py:80-97
#   mode transition (and the per-stage telemetry the reference's monitor
#   prints, pipeline_analyser.py:64-124).


def _payload(*names: str) -> list[T.StructField]:
    return [T.StructField(n, _STR, True) for n in names]


def _parse_fenced(reply: str) -> dict:
    """parse_md_content semantics: fenced markdown payload or raise."""
    import re

    m = re.search(r"```markdown\n(.*?)\n```", reply, re.DOTALL)
    if not m:
        raise ValueError("MdNotFoundError: no fenced markdown block")
    out = m.group(1).strip()
    if "```" in out:
        raise ValueError("MdNotFoundError: nested fence")
    return {"md": out}


def _parse_fenced_with_suggestion(reply: str) -> dict:
    import re

    out = _parse_fenced(reply)
    s = re.search(r"```suggestion\n(.*?)\n```", reply, re.DOTALL)
    out["suggestion"] = s.group(1).strip() if s else None
    return out


def _parse_suggestion(reply: str) -> dict:
    import re

    m = re.search(r"```suggestion\n(.*?)\n```", reply, re.DOTALL)
    if not m:
        raise ValueError("MdNotFoundError: no suggestion block")
    return {"suggestion": m.group(1).strip()}


def _parse_score(reply: str) -> dict:
    """EvalOutlineNeuron parse: <SCORE>x</SCORE>, bounds-checked 0-10
    (neurons.py:212-244)."""
    import re

    m = re.search(r"<SCORE>([0-9.]+)</SCORE>", reply)
    if not m:
        raise ValueError("ScoreNotFoundError")
    score = float(m.group(1))
    if not 0 <= score <= 10:
        raise ValueError(f"score out of bounds: {score}")
    return {"score": score}


def _parse_eval(reply: str) -> dict:
    """L12 eval payload: the score, plus the reply itself as the eval
    detail that the next self-refine prompt quotes."""
    return {**_parse_score(reply), "eval_detail": reply}


def _parse_text(reply: str) -> dict:
    """Section prose (L14 leaves, A6 summaries, L15 polish): the reply."""
    return {"content": reply}


# ---------------------------------------------------------------------------
# prompt templates for the row-parallel llm_stage operators and the
# per-survey applyInPandas stages.
#
# Two prompt modes (SURVEY.md §2 prompt parity):
# - condensed (default): the short deterministic templates below — the
#   test/mock contract every correctness golden hashes against.
# - full: the reference's verbatim texts (prompts/prompts_{lang}.py,
#   reference prompts_en.py:1-782), selected via
#   ``V2Config(full_prompts=True, prompt_lang=…)``.  ``_prompt_set``
#   resolves the template STRINGS on the driver; they ride into the stage
#   closures by value, so executors never consult driver-mutated globals.
# ---------------------------------------------------------------------------

_REF_PROMPT_NAMES = (
    "INIT_OUTLINE_PROMPT", "CONCAT_OUTLINE_PROMPT", "SINGLE_DIGEST_PROMPT",
    "DIGEST_BASE_PROMPT", "DIGEST_FREE_PROMPT", "OUTLINE_CONVOLUTION_PROMPT",
    "MODIFY_OUTLINE_PROMPT", "OUTLINE_ENTROPY_PROMPT", "ORCHESTRA_PROMPT",
    "SUMMARY_PROMPT", "POLISH_PROMPT",
)


def _prompt_set(cfg: "V2Config") -> dict[str, str] | None:
    """None for condensed mode; else name → verbatim reference template."""
    if not getattr(cfg, "full_prompts", False):
        return None
    from llmxmapreduce_spark import prompts as P

    return {n: P.template(n, cfg.prompt_lang) for n in _REF_PROMPT_NAMES}


def _modify_prompt(title: str, outline_md: str, content: str,
                   ps: dict[str, str] | None = None) -> str:
    if ps:
        # neurons.py:137-142 (bibkeys ride inside the digests/outline text)
        return ps["MODIFY_OUTLINE_PROMPT"].format(
            title=title, old_outline=outline_md, outlines=content)
    return (
        f"[MODIFY] Survey title: {title}\n"
        f"Outline:\n```markdown\n{outline_md}\n```\n"
        f"Suggestion:\n```suggestion\n{content}\n```\n"
        "Apply the suggestion; reply with a fenced ```markdown outline."
    )


def _eval_prompt(title: str, outline_md: str,
                 ps: dict[str, str] | None = None) -> str:
    if ps:
        return ps["OUTLINE_ENTROPY_PROMPT"].format(
            title=title, outline=outline_md)     # neurons.py:237-240
    return (
        f"[EVAL_OUTLINE] Survey title: {title}\n"
        f"Outline:\n```markdown\n{outline_md}\n```\n"
        "Score the information entropy 0-10 as <SCORE>x</SCORE>."
    )


def _kernel_prompt(title: str, joined: str,
                   ps: dict[str, str] | None = None,
                   outline_md: str = "") -> str:
    if ps:
        return ps["OUTLINE_CONVOLUTION_PROMPT"].format(
            title=title, outline=outline_md,
            suggestions=joined)                  # neurons.py:130-136
    return (
        f"[KERNEL] Survey title: {title}\n"
        f"Merge these suggestions into one:\n{joined}\n"
        "Reply with a ```suggestion block."
    )


def _refine_prompt(chain_id: int, rnd: int, title: str, outline_md: str,
                   ps: dict[str, str] | None = None,
                   eval_detail: str = "") -> str:
    if ps:
        # neurons.py:267-272: the free-refine suggestion prompt takes the
        # incumbent outline + its eval detail; chain/round diversity comes
        # from model sampling, not the prompt text.
        return ps["DIGEST_FREE_PROMPT"].format(
            title=title, outline=outline_md, eval_detail=eval_detail)
    return (
        f"[SELF_REFINE] chain {chain_id} round {rnd}\n"
        f"Survey title: {title}\n"
        f"Outline:\n```markdown\n{outline_md}\n```\n"
        "Reply with a ```suggestion block."
    )


def _summary_prompt(title: str, section: str, subcontents: str,
                    ps: dict[str, str] | None = None,
                    outline: str = "", digest: str = "") -> str:
    if ps:
        return ps["SUMMARY_PROMPT"].format(
            title=title, section_title=section, subcontents=subcontents,
            outline=outline, digest=digest)      # orchestra_module.py:70-78
    return (
        f"[SUMMARY] Survey title: {title}\n"
        f"Section title: {section}\n"
        f"Subsections:\n{subcontents[:3000]}\n"
        "Summarize into the parent section's lead prose."
    )


def _polish_prompt(section: str, content: str,
                   ps: dict[str, str] | None = None) -> str:
    if ps:
        return ps["POLISH_PROMPT"].format(content=content)  # orchestra:171
    return f"[POLISH] Section title: {section}\nDraft:\n{content}"


def _ask(client, retry: RetryPolicy, metrics, prompt: str, parse,
         *names: str) -> dict | None:
    """One model call of a per-survey pass, through ``_call_and_parse``
    and metered into ``metrics``: the parsed payload (``names``), or None
    when the call or its parse failed (the caller drops the candidate or
    section, matching ``llm_stage``'s ``filter(llm_ok)``).  Bound to a
    client, policy and meter, it is the ``ask`` of the per-survey bodies."""
    payload, ok, _err, _attempts = _call_and_parse(
        client, prompt, parse, list(names), retry, metrics)
    return payload if ok else None


def _modify_eval_py(ask, title: str, outline_md: str, sugg_id: str,
                    content: str,
                    ps: dict[str, str] | None = None) -> dict | None:
    """One L11 modify → L12 eval chain for a candidate suggestion; None
    when either call fails.  Shared by the conv block and self-refine
    bodies."""
    mod = ask(_modify_prompt(title, outline_md, content, ps), _parse_fenced,
              "md")
    if mod is None:
        return None
    ev = ask(_eval_prompt(title, mod["md"], ps), _parse_eval,
             "score", "eval_detail")
    if ev is None:
        return None
    return {"sugg_id": sugg_id, "content": content,
            "new_outline_md": mod["md"], **ev}


def _pmap(fn, items, threads: int):
    """Order-preserving map with bounded intra-survey concurrency (the
    per-survey stages' analog of the reference's per-node worker pool,
    async_d node.py:48), and the engine's only fan-out of model calls.

    With ``threads > 1`` the ONE client of the enclosing survey is called
    concurrently, so its ``complete()`` must be thread-safe (the client
    contract at ``llm_op.llm_stage``'s ``client_factory``)."""
    items = list(items)
    if threads <= 1 or len(items) <= 1:
        return [fn(x) for x in items]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=threads) as ex:
        return list(ex.map(fn, items))


def _prune_py(rows: list[dict], k: int) -> list[dict]:
    """T1 ``_prune_top_k`` (convolution_module.py:207-229): score desc, ties
    broken by the deterministic sugg_id key (the engine's seeded stand-in
    for ``random.sample``) — same contract as operators/topk.prune_top_k."""
    return sorted(rows, key=lambda r: (-r["score"], r["sugg_id"]))[:k]


# ---------------------------------------------------------------------------
# encode: papers + grouping
# ---------------------------------------------------------------------------


def build_papers(surveys: DataFrame) -> DataFrame:
    """SURVEYS_INPUT → flat papers with P4/P5 enrichment and bibkey
    normalization (encode_pipeline.py:38-64 + digest.py:33-68)."""
    p = surveys.select(
        "survey_id", F.col("title").alias("survey_title"),
        F.posexplode("papers").alias("paper_pos", "p"),
    ).select(
        "survey_id", "survey_title", "paper_pos",
        F.coalesce(F.col("p.bibkey"), X.normalize_bibkey(F.col("p.title"))).alias("bibkey"),
        F.col("p.title").alias("title"), F.col("p.abstract").alias("abstract"),
        F.col("p.txt").alias("txt"), F.col("p.url").alias("url"),
        F.coalesce(F.col("p.txt_token"),
                   X.token_count_estimate(F.col("p.txt"))).alias("txt_token"),
    )
    # P2: drop surveys with zero papers happens naturally via the explode.
    return digest_ops.enrich_papers(p)


def group_papers(papers: DataFrame, cfg: V2Config,
                 client_factory=None, retry=None, metrics=None) -> DataFrame:
    """C7: 'random' = keyed-hash shuffle batches; 'llm' = L4 GroupNeuron
    proposal + regroup repair (group_module.py:29-133), its calls metered
    into ``metrics``."""
    if cfg.group_mode == "llm":
        if client_factory is None:
            raise ValueError("group_mode='llm' needs a client_factory")
        return grouping.llm_group_papers(papers, client_factory,
                                         cfg.digest_batch, retry,
                                         full_prompts=cfg.full_prompts,
                                         prompt_lang=cfg.prompt_lang,
                                         metrics=metrics)
    return grouping.hash_shuffled_batches(
        papers, "bibkey", cfg.digest_batch, seed=cfg.seed,
        partition_cols=["survey_id"], group_col="digest_id",
    )


# ---------------------------------------------------------------------------
# skeleton init: C6 → L5 → L6
# ---------------------------------------------------------------------------


_OUTLINE_CONCAT_SEPARATOR = "\n--------------------------\n"


def _init_outline_prompt(ps: dict | None, survey_title: str,
                         abstracts: str) -> str:
    """L5 per-batch outline prompt."""
    if ps:
        return ps["INIT_OUTLINE_PROMPT"].format(
            title=survey_title, abstracts=abstracts)
    return (
        f"[INIT_OUTLINE] Survey title: {survey_title}\n"
        f"Propose a markdown outline (## sections with Digest "
        f"Construction/Analysis) for these papers.\nAbstracts:\n{abstracts}\n"
        "Reply with a fenced ```markdown block."
    )


def _concat_outline_prompt(ps: dict | None, survey_title: str,
                           outlines: str) -> str:
    """L6 per-survey concat prompt."""
    if ps:
        return ps["CONCAT_OUTLINE_PROMPT"].format(
            title=survey_title, outlines=outlines)
    return (
        f"[CONCAT_OUTLINE] Survey title: {survey_title}\n"
        f"Merge these partial outlines into one.\n{outlines}\n"
        "Reply with a fenced ```markdown block."
    )


def init_outlines(papers_grouped: DataFrame, client_factory, cfg: V2Config,
                  retry: RetryPolicy | None = None,
                  metrics=None) -> DataFrame:
    """C6 skeleton batching + per-batch abstract packing (pure Catalyst),
    L5 per-batch outlines, then the L6 per-survey concat.
    → (survey_id, survey_title, outline_md)."""
    batches = grouping.hash_shuffled_batches(
        papers_grouped.select("survey_id", "digest_id").distinct(),
        "digest_id", cfg.skeleton_batch, seed=cfg.seed + 1,
        partition_cols=["survey_id"], group_col="batch_id",
    )
    joined = papers_grouped.join(F.broadcast(batches), ["survey_id", "digest_id"])
    abstract_fmt = F.concat(
        F.lit("Bibkey: '"), F.col("bibkey"), F.lit("':\nAbstract:\n"),
        F.substring(F.col("abstract"), 1, 1500),
    )
    per_batch = (
        joined.withColumn("__a", F.struct(F.col("bibkey").alias("k"),
                                          abstract_fmt.alias("v")))
        .groupBy("survey_id", "survey_title", "batch_id")
        .agg(F.concat_ws(
            "\n---------------------\n",
            F.transform(F.array_sort(F.collect_list("__a")), lambda s: s["v"]),
        ).alias("abstracts"))
    )
    ps = _prompt_set(cfg)
    single = llm_stage(
        per_batch,
        build_prompt=lambda r: _init_outline_prompt(
            ps, r["survey_title"], r["abstracts"]),
        parse=_parse_fenced,
        client_factory=client_factory,
        payload_fields=_payload("md"),
        keep_cols=["survey_id", "survey_title", "batch_id"],
        retry=retry,
        metrics=metrics,
    ).filter("llm_ok")
    per_survey = (
        single.withColumn("__o", F.struct(F.col("batch_id").alias("k"),
                                          F.col("md").alias("v")))
        .groupBy("survey_id", "survey_title")
        .agg(F.concat_ws(
            _OUTLINE_CONCAT_SEPARATOR,
            F.transform(
                F.array_sort(F.collect_list("__o")),
                lambda s: F.concat(F.lit("```markdown\n"), s["v"], F.lit("\n```")),
            ),
        ).alias("outlines"))
    )
    return llm_stage(
        per_survey,
        build_prompt=lambda r: _concat_outline_prompt(
            ps, r["survey_title"], r["outlines"]),
        parse=_parse_fenced,
        client_factory=client_factory,
        payload_fields=_payload("md"),
        keep_cols=["survey_id", "survey_title"],
        retry=retry,
        metrics=metrics,
    ).filter("llm_ok").select("survey_id", "survey_title",
                              F.col("md").alias("outline_md"))


# ---------------------------------------------------------------------------
# digests: L7 per paper → J1 align → A3 merge
# ---------------------------------------------------------------------------


def _digest_prompt(ps: dict | None, survey_title: str, bibkey: str,
                   content: str, outline_md: str, placeholder_md: str) -> str:
    """L7 per-paper digest prompt (digest_module.py:99-105)."""
    if ps:
        return ps["SINGLE_DIGEST_PROMPT"].format(
            survey_title=survey_title, paper_bibkey=bibkey,
            paper_content=(content or "").replace("#", ""),
            survey_outline=outline_md,
            outline_example=placeholder_md)
    return (
        f"[DIGEST] Paper bibkey: {bibkey}\n"
        f"Extract a digest aligned to this outline.\n"
        f"Paper:\n{(content or '')[:2000]}\n"
        f"Outline:\n```markdown\n{placeholder_md}\n```\n"
        "Reply with a fenced ```markdown digest matching the outline "
        "structure and a ```suggestion block."
    )


def _feedback_prompt(ps: dict | None, survey_title: str, outline_md: str,
                     digest_content: str) -> str:
    """L9 per-digest-group feedback prompt (neurons.py:55-67)."""
    if ps:
        return ps["DIGEST_BASE_PROMPT"].format(
            title=survey_title, outline=outline_md, digests=digest_content)
    return (
        f"[FEEDBACK] Survey title: {survey_title}\n"
        f"Outline:\n```markdown\n{outline_md}\n```\n"
        f"Digest group:\n{digest_content[:3000]}\n"
        "Reply with a ```suggestion block."
    )


def make_digests(papers_grouped: DataFrame, outlines: DataFrame, client_factory,
                 cfg: V2Config, retry: RetryPolicy | None = None,
                 metrics=None) -> tuple[DataFrame, DataFrame]:
    """→ (digests (survey_id, digest_id, pos, description), dead_letters).

    One row-parallel llm_stage over papers (the big fan-out), with the
    placeholder serialization and J1 structural alignment as scalar column
    expressions (skeleton.placeholder_udf / align_reason_udf) — no
    explode/regroup or full-outer join round-trips; the only shuffle is the
    A3 merge aggregation.  Runs once per block cycle (digest_node re-entry,
    hidden_pipeline.py:75).
    """
    o = outlines.select(
        "survey_id", "survey_title", "outline_md",
        skeleton.placeholder_udf("survey_title", "outline_md").alias("placeholder_md"),
    )
    per_paper = papers_grouped.drop("survey_title").join(F.broadcast(o), "survey_id")
    ps = _prompt_set(cfg)
    stage_kw = dict(
        build_prompt=lambda r: _digest_prompt(
            ps, r["survey_title"], r["bibkey"], r["content"],
            r["outline_md"], r["placeholder_md"]),
        parse=_parse_fenced_with_suggestion,
        client_factory=client_factory,
        payload_fields=_payload("md", "suggestion"),
        keep_cols=["survey_id", "survey_title", "outline_md", "digest_id", "bibkey"],
        retry=retry,
        metrics=metrics,
    )
    if cfg.llm_cache_dir is not None:
        import os as _os

        from llmxmapreduce_spark.operators.llm_op import llm_stage_cached

        raw = llm_stage_cached(
            per_paper, cache_dir=_os.path.join(cfg.llm_cache_dir, "digest"),
            **stage_kw)
    else:
        raw = llm_stage(per_paper, **stage_kw)
    # J1 per-paper structural correspondence; misaligned papers quarantine
    # like D8 dead letters (the reference raises + retries per paper).
    checked = raw.filter("llm_ok").withColumn(
        "align_reason",
        skeleton.align_reason_udf("survey_title", "outline_md", "md"),
    )
    good_nodes = (
        checked.filter("align_reason IS NULL")
        .select(
            "survey_id", "digest_id", "bibkey",
            F.explode(skeleton.parse_nodes_udf("survey_title", "md")).alias("node"),
        )
        .select("survey_id", "digest_id", "bibkey",
                F.col("node.pos").alias("pos"),
                F.col("node.description").alias("description"))
    )
    merged = digest_ops.merge_digest_descriptions(
        good_nodes.withColumn("bibkeys", F.array("bibkey")),
        id_cols=["survey_id", "digest_id"],
        digest_id_col="bibkey",
    )
    dead = raw.filter("NOT llm_ok").select(
        "survey_id", "bibkey", F.col("llm_error").alias("reason")
    ).unionByName(
        checked.filter("align_reason IS NOT NULL")
        .select("survey_id", "bibkey", F.col("align_reason").alias("reason"))
    )
    return merged, dead


# ---------------------------------------------------------------------------
# hidden block: L9 feedback → conv block + self-refine (one stage)
# ---------------------------------------------------------------------------


def feedback_suggestions(digests: DataFrame, outlines: DataFrame, client_factory,
                         retry: RetryPolicy | None = None,
                         cfg: V2Config | None = None,
                         metrics=None) -> DataFrame:
    ps = _prompt_set(cfg) if cfg is not None else None
    per_group = (
        digests.withColumn("__d", F.struct(F.col("pos").alias("k"),
                                           F.col("description").alias("v")))
        .groupBy("survey_id", "digest_id")
        .agg(F.concat_ws("\n", F.transform(F.array_sort(F.collect_list("__d")),
                                           lambda s: s["v"])).alias("digest_content"))
        .join(F.broadcast(outlines.select("survey_id", "survey_title", "outline_md")),
              "survey_id")
    )
    out = llm_stage(
        per_group,
        build_prompt=lambda r: _feedback_prompt(
            ps, r["survey_title"], r["outline_md"], r["digest_content"]),
        parse=_parse_suggestion,
        client_factory=client_factory,
        payload_fields=_payload("suggestion"),
        keep_cols=["survey_id", "digest_id"],
        retry=retry,
        metrics=metrics,
    ).filter("llm_ok")
    return out.select(
        "survey_id",
        F.concat(F.lit("s"), F.col("digest_id").cast("string")).alias("sugg_id"),
        F.col("suggestion").alias("content"),
    )


# The score bookkeeping crosses the applyInPandas boundary as JSON strings:
# pyarrow's arrow_to_pandas segfaults on null deeply-nested list columns in
# this environment, and the lists are tiny survey metadata — they become real
# array<array<double>> columns JVM-side (from_json) after the block loop.
_CONV_SCHEMA = T.StructType([
    T.StructField("survey_id", _STR, False),
    T.StructField("survey_title", _STR, True),
    T.StructField("outline_md", _STR, True),
    T.StructField("eval_score", T.DoubleType(), True),
    T.StructField("block_avg_score", _STR, True),
    T.StructField("self_refine_score", _STR, True),
    T.StructField("conv_pool_sizes", _STR, True),
])


def _nested(val) -> list:
    import json

    return json.loads(val) if val else []


def _dumps(val: list) -> str:
    import json

    return json.dumps(val)


def _conv_group_py(ask, cfg: V2Config, ps, pdf: pd.DataFrame) -> dict | None:
    """Per-survey convolution block (convolution_module.py:38-127): the
    initial single-suggestion pass, then ``conv_layers`` rounds of T5
    sample → L10 kernel → L11 modify → L12 eval, appending this cycle's
    per-layer average scores to ``block_avg_score``
    (convolution_module.py:45-122).  Layer capacity follows the
    reference's two modes (:80-97): while candidates / receptive_field
    still exceeds ``result_num``, POOLING — the new results replace the
    pool outright, so the candidate count contracts by the receptive field
    each layer; otherwise union + T1 top-k prune.  Documented divergence:
    the final best is argmax over the prune-accumulated state, which
    (unlike the reference's last-layer-only pool) can never lose an
    earlier layer's best outline.  Returns the best-outline row dict
    (``_CONV_SCHEMA`` fields) or ``None`` when every chain died."""
    conv_layers, receptive_field = cfg.conv_layers, cfg.receptive_field
    result_num, top_k, seed, threads = (cfg.result_num, cfg.top_k, cfg.seed,
                                        cfg.llm_threads)
    sid = pdf["survey_id"].iloc[0]
    title = pdf["survey_title"].iloc[0]
    outline_md = pdf["outline_md"].iloc[0]

    def modify_eval(item: tuple[str, str]) -> dict | None:
        return _modify_eval_py(ask, title, outline_md, *item, ps=ps)

    init = sorted(zip(pdf["sugg_id"], pdf["content"]))
    state = [r for r in _pmap(modify_eval, init, threads) if r]
    cycle_scores: list[float] = []
    if state:
        cycle_scores.append(float(np.mean([r["score"] for r in state])))
    cycle = len(_nested(pdf["block_avg_score"].iloc[0]))
    pool_sizes: list[int] = [len(state)]
    for layer in range(conv_layers):
        # fresh per-layer RandomState, seeded on (survey, block cycle,
        # layer) — deterministic and independent of executor placement,
        # while two layers over identical pool contents still draw
        # distinct sample groups (the reference's module-level numpy RNG
        # evolves across layers; a bare survey seed would not)
        rng = np.random.RandomState(
            sampling.survey_seed(f"{sid}:{cycle}:{layer}", seed))
        pool = sorted(state, key=lambda r: r["sugg_id"])
        groups = sampling.sample_suggestion_groups(
            [r["sugg_id"] for r in pool], [r["score"] for r in pool],
            receptive_field, result_num, rng,
        )
        by_id = {r["sugg_id"]: r for r in pool}

        def kernel(item: tuple[int, list[str]]) -> tuple[str, str] | None:
            gid, members = item
            if len(members) > 1:
                joined = "\n---\n".join(
                    by_id[m]["content"] for m in sorted(members))
                merged = ask(_kernel_prompt(title, joined, ps, outline_md),
                             _parse_suggestion, "suggestion")
                if merged is None:
                    return None
                content = merged["suggestion"]
            else:
                content = by_id[members[0]]["content"]
            return (f"l{layer}g{gid}", content)

        new_cands = [c for c in _pmap(kernel, enumerate(groups), threads) if c]
        new_state = [r for r in _pmap(modify_eval, new_cands, threads) if r]
        if new_state:
            cycle_scores.append(
                float(np.mean([r["score"] for r in new_state])))
        if len(pool) / receptive_field > result_num:
            # pooling (convolution_module.py:80-85): replace, no prune —
            # contracts a large candidate pool by the receptive field
            state = new_state if new_state else state
        else:
            # conv_results_old + conv_results_new → T1 prune
            state = _prune_py(state + new_state, top_k)
        pool_sizes.append(len(state))

    best = _prune_py(state, 1)
    if not best:
        return None
    block_scores = _nested(pdf["block_avg_score"].iloc[0]) + [cycle_scores]
    return {
        "survey_id": sid, "survey_title": title,
        "outline_md": best[0]["new_outline_md"],
        "eval_score": best[0]["score"],
        "block_avg_score": _dumps(block_scores),
        "self_refine_score": pdf["self_refine_score"].iloc[0] or "[]",
        "conv_pool_sizes": _dumps(
            _nested(pdf["conv_pool_sizes"].iloc[0]) + [pool_sizes]),
    }


def _refine_group_py(ask, cfg: V2Config, ps, row) -> dict:
    """Per-survey self-refine (refine_module.py:25-66): ``refine_rounds``
    rounds of best-of L13→L11→L12 chains, keeping the max (ties prefer the
    kept state: 'keep' sorts before 'r…c…'), appending this cycle's
    round×chain scores to ``self_refine_score`` (refine_module.py:52-63).
    ``row`` is the conv body's best-outline dict (``_CONV_SCHEMA`` fields).

    Documented divergence (mirrors :func:`_conv_group_py`'s): the
    reference unconditionally adopts the best NEW outline each round even
    when it scores below the incumbent (refine_module.py:49-52); here the
    incumbent competes in the pool, so a refine round can never regress
    the running best.  Monotone state is deliberate — at cluster scale a
    single low-scoring round must not destroy a survey's accumulated
    outline."""
    refine_rounds, best_of, threads = cfg.refine_rounds, cfg.best_of, cfg.llm_threads
    sid, title = row["survey_id"], row["survey_title"]
    state_md, state_score = row["outline_md"], float(row["eval_score"])
    state_detail = ""          # incumbent's eval text (DIGEST_FREE slot)
    cycle_scores: list[list[float]] = []
    for rnd in range(refine_rounds):
        outline_now = state_md
        detail_now = state_detail

        def chain(chain_id: int) -> tuple[str, str] | None:
            got = ask(_refine_prompt(chain_id, rnd, title, outline_now, ps,
                                     detail_now),
                      _parse_suggestion, "suggestion")
            return None if got is None else (f"r{rnd}c{chain_id}",
                                             got["suggestion"])

        def modify_eval(item: tuple[str, str]) -> dict | None:
            return _modify_eval_py(ask, title, outline_now, *item, ps=ps)

        cands = [c for c in _pmap(chain, range(best_of), threads) if c]
        results = [r for r in _pmap(modify_eval, cands, threads) if r]
        cycle_scores.append(
            sorted((r["score"] for r in results), reverse=True))
        pool = results + [{"sugg_id": "keep", "new_outline_md": state_md,
                           "score": state_score,
                           "eval_detail": state_detail}]
        top = _prune_py(pool, 1)[0]
        state_md, state_score = top["new_outline_md"], top["score"]
        state_detail = top.get("eval_detail") or ""
    return {
        "survey_id": sid, "survey_title": title,
        "outline_md": state_md, "eval_score": state_score,
        "block_avg_score": row["block_avg_score"] or "[]",
        "self_refine_score": _dumps(
            _nested(row["self_refine_score"]) + [cycle_scores]),
        "conv_pool_sizes": row["conv_pool_sizes"] or "[]",
    }


def conv_refine(outlines: DataFrame, suggestions: DataFrame,
                client_factory, cfg: V2Config,
                retry: RetryPolicy | None = None,
                metrics=None) -> DataFrame:
    """One block cycle's convolution block → self-refine chain as ONE
    ``applyInPandas`` over survey groups: per survey, :func:`_conv_group_py`
    then :func:`_refine_group_py` back to back in one Python pass with one
    client — one survey-keyed exchange per cycle.  ``metrics`` meters
    every kernel, modify, eval and self-refine call.  A survey whose every
    conv chain died emits no row.  → (``_CONV_SCHEMA``) one refined
    outline per survey."""
    retry = _resolve_retry(client_factory, retry)
    cands = suggestions.join(
        F.broadcast(outlines.select("survey_id", "survey_title", "outline_md",
                                    "block_avg_score", "self_refine_score",
                                    "conv_pool_sizes")),
        "survey_id",
    )
    ps = _prompt_set(cfg)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ask = partial(_ask, client_factory(), retry, metrics)
        best = _conv_group_py(ask, cfg, ps, pdf)
        if best is None:
            return pd.DataFrame(columns=[f.name for f in _CONV_SCHEMA.fields])
        return pd.DataFrame([_refine_group_py(ask, cfg, ps, best)])

    return cands.groupBy("survey_id").applyInPandas(run, _CONV_SCHEMA)


def unrefined_state(outlines: DataFrame) -> DataFrame:
    """The block loop's state before any cycle: each survey's outline with
    no eval score and empty score bookkeeping (``_CONV_SCHEMA`` rows)."""
    return outlines.select(
        "survey_id", "survey_title", "outline_md",
        F.lit(None).cast("double").alias("eval_score"),
        F.lit("[]").alias("block_avg_score"),
        F.lit("[]").alias("self_refine_score"),
        F.lit("[]").alias("conv_pool_sizes"),
    )


def typed_scores(state: DataFrame) -> DataFrame:
    """Lift the JSON score bookkeeping back into typed nested arrays, once
    no pandas boundary remains (see the ``_CONV_SCHEMA`` note)."""
    return state.withColumn(
        "block_avg_score", F.from_json("block_avg_score", _BLOCK_SCORES)
    ).withColumn(
        "self_refine_score", F.from_json("self_refine_score", _REFINE_SCORES)
    ).withColumn(
        "conv_pool_sizes", F.from_json("conv_pool_sizes", _POOL_SIZES)
    )


# ---------------------------------------------------------------------------
# decode: L14 orchestra → A6 assembly → P12/A7 → survey rows
# ---------------------------------------------------------------------------


_DONE_SCHEMA = T.StructType([
    T.StructField("survey_id", _STR, False),
    T.StructField("pos", T.IntegerType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("title", _STR, True),
    T.StructField("content", _STR, True),
])


_TAIL_SCHEMA = T.StructType([
    T.StructField("survey_id", _STR, False),
    T.StructField("content_md", _STR, True),
    T.StructField("n_sections", T.LongType(), False),
    T.StructField("cite_ratio", T.DoubleType(), True),
    T.StructField("n_papers", T.LongType(), True),
    T.StructField("ref_str", _STR, True),
])


def _orchestra_prompt(ps: dict | None, survey_title: str, outline_md: str,
                      section_title: str, material: str) -> str:
    """L14 leaf-section prompt (orchestra_module.py:70-78)."""
    if ps:
        return ps["ORCHESTRA_PROMPT"].format(
            title=survey_title, outline=outline_md, digest=material,
            section_title=section_title)
    return (
        f"[ORCHESTRA] Survey title: {survey_title}\n"
        f"Section title: {section_title}\n"
        f"Digests:\n{material[:3000]}\n"
        "Write the section prose, citing papers as [bibkey]."
    )


def _section_material(digests: pd.DataFrame) -> dict[int, str]:
    """pos → the section's digest material: its descriptions in
    (digest_id, description) order, nulls skipped, newline-joined."""
    by_pos: dict[int, list[tuple]] = {}
    for d_id, pos, desc in zip(digests["digest_id"], digests["pos"],
                               digests["description"]):
        if desc is not None:
            by_pos.setdefault(pos, []).append((d_id, desc))
    return {pos: "\n".join(desc for _, desc in sorted(items))
            for pos, items in by_pos.items()}


# report rows of decode's write pass: leaf prose, A6 summaries, L15 polish
_WRITE_STAGES = ("decode", "summary", "polish")


def _write_survey_py(client, retry: RetryPolicy, cfg: V2Config, ps, meters,
                     outline, digests: pd.DataFrame) -> list[dict]:
    """One survey's decode prose (content.py:108-146): L14 orchestra prose
    for every leaf from its digest material, then bottom-up A6 summaries,
    deepest parents first (ready-queue semantics), then L15 polish, each
    kind metered into its ``meters`` entry (``_WRITE_STAGES`` order).  A
    section whose call failed is left out, and so is a parent whose
    children all failed.  → ``_DONE_SCHEMA`` rows in preorder."""
    sid, title = outline["survey_id"], outline["survey_title"]
    outline_md = outline["outline_md"]
    nodes = skeleton.parse_outline_py(title, outline_md)
    material = _section_material(digests)
    threads = cfg.llm_threads
    leaf_ask, summary_ask, polish_ask = (partial(_ask, client, retry, m)
                                         for m in meters)

    def leaf(n: dict) -> dict | None:
        return leaf_ask(_orchestra_prompt(ps, title, outline_md, n["title"],
                                          material.get(n["pos"], "")),
                        _parse_text, "content")

    leaves = [n for n in nodes if n["n_children"] == 0]
    content: dict[int, str] = {
        n["pos"]: got["content"]
        for n, got in zip(leaves, _pmap(leaf, leaves, threads))
        if got is not None
    }
    # Parent sections carry their own digest material too: the reference
    # orchestra module fills the SUMMARY_PROMPT {digest} slot with the
    # section's digest content (orchestra_module.py:70-78).
    children_of: dict[tuple, list[dict]] = {}
    for n in nodes:
        path = tuple(n["node_path"])
        if len(path) > 1:
            children_of.setdefault(path[:-1], []).append(n)
    parents = [n for n in nodes if n["n_children"] > 0]
    for n in sorted(parents, key=lambda n: (-n["depth"], n["pos"])):
        kids = [content[c["pos"]]
                for c in children_of.get(tuple(n["node_path"]), [])
                if c["pos"] in content]
        if not kids:
            continue
        got = summary_ask(
            _summary_prompt(title, n["title"], "\n\n".join(kids), ps,
                            outline=outline_md,
                            digest=material.get(n["pos"], "")),
            _parse_text, "content")
        if got is not None:
            content[n["pos"]] = got["content"]
    rows = [{"survey_id": sid, "pos": n["pos"], "depth": n["depth"],
             "title": n["title"], "content": content[n["pos"]]}
            for n in nodes if n["pos"] in content]
    if cfg.polish:
        polished = _pmap(
            lambda r: polish_ask(_polish_prompt(r["title"], r["content"], ps),
                                 _parse_text, "content"),
            rows, threads)
        rows = [{**r, **got} for r, got in zip(rows, polished)
                if got is not None]
    return rows


def decode_survey(final_outline: DataFrame, digests: DataFrame, papers: DataFrame,
                  client_factory, cfg: V2Config,
                  retry: RetryPolicy | None = None,
                  meter=lambda stage: None) -> DataFrame:
    """content.py:108-146 decode as two per-survey passes, the reference's
    one sequential pass per survey (decode_pipeline.py:115-156).  The write
    pass cogroups each survey's outline with its digests and runs
    :func:`_write_survey_py`: leaf prose, bottom-up assembly and polish.
    The tail pass, :func:`decode_tail`, renumbers and assembles.  Each pass
    reads its inputs once, so nothing is checkpointed in between; surveys
    proceed independently, without a level-synchronous barrier.
    ``meter(stage)`` (``StageRun.llm``) is resolved on the driver for the
    ``_WRITE_STAGES`` and ``figures``.  With ``cfg.figures`` the figure
    draft and anchoring both read the sections, so they are a checkpoint
    that the caller's ``retention.owned()`` scope owns."""
    retry = _resolve_retry(client_factory, retry)
    ps = _prompt_set(cfg)
    outline_meta = final_outline.select("survey_id", "survey_title",
                                        "outline_md")
    done_cols = [f.name for f in _DONE_SCHEMA.fields]
    meters = [meter(stage) for stage in _WRITE_STAGES]

    def write(outline: pd.DataFrame, dig: pd.DataFrame) -> pd.DataFrame:
        if outline.empty:
            return pd.DataFrame(columns=done_cols)
        rows = _write_survey_py(client_factory(), retry, cfg, ps, meters,
                                outline.iloc[0], dig)
        return pd.DataFrame(rows, columns=done_cols)

    done = (
        outline_meta.groupBy("survey_id")
        .cogroup(digests.select("survey_id", "digest_id", "pos", "description")
                 .groupBy("survey_id"))
        .applyInPandas(write, _DONE_SCHEMA)
    )

    # L16/J5 figures: propose from the assembled draft, anchor per section
    # (figure_module.py:27-48)
    if cfg.figures:
        from llmxmapreduce_spark.operators.figures import anchor_figures, generate_figures

        done = checkpoint(done)
        # draft includes section headings so the model can reference them
        draft_with_heads = (
            done.withColumn("__s", F.struct(
                F.col("pos").alias("k"),
                F.concat(F.lit("## "), F.col("title"), F.lit("\n"),
                         F.col("content")).alias("v")))
            .groupBy("survey_id")
            .agg(F.concat_ws("\n\n", F.transform(
                F.array_sort(F.collect_list("__s")), lambda s: s["v"])).alias("content_md"))
            .join(F.broadcast(outline_meta), "survey_id")
        )
        figs = generate_figures(draft_with_heads, client_factory, retry,
                                metrics=meter("figures"))
        done = anchor_figures(done, figs)

    return (
        decode_tail(done, papers).join(F.broadcast(final_outline), "survey_id")
        .select("survey_id", "survey_title", "outline_md", "content_md",
                "ref_str", "cite_ratio", "n_papers", "n_sections", "eval_score",
                "block_avg_score", "self_refine_score", "conv_pool_sizes")
    )


def _tail_py(sections: pd.DataFrame, papers: pd.DataFrame) -> dict:
    """One survey's deterministic decode suffix (decode_pipeline.py:115-156).

    - P12: scrub, then renumber each section's citations against the
      survey's bibkeys in ``paper_pos`` order.
    - A7 ``cite_ratio``: the share of paper rows whose bibkey is cited.
    - ``ref_str``: ``[i] title url`` lines under ``## References``.
    - ``content_md``: ``#``-headed sections in ``pos`` order.  A section
      with a null title or content is left out but still counted in
      ``n_sections``.

    A survey with no papers has null ``cite_ratio``, ``n_papers`` and
    ``ref_str``.  → one ``_TAIL_SCHEMA`` row."""
    papers = papers.sort_values("paper_pos")
    keys = list(papers["bibkey"])
    cited: set[str] = set()
    blocks = []
    for r in sections.sort_values("pos").to_dict("records"):
        content = r["content"]
        if content is not None:
            content, hits = renumber_citations_py(
                X.scrub_illegal_citations_py(content, keys), keys)
            cited.update(hits)
        if r["title"] is not None and content is not None:
            blocks.append(f"{'#' * (r['depth'] + 1)} {r['title']}\n{content}")
    out = {"survey_id": sections["survey_id"].iloc[0],
           "content_md": "\n\n".join(blocks), "n_sections": len(sections),
           "cite_ratio": None, "n_papers": None, "ref_str": None}
    if keys:
        out["n_papers"] = len(keys)
        out["cite_ratio"] = sum(k in cited for k in keys) / len(keys)
        out["ref_str"] = "## References\n" + "".join(
            f"[{p + 1}] {t} {u or ''}\n\n"
            for p, t, u in zip(papers["paper_pos"], papers["title"], papers["url"])
            if t is not None)
    return out


def decode_tail(done: DataFrame, papers: DataFrame) -> DataFrame:
    """The deterministic decode suffix as one cogroup of each survey's
    sections with its papers, running :func:`_tail_py`.  LLM-free —
    exercised hash-checked by the ``v2_decode_tail`` oracle query.  A
    survey with no section rows emits no row.

    ``done``: (survey_id, pos, depth, title, content) section rows.
    → (survey_id, content_md, n_sections, cite_ratio, n_papers, ref_str).
    """
    tail_cols = [f.name for f in _TAIL_SCHEMA.fields]

    def tail(sections: pd.DataFrame, refs: pd.DataFrame) -> pd.DataFrame:
        if sections.empty:
            return pd.DataFrame(columns=tail_cols)
        return pd.DataFrame([_tail_py(sections, refs)], columns=tail_cols)

    # the papers-side key is renamed: callers may derive both sides from
    # one table, and a shared survey_id would be ambiguous in the cogroup
    refs = papers.select(F.col("survey_id").alias("__sid"), "paper_pos",
                         "bibkey", "title", "url")
    return (
        done.select("survey_id", "pos", "depth", "title", "content")
        .groupBy("survey_id").cogroup(refs.groupBy("__sid"))
        .applyInPandas(tail, _TAIL_SCHEMA)
    )


# ---------------------------------------------------------------------------
# full pipeline
# ---------------------------------------------------------------------------


def run_v2_survey(surveys: DataFrame, client_factory,
                  cfg: V2Config | None = None,
                  retry: RetryPolicy | None = None,
                  stage_metrics=None) -> DataFrame:
    """SURVEYS_INPUT rows → one output row per survey (S5 shape).

    Implements the reference's block cycle (hidden_pipeline.py:73-85): while
    ``block_cycle_count < block_count``, the survey loops
    ``digest → skeleton_refine → digest`` — so decode always consumes digests
    regenerated against the *refined* outline, and the digest→section
    lookup in :func:`decode_survey` cannot misalign when refinement
    restructures the outline.  ``block_count=0`` decodes the unrefined
    outline (args.py:21 default); the shipped script uses 1
    (scripts/pipeline_start.sh:13).

    ``stage_metrics``: optional
    :class:`~llmxmapreduce_spark.operators.stage_metrics.StageMetrics` —
    per-stage rows-out and wall time at the checkpoint boundaries
    (papers / [group] / outline / digest / refine / decode; the wall times
    tile the call, and a stage cut several times sums its intervals), and
    every model call metered under the stage that makes it: [group,]
    outline, digest, suggest, refine, decode (leaves), summary, polish
    [, figures] — the ``llm_calls`` sum to the model's call count (the
    bracketed rows need ``group_mode="llm"`` / ``figures=True``); the
    reference analyser's per-node table (pipeline_analyser.py:64-124).
    After collecting the result, fold the per-layer convolution detail in
    with ``stage_metrics.record_v2_layers(rows)``.

    Retention: the returned frame is an eager checkpoint, the only frame
    the call leaves pinned (nothing on an error).  Each cut inside the
    call is released once its last reader is cut; papers and outlines are
    re-read every cycle and go at the end.  A caller that wraps the call
    in ``retention.owned()`` gets the returned frame's id, to release once
    it has read the result.
    """
    cfg = cfg or V2Config()
    with StageRun(surveys.sparkSession, stage_metrics) as run:
        papers = run.cut("papers", build_papers(surveys))
        if cfg.group_mode == "llm":
            # outline and both digest passes read the grouping: one L4
            # call per survey, not one per reader
            grouped = run.cut("group", group_papers(
                papers, cfg, client_factory, retry, metrics=run.llm("group")))
        else:
            grouped = group_papers(papers, cfg)   # Catalyst over the cut
        outlines = run.cut("outline", init_outlines(
            grouped, client_factory, cfg, retry, metrics=run.llm("outline")))
        digests, _dead = make_digests(grouped, outlines, client_factory, cfg,
                                      retry, metrics=run.llm("digest"))
        cur = unrefined_state(outlines)      # lazy: no cut to supersede
        for _cycle in range(cfg.block_count):
            digests = run.cut("digest", digests)
            suggestions = feedback_suggestions(
                digests, cur, client_factory, retry, cfg=cfg,
                metrics=run.llm("suggest"))
            # the refined outline is the last reader of the previous
            # state and of this cycle's digests (suggestions → conv_refine)
            cur = run.cut("refine", conv_refine(
                cur, suggestions, client_factory, cfg, retry,
                metrics=run.llm("refine")),
                supersedes=(cur, digests))
            # re-digest against the refined outline (digest_node re-entry)
            digests, _dead = make_digests(grouped, cur, client_factory, cfg,
                                          retry, metrics=run.llm("digest"))
        digests = run.cut("digest", digests)
        return run.result("decode", decode_survey(
            typed_scores(cur), digests, papers, client_factory, cfg,
            retry, meter=run.llm,
        ).withColumn("block_cycle_count", F.lit(cfg.block_count)))
