"""The prompt texts, and the one place that picks them per pipeline run.

The reference ships its prompts as importable template modules
(LLMxMapReduce_V2/src/prompts/base.py: a ``PromptManager`` singleton picks
``prompts_{lang}`` via the ``PROMPT_LANGUAGE`` env var) plus per-task V1
YAML configs (LLMxMapReduce_V1/config/*.yaml: ``map_prompt`` /
``collapse_prompt`` / ``reduce_prompt``).  This package carries both,
verbatim:

- :mod:`prompts_en` / :mod:`prompts_zh` — the V2/V3 survey, search and
  crawl templates (19 named ``*_PROMPT`` strings each);
- ``v1/*.yaml`` — the V1 task configs (qa, qa_zh, math, code, sum,
  retrieval) whose prompt keys drive the map→collapse→reduce pipeline.

Like the reference's ``PromptManager``, :func:`table` makes the survey,
search and grouping prompt choice in one place.  It returns one of two
tables under the reference's template names: the short condensed texts
(the default — the deterministic test/mock contract: the correctness
goldens hash the mock replies, which hash the prompts) or the reference
texts (``V2Config(full_prompts=True, prompt_lang="en")``).  A prompt
builder formats ``table[NAME]`` with every slot either table names;
``str.format`` ignores the slots a template does not use, and a condensed
template truncates its material through format precision (``{digest:.3000}``
is ``digest[:3000]``).  V1 runs opt into the reference texts by passing
``prompts=v1_prompts("qa")`` to :func:`run_v1_qa`.  Tables are resolved ON
THE DRIVER and captured into the stage closures, so the selection works
identically on a real cluster (no executor-side globals).
"""

from __future__ import annotations

import os
from importlib import import_module

DEFAULT_LANGUAGE = "en"
ENV_VAR_NAME = "PROMPT_LANGUAGE"     # reference base.py:53
LANGUAGES = ("en", "zh")


def get_module(lang: str | None = None):
    """The verbatim template module for ``lang`` (default: the
    ``PROMPT_LANGUAGE`` env var, the reference's selection mechanism),
    falling back to English on an unknown language like base.py:64-75."""
    lang = lang or os.getenv(ENV_VAR_NAME, DEFAULT_LANGUAGE)
    if lang not in LANGUAGES:
        lang = DEFAULT_LANGUAGE
    return import_module(f"llmxmapreduce_spark.prompts.prompts_{lang}")


def template(name: str, lang: str | None = None) -> str:
    """One named reference template (e.g. ``"INIT_OUTLINE_PROMPT"``)."""
    return getattr(get_module(lang), name)


# The condensed texts, under the reference template each one stands in
# for.  Slots beyond the reference's own: ``bibkeys`` (L4, ``- key`` lines),
# ``paper`` (L7, the paper text as is; the reference strips its ``#``),
# ``chain_id``/``round`` (L13) and ``section_title`` (L15).
_SUGGESTION = "Reply with a ```suggestion block."
_EXPAND = ("[QUERY_EXPAND] Survey title: {topic}\nDescription: {abstract}\n"
           "Propose search queries, ';'-separated, in a fenced ```markdown block.")
CONDENSED = {
    "GROUP_PROMPT":
        "[GROUP] Survey title: {survey_title}\nCluster these papers into "
        "research-direction groups; reply with bracketed bibkey lists.\n"
        "{bibkeys}",
    "INIT_OUTLINE_PROMPT":
        "[INIT_OUTLINE] Survey title: {title}\nPropose a markdown outline "
        "(## sections with Digest Construction/Analysis) for these papers."
        "\nAbstracts:\n{abstracts}\nReply with a fenced ```markdown block.",
    "CONCAT_OUTLINE_PROMPT":
        "[CONCAT_OUTLINE] Survey title: {title}\nMerge these partial "
        "outlines into one.\n{outlines}\nReply with a fenced ```markdown block.",
    "SINGLE_DIGEST_PROMPT":
        "[DIGEST] Paper bibkey: {paper_bibkey}\nExtract a digest aligned to "
        "this outline.\nPaper:\n{paper:.2000}\nOutline:\n```markdown\n"
        "{outline_example}\n```\nReply with a fenced ```markdown digest "
        "matching the outline structure and a ```suggestion block.",
    "DIGEST_BASE_PROMPT":
        "[FEEDBACK] Survey title: {title}\nOutline:\n```markdown\n{outline}"
        "\n```\nDigest group:\n{digests:.3000}\n" + _SUGGESTION,
    "OUTLINE_CONVOLUTION_PROMPT":
        "[KERNEL] Survey title: {title}\nMerge these suggestions into one:\n"
        "{suggestions}\n" + _SUGGESTION,
    "MODIFY_OUTLINE_PROMPT":
        "[MODIFY] Survey title: {title}\nOutline:\n```markdown\n{old_outline}"
        "\n```\nSuggestion:\n```suggestion\n{outlines}\n```\nApply the "
        "suggestion; reply with a fenced ```markdown outline.",
    "OUTLINE_ENTROPY_PROMPT":
        "[EVAL_OUTLINE] Survey title: {title}\nOutline:\n```markdown\n"
        "{outline}\n```\nScore the information entropy 0-10 as "
        "<SCORE>x</SCORE>.",
    "DIGEST_FREE_PROMPT":
        "[SELF_REFINE] chain {chain_id} round {round}\nSurvey title: {title}"
        "\nOutline:\n```markdown\n{outline}\n```\n" + _SUGGESTION,
    "ORCHESTRA_PROMPT":
        "[ORCHESTRA] Survey title: {title}\nSection title: {section_title}\n"
        "Digests:\n{digest:.3000}\nWrite the section prose, citing papers "
        "as [bibkey].",
    "SUMMARY_PROMPT":
        "[SUMMARY] Survey title: {title}\nSection title: {section_title}\n"
        "Subsections:\n{subcontents:.3000}\nSummarize into the parent "
        "section's lead prose.",
    "POLISH_PROMPT": "[POLISH] Section title: {section_title}\nDraft:\n{content}",
    "QUERY_EXPAND_PROMPT_WITH_ABSTRACT": _EXPAND,
    "QUERY_EXPAND_PROMPT_WITHOUT_ABSTRACT": _EXPAND,
    "SNIPPET_FILTER_PROMPT":
        "[SNIPPET_SCORE] Survey title: {topic}\nSnippet:\n{snippet}\n"
        "Score 0-100 as <SCORE>n</SCORE>.",
    "PAGE_REFINE_PROMPT":
        "[PAGE_REFINE] Survey title: {topic}\nPage:\n{raw_content:.4000}\n"
        "Reply with <TITLE>…</TITLE> and <CONTENT>…</CONTENT>.",
    "SIMILARITY_PROMPT":
        "[SIMILARITY] Survey title: {topic}\nContent:\n{content:.4000}\n"
        "Score 0-100 as <SCORE>n</SCORE>.",
}


def table(full: bool, lang: str | None = None) -> dict[str, str]:
    """The prompt table of a run: the condensed texts, or with ``full`` the
    reference templates of ``lang`` under the same names."""
    if not full:
        return dict(CONDENSED)
    return {name: template(name, lang) for name in CONDENSED}


_V1_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "v1")
V1_TASK_CONFIGS = ("qa", "qa_zh", "math", "code", "sum", "retrieval")


def v1_prompts(task: str = "qa") -> dict[str, str]:
    """The V1 map/collapse/reduce prompt texts for one task config
    (reference config/{task}.yaml) as ``{"map": …, "collapse": …,
    "reduce": …}`` — each a ``{context}``/``{question}`` template."""
    import yaml

    if task not in V1_TASK_CONFIGS:
        raise ValueError(f"unknown V1 task config: {task!r}; "
                         f"one of {V1_TASK_CONFIGS}")
    with open(os.path.join(_V1_DIR, f"{task}.yaml"), encoding="utf-8") as f:
        cfg = yaml.safe_load(f)
    return {k: cfg[f"{k}_prompt"] for k in ("map", "collapse", "reduce")}
