"""Prompt bytes of the search/crawl (L17, L19-L21) and L4 grouping stages.

Each stage is run on a tiny frame with a client that records every prompt
it is sent; the recorded prompts must equal the reference template's
``.format(...)`` in full mode (``en`` and ``zh``) and the condensed texts
in the default mode, truncation included.  The condensed V2 builders that
truncate their material are pinned without Spark.
"""

from __future__ import annotations

import glob
import os
from functools import partial

import pytest

import llmxmapreduce_spark.prompts.prompts_en as en
import llmxmapreduce_spark.prompts.prompts_zh as zh
from llmxmapreduce_spark.llm.survey_mock import SpillingSurveyClient
from llmxmapreduce_spark.operators import grouping
from llmxmapreduce_spark.pipelines import search_crawl as sc
from llmxmapreduce_spark.pipelines import v2_survey as v2

LONG = "".join(f"w{i:04d} " for i in range(1000))        # 6,000 characters


def _emitted(tmp_path, name: str, run) -> list[str]:
    """The prompts ``run(client_factory)`` sends, sorted."""
    d = tmp_path / name
    d.mkdir()
    run(partial(SpillingSurveyClient, str(d)))
    return sorted(open(f, encoding="utf-8").read()
                  for f in glob.glob(os.path.join(d, "*")))


def _run_stages(spark, tmp_path, **mode) -> dict[str, list[str]]:
    topics = spark.createDataFrame(
        [("topic a", "a framing"), ("topic b", None)],
        "topic string, description string")
    hits = spark.createDataFrame(
        [("topic a", "q", "https://u/1", "T1", "snippet one"),
         ("topic a", "q", "https://u/2", "T2", "snippet two")],
        "topic string, query string, url string, title string, snippet string")
    pages = spark.createDataFrame(
        [("topic a", "https://u/1", LONG, False),
         ("topic a", "https://u/2", None, False),
         ("topic a", "https://u/3", "failed page", True)],
        "topic string, url string, raw_content string, error boolean")
    refined = spark.createDataFrame(
        [("topic a", "https://u/1", "T1", LONG),
         ("topic a", "https://u/2", "T2", None)],
        "topic string, url string, title string, filtered string")
    return {
        "expand": _emitted(tmp_path, "expand", lambda c: sc.expand_queries(
            topics, c, **mode).collect()),
        "snippet": _emitted(tmp_path, "snippet", lambda c: sc.score_snippets(
            hits, c, **mode).collect()),
        "refine": _emitted(tmp_path, "refine", lambda c: sc.refine_pages(
            pages, c, **mode).collect()),
        "similarity": _emitted(tmp_path, "similarity", lambda c: sc.score_pages(
            refined, c, **mode).collect()),
    }


def _group_prompts(spark, tmp_path, **mode) -> list[str]:
    papers = spark.createDataFrame(
        [("s1", "Topic", "key_b", "Paper B"), ("s1", "Topic", "key_a", "Paper A"),
         ("s2", "Other", "key_c", "Paper C")],
        "survey_id string, survey_title string, bibkey string, title string")
    return _emitted(tmp_path, "group", lambda c: grouping.llm_group_papers(
        papers, c, batch_size=2, **mode).collect())


@pytest.mark.parametrize("mod", [en, zh], ids=["en", "zh"])
def test_search_crawl_full_prompts(spark, tmp_path, mod):
    lang = mod.__name__.rsplit("_", 1)[-1]
    got = _run_stages(spark, tmp_path, full_prompts=True, prompt_lang=lang)
    assert got["expand"] == sorted([
        mod.QUERY_EXPAND_PROMPT_WITH_ABSTRACT.format(
            topic="topic a", abstract="a framing"),
        mod.QUERY_EXPAND_PROMPT_WITHOUT_ABSTRACT.format(topic="topic b")])
    assert got["snippet"] == sorted(
        mod.SNIPPET_FILTER_PROMPT.format(topic="topic a", snippet=s)
        for s in ("snippet one", "snippet two"))
    assert got["refine"] == sorted(
        mod.PAGE_REFINE_PROMPT.format(topic="topic a", raw_content=c)
        for c in (LONG, ""))
    assert got["similarity"] == sorted(
        mod.SIMILARITY_PROMPT.format(topic="topic a", content=c)
        for c in (LONG, ""))


def test_search_crawl_condensed_prompts(spark, tmp_path):
    got = _run_stages(spark, tmp_path)
    assert got["expand"] == sorted(
        f"[QUERY_EXPAND] Survey title: {t}\nDescription: {d}\n"
        "Propose search queries, ';'-separated, in a fenced ```markdown block."
        for t, d in (("topic a", "a framing"), ("topic b", "")))
    assert got["snippet"] == sorted(
        f"[SNIPPET_SCORE] Survey title: topic a\nSnippet:\n{s}\n"
        "Score 0-100 as <SCORE>n</SCORE>."
        for s in ("snippet one", "snippet two"))
    assert got["refine"] == sorted(
        f"[PAGE_REFINE] Survey title: topic a\nPage:\n{c}\n"
        "Reply with <TITLE>…</TITLE> and <CONTENT>…</CONTENT>."
        for c in (LONG[:4000], ""))
    assert got["similarity"] == sorted(
        f"[SIMILARITY] Survey title: topic a\nContent:\n{c}\n"
        "Score 0-100 as <SCORE>n</SCORE>."
        for c in (LONG[:4000], ""))


@pytest.mark.parametrize("mod", [en, zh], ids=["en", "zh"])
def test_group_full_prompts(spark, tmp_path, mod):
    lang = mod.__name__.rsplit("_", 1)[-1]
    got = _group_prompts(spark, tmp_path, full_prompts=True, prompt_lang=lang)
    assert got == sorted([
        mod.GROUP_PROMPT.format(
            survey_title="Topic",
            titles="Title: \"Paper A\" Bibkey: 'key_a'\n"
                   "Title: \"Paper B\" Bibkey: 'key_b'"),
        mod.GROUP_PROMPT.format(
            survey_title="Other", titles="Title: \"Paper C\" Bibkey: 'key_c'")])


def test_group_condensed_prompts(spark, tmp_path):
    got = _group_prompts(spark, tmp_path)
    lead = ("Cluster these papers into research-direction groups; reply with "
            "bracketed bibkey lists.\n")
    assert got == sorted([
        f"[GROUP] Survey title: Topic\n{lead}- key_a\n- key_b",
        f"[GROUP] Survey title: Other\n{lead}- key_c"])


def test_v2_condensed_prompts_truncate_their_material():
    ps = v2._prompt_set(v2.V2Config())
    assert v2._feedback_prompt(ps, "T", "# O", LONG) == (
        f"[FEEDBACK] Survey title: T\nOutline:\n```markdown\n# O\n```\n"
        f"Digest group:\n{LONG[:3000]}\nReply with a ```suggestion block.")
    assert v2._orchestra_prompt(ps, "T", "# O", "Sec", LONG) == (
        f"[ORCHESTRA] Survey title: T\nSection title: Sec\n"
        f"Digests:\n{LONG[:3000]}\n"
        "Write the section prose, citing papers as [bibkey].")
    assert v2._summary_prompt("T", "Sec", LONG, ps) == (
        f"[SUMMARY] Survey title: T\nSection title: Sec\n"
        f"Subsections:\n{LONG[:3000]}\n"
        "Summarize into the parent section's lead prose.")
    assert v2._digest_prompt(ps, "T", "k1", "# " + LONG, "# O", "# P") == (
        f"[DIGEST] Paper bibkey: k1\nExtract a digest aligned to this outline.\n"
        f"Paper:\n{('# ' + LONG)[:2000]}\nOutline:\n```markdown\n# P\n```\n"
        "Reply with a fenced ```markdown digest matching the outline "
        "structure and a ```suggestion block.")
    assert v2._digest_prompt(ps, "T", "k1", None, "# O", "# P").startswith(
        "[DIGEST] Paper bibkey: k1\nExtract a digest aligned to this "
        "outline.\nPaper:\n\nOutline:")


@pytest.mark.parametrize("mod", [en, zh], ids=["en", "zh"])
def test_v2_full_prompts_of_the_outline_digest_and_decode_builders(mod):
    lang = mod.__name__.rsplit("_", 1)[-1]
    ps = v2._prompt_set(v2.V2Config(full_prompts=True, prompt_lang=lang))
    assert v2._init_outline_prompt(ps, "T", "A") == \
        mod.INIT_OUTLINE_PROMPT.format(title="T", abstracts="A")
    assert v2._concat_outline_prompt(ps, "T", "O1") == \
        mod.CONCAT_OUTLINE_PROMPT.format(title="T", outlines="O1")
    assert v2._digest_prompt(ps, "T", "k1", "# a#b", "# O", "# P") == \
        mod.SINGLE_DIGEST_PROMPT.format(
            paper_bibkey="k1", survey_outline="# O", paper_content=" ab",
            outline_example="# P")
    assert v2._feedback_prompt(ps, "T", "# O", LONG) == \
        mod.DIGEST_BASE_PROMPT.format(title="T", outline="# O", digests=LONG)
    assert v2._orchestra_prompt(ps, "T", "# O", "Sec", LONG) == \
        mod.ORCHESTRA_PROMPT.format(title="T", outline="# O", digest=LONG,
                                    section_title="Sec")
