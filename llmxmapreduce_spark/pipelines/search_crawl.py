"""Search/crawl front-end pipeline (SURVEY.md §3.2 optional front-end;
reference: start_pipeline.py:81-104, LLM_search.py, async_crawl.py).

topic → L17 query expansion → S3 web search (T7 over-fetch, url dedup) →
L19 snippet scoring → T3 url top-n → S4 crawl → L20 page refine →
L21 similarity scoring → P6 filter+backfill → A5 topic grouping (S6 shape).

Network-dependent steps (search_fn / fetch_fn) are injected; LLM steps run
through the generic ``llm_stage`` so retry/dead-letter/metrics semantics are
identical to the main pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark import prompts
from llmxmapreduce_spark.operators import crawl_ops
from llmxmapreduce_spark.operators.llm_op import llm_stage
from llmxmapreduce_spark.operators.topk import over_fetch
from llmxmapreduce_spark.sources import crawl as crawl_src

_STR = T.StringType()


def _parse_query_block(reply: str) -> dict:
    """LLM_search.py:111-120: fenced block, ';'-separated, quotes stripped."""
    import re

    m = re.search(r"```markdown\n([\s\S]*?)```", reply)
    if not m:
        raise ValueError("QueryParseError: no fenced query block")
    queries = [q.replace('"', "").strip() for q in m.group(1).strip().split(";")
               if q.strip()]
    if not queries:
        raise ValueError("QueryParseError: empty query list")
    return {"queries": queries}


def _parse_score_100(reply: str) -> dict:
    """async_crawl.py:106-110 / LLM_search.py:307-334: integer <SCORE> 0-100."""
    import re

    m = re.search(r"<SCORE>(\d+)</SCORE>", reply)
    if not m:
        raise ValueError("Invalid similarity score format")
    return {"score": int(m.group(1))}


def _parse_title_content(reply: str) -> dict:
    """async_crawl.py:125-137: <TITLE>/<CONTENT> tags."""
    import re

    t = re.search(r"<TITLE>(.*?)</TITLE>", reply, re.DOTALL)
    c = re.search(r"<CONTENT>(.*?)</CONTENT>", reply, re.DOTALL)
    if not t or not c:
        raise ValueError("Invalid response format")
    return {"title": t.group(1).strip(), "filtered": c.group(1).strip()}


def expand_topic(topics: DataFrame, client_factory, retry=None) -> DataFrame:
    """L22 (V3 topic_expansion, llm_search_mcp_server.py:246-266,448-496):
    topic → expanded research framing used as the query-expansion context."""
    return llm_stage(
        topics,
        build_prompt=lambda r: (
            f"[TOPIC_EXPANSION] Survey title: {r['topic']}\n"
            "Expand this topic into a research framing paragraph."
        ),
        parse=lambda s: {"description": s},
        client_factory=client_factory,
        payload_fields=[T.StructField("description", _STR, True)],
        keep_cols=["topic"],
        retry=retry,
    ).filter("llm_ok").select("topic", "description")


def generate_abstracts(pages: DataFrame, client_factory,
                       content_col: str = "filtered", retry=None) -> DataFrame:
    """L23 (V3 per-URL abstracts, llm_search_mcp_server.py:1062-1104)."""
    out = llm_stage(
        pages,
        build_prompt=lambda r: (
            f"[ABSTRACT_GEN] url: {r['url']}\n"
            f"Content:\n{(r[content_col] or '')[:3000]}\nWrite a short abstract."
        ),
        parse=lambda s: {"abstract": s},
        client_factory=client_factory,
        payload_fields=[T.StructField("abstract", _STR, True)],
        keep_cols=["topic", "url"],
        retry=retry,
    ).filter("llm_ok")
    return pages.join(out.select("topic", "url", "abstract"), ["topic", "url"], "left")


def expand_queries(topics: DataFrame, client_factory, retry=None,
                   full_prompts: bool = False,
                   prompt_lang: str = "en") -> DataFrame:
    """L17 (+L18 refinement folded into one validated call): topic →
    exploded (topic, query) rows.  Full mode picks the reference's
    with/without-abstract template by whether a description is present
    (LLM_search.py query expansion)."""
    tp = prompts.table(full_prompts, prompt_lang)

    def build(r):
        desc = r.get("description") or ""
        name = ("QUERY_EXPAND_PROMPT_WITH_ABSTRACT" if desc
                else "QUERY_EXPAND_PROMPT_WITHOUT_ABSTRACT")
        return tp[name].format(topic=r["topic"], abstract=desc)

    out = llm_stage(
        topics,
        build_prompt=build,
        parse=_parse_query_block,
        client_factory=client_factory,
        payload_fields=[T.StructField("queries", T.ArrayType(_STR), True)],
        keep_cols=["topic"],
        retry=retry,
    ).filter("llm_ok")
    return out.select("topic", F.explode("queries").alias("query"))


def score_snippets(hits: DataFrame, client_factory, retry=None,
                   full_prompts: bool = False,
                   prompt_lang: str = "en") -> DataFrame:
    """L19: topic × snippet relevance 0-100."""
    tmpl = prompts.table(full_prompts, prompt_lang)["SNIPPET_FILTER_PROMPT"]
    out = llm_stage(
        hits,
        build_prompt=lambda r: tmpl.format(topic=r["topic"],
                                           snippet=r["snippet"]),
        parse=_parse_score_100,
        client_factory=client_factory,
        payload_fields=[T.StructField("score", T.IntegerType(), True)],
        keep_cols=["topic", "query", "url", "title", "snippet"],
        retry=retry,
    ).filter("llm_ok")
    return out.withColumnRenamed("score", "snippet_score")


def refine_pages(pages: DataFrame, client_factory, retry=None,
                 full_prompts: bool = False,
                 prompt_lang: str = "en") -> DataFrame:
    """L20: raw page → <TITLE>/<CONTENT> boilerplate removal."""
    tmpl = prompts.table(full_prompts, prompt_lang)["PAGE_REFINE_PROMPT"]
    return llm_stage(
        pages.filter(~F.col("error")),
        build_prompt=lambda r: tmpl.format(topic=r["topic"],
                                           raw_content=r["raw_content"] or ""),
        parse=_parse_title_content,
        client_factory=client_factory,
        payload_fields=[T.StructField("title", _STR, True),
                        T.StructField("filtered", _STR, True)],
        keep_cols=["topic", "url"],
        retry=retry,
    ).filter("llm_ok")


def score_pages(refined: DataFrame, client_factory, retry=None,
                full_prompts: bool = False,
                prompt_lang: str = "en") -> DataFrame:
    """L21: topic × cleaned page similarity 0-100."""
    tmpl = prompts.table(full_prompts, prompt_lang)["SIMILARITY_PROMPT"]
    out = llm_stage(
        refined,
        build_prompt=lambda r: tmpl.format(topic=r["topic"],
                                           content=r["filtered"] or ""),
        parse=_parse_score_100,
        client_factory=client_factory,
        payload_fields=[T.StructField("score", T.IntegerType(), True)],
        keep_cols=["topic", "url", "title", "filtered"],
        retry=retry,
    ).filter("llm_ok")
    return out.withColumnRenamed("score", "similarity")


def run_search_crawl(
    topics: DataFrame,
    search_fn_factory,
    fetch_fn_factory,
    client_factory,
    top_n: int = 20,
    snippet_threshold: int = 50,
    similarity_threshold: int = crawl_ops.SIMILARITY_THRESHOLD,
    min_length: int = crawl_ops.MIN_LENGTH,
    max_length: int = crawl_ops.MAX_LENGTH,
    expand_topics: bool = False,
    with_abstracts: bool = False,
    retry=None,
    full_prompts: bool = False,
    prompt_lang: str = "en",
    url_blocklist: DataFrame | None = None,
) -> DataFrame:
    """Full front-end → one row per topic with its filtered papers
    (the S6 ``{"title": topic, "papers": [...]}`` shape).  ``expand_topics``
    enables the V3 L22 framing step; ``with_abstracts`` the V3 L23 per-URL
    abstracts.  ``full_prompts`` swaps the L17/L19/L20/L21 prompts for the
    reference's verbatim texts (the V3-only L22/L23 steps have no
    prompts_en.py counterpart and keep the condensed templates).

    ``url_blocklist`` (one lowercase domain per row, 'domain') drops
    blocklisted-domain hits BEFORE snippet scoring and the crawl — the
    RefinedWeb §3.1 order: a blocked URL costs a string comparison, not
    an LLM snippet call plus a page fetch.  Canonical-URL dedup is NOT
    applied here: the search source already drops exact-duplicate URLs
    per topic (S3), and cross-topic canonical collapse would steal a
    page from every topic but one."""
    if expand_topics:
        topics = expand_topic(topics, client_factory, retry)
    from pyspark.sql import Window

    queries = expand_queries(topics, client_factory, retry,
                             full_prompts=full_prompts, prompt_lang=prompt_lang)
    hits = crawl_src.batch_web_search(queries, search_fn_factory, top_n=top_n)
    if url_blocklist is not None:
        from llmxmapreduce_spark.operators.url_filter import (
            filter_blocked_domains)

        hits = filter_blocked_domains(hits, url_blocklist, url_col="url")
    # L19 gate, then T3: keep the over-fetched top urls per topic by score
    # (LLM_search.py:441-443) before paying for the crawl.
    w = Window.partitionBy("topic").orderBy(
        F.col("snippet_score").desc(), F.col("url").asc())
    scored_hits = (
        score_snippets(hits, client_factory, retry,
                       full_prompts=full_prompts, prompt_lang=prompt_lang)
        .filter(F.col("snippet_score") >= snippet_threshold)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= over_fetch(top_n))
        .drop("__rn")
    )
    pages = crawl_src.crawl_urls(scored_hits, fetch_fn_factory)
    refined = refine_pages(pages, client_factory, retry,
                           full_prompts=full_prompts, prompt_lang=prompt_lang)
    scored = score_pages(refined, client_factory, retry,
                         full_prompts=full_prompts, prompt_lang=prompt_lang) \
        .withColumnRenamed("filtered", "txt")
    paper_cols = ["title", "url", "txt", "similarity"]
    if with_abstracts:
        scored = generate_abstracts(scored, client_factory, content_col="txt",
                                    retry=retry)
        paper_cols.append("abstract")
    kept = crawl_ops.filter_papers(
        scored, similarity_threshold=similarity_threshold,
        min_length=min_length, max_length=max_length, top_n=top_n,
    )
    return crawl_ops.group_topics(kept, paper_cols=paper_cols)
