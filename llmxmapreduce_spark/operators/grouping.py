"""Grouping / batching operators C6-C7 (SURVEY.md §2.4).

Reference: skeleton_init_module.py:25-32 (C6 shuffled fixed batches),
group_module.py:47-53 (random grouping), :62-116 (``regroup_result`` — the
LLM-group repair pass).

Determinism: the reference uses unseeded ``random.shuffle``; here "shuffle"
means ordering by a keyed hash (md5 of key + seed) — reproducible across
runs AND engines (FIXTURES.md rule 1), and partition-independent, unlike
``rand(seed)`` whose draw depends on row partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hash_shuffled_batches(
    df: DataFrame,
    key_col: str,
    batch_size: int,
    seed: int = 42,
    partition_cols: list[str] | None = None,
    group_col: str = "group_id",
) -> DataFrame:
    """C6/C7-random: pseudo-shuffle rows by md5(key||seed) then cut into
    fixed-size batches per partition group: group_id = floor(rank/size)."""
    order = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}")))
    w = Window.partitionBy(*(partition_cols or [])).orderBy(order, F.col(key_col))
    return df.withColumn(
        group_col, F.floor((F.row_number().over(w) - 1) / batch_size).cast("int")
    )


def regroup_result_py(result: list[list[str]], rest_bibkeys: list[str],
                      batch_size: int) -> list[list[str]]:
    """group_module.py:62-100 ``regroup_result`` port: split oversize groups,
    greedily combine small ones, backfill from leftovers, batch the rest.

    The reference pops from an (unordered) set and shuffles unseeded; this
    port takes ``rest_bibkeys`` as an ordered list and 'shuffles' by sorted
    md5 — same repair semantics, reproducible output.
    """
    import hashlib

    final_result: list[list[str]] = []
    remaining_groups: list[list[str]] = []
    for group in result:
        group = list(group)
        while len(group) >= batch_size:
            final_result.append(group[:batch_size])
            group = group[batch_size:]
        if group:
            remaining_groups.append(group)

    remaining_groups.sort(key=len, reverse=True)

    combined_groups: list[list[str]] = []
    while remaining_groups:
        group1 = remaining_groups.pop(0)
        for i in range(1, len(remaining_groups) - 1):
            group2 = remaining_groups[i]
            if len(group1) + len(group2) <= batch_size:
                final_result.append(group1 + group2)
                remaining_groups.pop(i)
                break
        else:
            combined_groups.append(group1)

    rest = list(rest_bibkeys)
    for group in combined_groups:
        while len(group) < batch_size and rest:
            group.append(rest.pop())
        final_result.append(group)

    rest.sort(key=lambda k: hashlib.md5(f"{k}#42".encode()).hexdigest())
    for i in range(0, len(rest), batch_size):
        final_result.append(rest[i:i + batch_size])
    return final_result


def parse_group_result_py(raw_result: str, bibkeys: list[str]
                          ) -> tuple[list[list[str]], list[str]]:
    """group_module.py:117-133 ``_parse_group_result``: bracket groups →
    lists; hallucinated keys dropped; unassigned keys returned (ordered,
    unlike the reference's set)."""
    import re

    from llmxmapreduce_spark.functions.text import _str2list_py

    result = [_str2list_py(g) for g in re.findall(r"\[(.*?)\]", raw_result)]
    known = set(bibkeys)
    result = [[b for b in group if b in known] for group in result]
    assigned = {b for group in result for b in group}
    rest = [b for b in bibkeys if b not in assigned]
    return [g for g in result if g], rest


def llm_group_papers(papers, client_factory, batch_size: int,
                     retry=None, group_col: str = "digest_id",
                     full_prompts: bool = False, prompt_lang: str = "en",
                     metrics=None):
    """C7 'llm' mode (L4 GroupNeuron + repair, group_module.py:62-133):
    one LLM call per survey proposes semantic groups over (title, bibkey)
    pairs; ``regroup_result_py`` repairs sizes; output = papers with a
    ``digest_id`` assignment.

    The per-survey title list is small (collect_list per survey inside the
    stage's Arrow batch) — the papers themselves never round-trip through
    the prompt.  ``full_prompts`` picks the reference's GROUP_PROMPT
    (group_module.py:160-173: papers listed as ``Title: "…" Bibkey: '…'``)
    from ``prompts.table``.  ``metrics`` meters the L4 calls.  Each
    ``(survey_id, bibkey)`` gets one assignment, so every paper keeps one
    row, a bibkey shared by two papers included.

    The result is lazy: every action that reads it makes the L4 calls
    again, so a caller with several readers checkpoints it once.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from llmxmapreduce_spark import prompts
    from llmxmapreduce_spark.operators.llm_op import llm_stage

    tmpl = prompts.table(full_prompts, prompt_lang)["GROUP_PROMPT"]

    per_survey = papers.groupBy("survey_id", "survey_title").agg(
        F.array_sort(F.collect_list("bibkey")).alias("bibkeys"),
        F.array_sort(F.collect_list(
            F.struct(F.col("bibkey").alias("k"), F.col("title").alias("t"))
        )).alias("paper_infos"),
    )

    out = llm_stage(
        per_survey,
        build_prompt=lambda r: tmpl.format(
            survey_title=r["survey_title"],
            titles="\n".join(f"Title: \"{p['t']}\" Bibkey: '{p['k']}'"
                             for p in r["paper_infos"]),
            bibkeys="\n".join(f"- {k}" for k in r["bibkeys"])),
        parse=lambda reply: {"reply": reply},
        client_factory=client_factory,
        payload_fields=[T.StructField("reply", T.StringType(), True)],
        keep_cols=["survey_id", "bibkeys"],
        retry=retry,
        metrics=metrics,
    ).filter("llm_ok")

    assign_type = T.ArrayType(T.StructType([
        T.StructField("bibkey", T.StringType(), False),
        T.StructField("gid", T.IntegerType(), False),
    ]))

    @F.pandas_udf(assign_type)
    def assign(reply, bibkeys):
        import pandas as pd

        def one(rep, keys):
            groups, rest = parse_group_result_py(rep, list(dict.fromkeys(keys)))
            gid_of: dict[str, int] = {}     # a key's first group wins
            for gid, group in enumerate(regroup_result_py(groups, rest,
                                                          batch_size)):
                for b in group:
                    gid_of.setdefault(b, gid)
            return [{"bibkey": b, "gid": gid} for b, gid in gid_of.items()]

        return pd.Series([one(r, k) for r, k in zip(reply, bibkeys)])

    assignments = out.select(
        "survey_id", F.explode(assign(F.col("reply"), F.col("bibkeys"))).alias("a")
    ).select("survey_id", "a.bibkey", F.col("a.gid").alias(group_col))
    return papers.join(assignments, ["survey_id", "bibkey"])
