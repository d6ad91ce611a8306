"""Digest operators: A3 merge + digest-table construction (SURVEY.md §2.5).

Reference: digest_module.py:135-167 (MergeDigestNeuron — despite the name an
LLM-free, deterministic section-wise concat), digest.py:70-96
(from_multiple_digests), digest.py:33-68 (paper enrichment P4/P5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llmxmapreduce_spark.functions import text as X

MERGE_SEPARATOR = "--------------------\n"  # 20 dashes, digest_module.py:166


def merge_digest_descriptions(
    digest_nodes: DataFrame,
    id_cols: list[str] | None = None,
    digest_id_col: str = "digest_id",
    bibkeys_col: str = "bibkeys",
    desc_col: str = "description",
) -> DataFrame:
    """A3: merge k digests into one — per section, concatenate the non-empty
    descriptions as ``Paper bibkey: [<keys>]\\nDigest: \\n<desc>`` joined by
    the 20-dash separator (digest_module.py:155-167).

    The reference iterates digests in list order and joins a frozenset with
    ``''.join`` (nondeterministic); here digest order is ``digest_id`` and
    keys are sorted — the documented deterministic contract.

    One ``groupBy(survey, pos)`` — a single shuffle regardless of digest
    count; descriptions never pass through Python.
    """
    id_cols = id_cols or ["survey_id"]
    entry = F.concat(
        F.lit("Paper bibkey: ["),
        F.concat_ws("", F.array_sort(F.col(bibkeys_col))),
        F.lit("]\nDigest: \n"),
        F.col(desc_col),
    )
    nonempty = (F.col(desc_col).isNotNull()) & (F.col(desc_col) != "")
    return (
        digest_nodes.withColumn(
            "__entry",
            F.when(nonempty, F.struct(F.col(digest_id_col).alias("k"),
                                      entry.alias("v"))),
        )
        .groupBy(*id_cols, "pos")
        .agg(
            F.concat_ws(
                MERGE_SEPARATOR,
                F.transform(
                    F.array_sort(F.collect_list("__entry")), lambda s: s["v"]
                ),
            ).alias("description"),
            F.flatten(F.collect_list(F.col(bibkeys_col))).alias("all_bibkeys"),
        )
        .withColumn("all_bibkeys", F.array_sort(F.array_distinct("all_bibkeys")))
    )


def merge_digest_nodes_py(nodes) -> list[dict]:
    """A3 in Python, for V2's per-survey digest pass: ``nodes`` are one
    survey's per-paper node dicts (``digest_id``, ``bibkey``, ``pos``,
    ``description``), merged per (``digest_id``, ``pos``) into the rows
    :func:`merge_digest_descriptions` gives for them with ``bibkeys =
    [bibkey]``, ``digest_id_col="bibkey"`` and the digest group among the
    ``id_cols``: the non-empty descriptions' entries in (bibkey, entry)
    order, a null bibkey first as Spark sorts a struct's fields, and
    ``all_bibkeys`` sorted and distinct, a null key last.
    → (``digest_id``, ``pos``, ``description``, ``all_bibkeys``) dicts in
    (digest_id, pos) order."""
    by_key: dict[tuple, list[dict]] = {}
    for n in nodes:
        by_key.setdefault((n["digest_id"], n["pos"]), []).append(n)
    out = []
    for digest_id, pos in sorted(by_key):
        group = by_key[digest_id, pos]
        entries = sorted(
            (n["bibkey"] is not None, n["bibkey"] or "",
             f"Paper bibkey: [{n['bibkey'] or ''}]\nDigest: \n{n['description']}")
            for n in group if n["description"])
        keys = {n["bibkey"] for n in group}
        out.append({
            "digest_id": digest_id, "pos": pos,
            "description": MERGE_SEPARATOR.join(e[2] for e in entries),
            "all_bibkeys": sorted(keys - {None}) + [None] * (None in keys),
        })
    return out


def enrich_papers(papers: DataFrame, txt_col: str = "txt",
                  abstract_col: str = "abstract",
                  token_col: str = "txt_token") -> DataFrame:
    """P4+P5 paper enrichment (digest.py:33-68): 800k-token cap and
    ``abstract = txt[:500]`` fallback, plus P3 citation stripping into
    ``content`` (pre_proc_paper)."""
    capped = X.truncate_tokens(F.col(txt_col), F.col(token_col))
    return (
        papers.withColumn("content", X.strip_citations(capped))
        .withColumn(abstract_col,
                    X.abstract_fallback(F.col(abstract_col), F.col(txt_col)))
    )
