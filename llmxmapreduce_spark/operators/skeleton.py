"""Skeleton (outline) tree layer: markdown ⇄ tree, J1 alignment join.

Reference: src/data_structure/skeleton.py:75-169 (parse/serialize),
treenode.py:1-79 (preorder index paths), digest.py:238-255
(``find_matching_section`` structural correspondence).

The tree lives in DataFrames as exploded node rows
``(survey_id, pos, node_path, depth, title, description, construction,
analysis)`` where ``pos`` is the preorder position and ``node_path`` the
reference's ``index`` list.  Parse/serialize are per-survey pure functions
(Arrow-batched pandas UDFs — surveys are independent, so the layer scales
horizontally); alignment is an equi-join on (survey_id, pos), with
mismatches surfaced as rows instead of the reference's
StructureNotCorrespondingError.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# pure-Python tree core (ports)
# --------------------------------------------------------------------------

# shared with the column-level P10 parsers (functions/text.py) so the Python
# and Catalyst paths can't drift apart
from llmxmapreduce_spark.functions.text import _HEADING_PATTERN  # noqa: E402

_HEADING_RE = re.compile(_HEADING_PATTERN)
_CONSTRUCTION_RE = re.compile(r"Digest Construction:\s*(.*)\s*Digest Analysis:", re.DOTALL)
_ANALYSIS_RE = re.compile(r"Digest Analysis:\s*(.*)", re.DOTALL)


def get_section_title_py(line: str) -> tuple[int, str]:
    """process_str.py:22-29: ('## 1.2 T [cite]') -> (2, 'T ') with bracketed
    citations deleted (remove_illegal_bibkeys with no legal keys)."""
    m = _HEADING_RE.match(line)
    if not m:
        return 0, ""
    hashes, title = m.groups()
    title = re.sub(r"\[.*?\]", "", title)
    return len(hashes), title


def parse_outline_py(provide_title: str, raw_outline: str) -> list[dict]:
    """skeleton.py:89-124 ``parse_raw_skeleton`` on an already-unfenced
    outline: returns preorder node dicts.  Root gets the provided title and
    path [0]; heading lines push/pop a (node, heading_depth) stack; plain
    lines accumulate into the open node's description."""
    lines = raw_outline.split("\n")
    root = {"node_path": [0], "depth": 0, "title": provide_title, "description": "",
            "children": 0}
    nodes = [root]
    stack = [(root, 1)]
    for line in lines[1:]:
        depth, title = get_section_title_py(line)
        if depth > 0:
            node = {"title": title, "description": "", "children": 0}
            while stack and stack[-1][1] >= depth:
                stack[-1][0]["description"] = stack[-1][0]["description"].strip()
                stack.pop()
            # orphan subtrees (heading above the root level, or a descendant
            # of one) are unreachable from the root in the reference and are
            # dropped entirely — including their children.
            if stack and stack[-1][0]["node_path"][0] != -1:
                parent = stack[-1][0]
                node["node_path"] = parent["node_path"] + [parent["children"]]
                node["depth"] = parent["depth"] + 1
                parent["children"] += 1
                nodes.append(node)
            else:
                node["node_path"] = [-1]
                node["depth"] = depth
            stack.append((node, depth))
        elif line:
            stack[-1][0]["description"] += line + "\n"
    out = []
    for pos, n in enumerate(nodes):
        desc = n["description"].strip()
        cm = _CONSTRUCTION_RE.search(desc)
        am = _ANALYSIS_RE.search(desc)
        out.append({
            "pos": pos,
            "node_path": n["node_path"],
            "depth": n["depth"],
            "title": n["title"],
            "description": desc,
            "construction": cm.group(1).strip() if cm else "",
            "analysis": am.group(1).strip() if am else "",
            "n_children": n["children"],
        })
    return out


def number_index(node_path: list[int]) -> str:
    """treenode.py:68-79: [0] -> '0.', [0,2] -> '3.', [0,1,0] -> '2.1'."""
    idx = list(node_path[1:])
    if not idx:
        return "0."
    if len(idx) == 1:
        return f"{idx[0] + 1}."
    return ".".join(str(i + 1) for i in idx)


def serialize_outline_py(
    nodes: list[dict],
    construction: bool = False,
    analysis: bool = False,
    with_digest_placeholder: bool = False,
    with_index: bool = False,
    with_label: bool = True,
) -> str:
    """skeleton.py:28-57,147-169 ``all_skeleton``: preorder join of
    per-node blocks."""
    parts = []
    for n in sorted(nodes, key=lambda x: x["pos"]):
        prefix = "#" * (n["depth"] + 1)
        if with_index and n["depth"] > 0:
            content = f"\n{prefix} {number_index(n['node_path'])} {n['title']}"
        else:
            content = f"\n{prefix} {n['title']}"
        has_desc = bool(n["description"])
        if construction and not analysis and has_desc:
            content += f"\n{n['construction']}"
        elif analysis and not construction and has_desc:
            content += f"\n{n['analysis']}"
        elif construction and analysis and has_desc and with_label:
            content += (f"\nDigest Construction: \n{n['construction']}"
                        f"\nDigest Analysis: \n{n['analysis']}\n")
        elif construction and analysis and has_desc and not with_label:
            content += f"\n{n['construction']}\n{n['analysis']}"
        if with_digest_placeholder and n["depth"] != 0:
            content += (
                "\nExtracted relevant content from the given paper. If no "
                "related information is available for a particular section, "
                "retain the section title and just leave <EMPTY> in section "
                "description."
            )
        parts.append(content)
    return "\n".join(parts).strip()


# --------------------------------------------------------------------------
# Spark layer
# --------------------------------------------------------------------------

NODE_FIELDS = T.StructType([
    T.StructField("pos", T.IntegerType(), False),
    T.StructField("node_path", T.ArrayType(T.IntegerType()), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("title", T.StringType(), False),
    T.StructField("description", T.StringType(), True),
    T.StructField("construction", T.StringType(), True),
    T.StructField("analysis", T.StringType(), True),
    T.StructField("n_children", T.IntegerType(), False),
])


def _norm_title_py(t: str) -> str:
    return re.sub(r"\s+", " ", (t or "").lower()).strip()


def align_reason_py(provide_title: str, outline_md: str,
                    digest_md: str) -> str | None:
    """Scalar form of :func:`align_digest_nodes` for one (outline, digest)
    pair (digest.py:238-255): the first mismatch reason of
    :func:`align_reason_nodes`, or ``None`` when the digest's structure
    corresponds fully."""
    return align_reason_nodes(parse_outline_py(provide_title, outline_md),
                              parse_outline_py(provide_title, digest_md))


def align_reason_nodes(outline: list[dict], digest: list[dict]) -> str | None:
    """Positional compare of two preorder node lists
    (:func:`parse_outline_py`): the first mismatch reason, or ``None``.
    The V2 digest pass parses each outline once and each digest once, and
    keeps the digest's nodes for the merge."""
    for pos in range(max(len(outline), len(digest))):
        if pos >= len(outline):
            return "extra digest section"
        if pos >= len(digest):
            return "missing digest section"
        if (_norm_title_py(outline[pos]["title"])
                != _norm_title_py(digest[pos]["title"])):
            return "title mismatch"
        if outline[pos]["node_path"] != digest[pos]["node_path"]:
            return "index mismatch"
    return None


def parse_outlines(df: DataFrame, id_col: str = "survey_id",
                   title_col: str = "title", md_col: str = "markdown") -> DataFrame:
    """(survey_id, title, markdown) → exploded skeleton_nodes rows."""

    @F.pandas_udf(T.ArrayType(NODE_FIELDS))
    def parse_udf(titles: pd.Series, mds: pd.Series) -> pd.Series:
        return pd.Series([
            parse_outline_py(t, m) for t, m in zip(titles, mds)
        ])

    return (
        df.select(F.col(id_col), parse_udf(F.col(title_col), F.col(md_col)).alias("n"))
        .select(id_col, F.explode("n").alias("node"))
        .select(id_col, "node.*")
    )


def serialize_outlines(nodes: DataFrame, id_col: str = "survey_id",
                       **kwargs) -> DataFrame:
    """skeleton_nodes rows → (survey_id, markdown) via per-survey
    applyInPandas (the inverse of :func:`parse_outlines`)."""
    out_schema = T.StructType([
        nodes.schema[id_col],
        T.StructField("markdown", T.StringType(), True),
    ])

    def serialize(pdf: pd.DataFrame) -> pd.DataFrame:
        md = serialize_outline_py(pdf.to_dict("records"), **kwargs)
        return pd.DataFrame([{id_col: pdf[id_col].iloc[0], "markdown": md}])

    return nodes.groupBy(id_col).applyInPandas(serialize, schema=out_schema)


def _norm_title(c):
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def align_digest_nodes(
    outline_nodes: DataFrame,
    digest_nodes: DataFrame,
    id_cols: list[str] | None = None,
    digest_id_col: str = "digest_id",
) -> tuple[DataFrame, DataFrame]:
    """J1 structural correspondence (digest.py:238-255): positional join on
    (survey, pos); a pair matches when normalized titles AND index paths
    agree.  Returns (matched, mismatched) — mismatches carry a reason column
    instead of raising StructureNotCorrespondingError; count differences
    surface as null-sided rows of the full outer join."""
    id_cols = id_cols or ["survey_id"]
    o = outline_nodes.select(
        *id_cols, F.col("pos"),
        F.col("node_path").alias("o_path"), F.col("title").alias("o_title"),
    )
    d = digest_nodes.select(
        *id_cols, F.col(digest_id_col), F.col("pos"),
        F.col("node_path").alias("d_path"), F.col("title").alias("d_title"),
    )
    joined = d.join(o, [*id_cols, "pos"], "full_outer")
    ok = (
        F.col("o_title").isNotNull() & F.col("d_title").isNotNull()
        & (_norm_title(F.col("o_title")) == _norm_title(F.col("d_title")))
        & (F.col("o_path") == F.col("d_path"))
    )
    reason = (
        F.when(F.col("o_title").isNull(), "extra digest section")
        .when(F.col("d_title").isNull(), "missing digest section")
        .when(_norm_title(F.col("o_title")) != _norm_title(F.col("d_title")),
              "title mismatch")
        .otherwise("index mismatch")
    )
    matched = joined.filter(ok).select(*id_cols, digest_id_col, "pos",
                                       F.col("o_path").alias("node_path"),
                                       F.col("o_title").alias("title"))
    mismatched = joined.filter(~ok).withColumn("reason", reason).select(
        *id_cols, digest_id_col, "pos", "reason"
    )
    return matched, mismatched
