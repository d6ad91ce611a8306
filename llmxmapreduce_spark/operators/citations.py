"""Citation operators: P8 scrub and P12 renumbering (SURVEY.md §2).

Reference: decode_pipeline.py:115-156 (``change_bibkey_to_index``),
process_str.py:44-110 (``remove_illegal_bibkeys``).

:func:`renumber_citations_py` is the per-content rewrite (regex + difflib
are not expressible as Catalyst expressions).  The survey decode calls it
inside its per-survey tail pass (``v2_survey.decode_tail``), which also
computes A7 ``cite_ratio`` and the references block in the same Python
pass.  :func:`renumber_citations` is the same rewrite as a DataFrame
operator: the per-survey ordered paper list travels as an array column via
a broadcast join (J3), and an Arrow-batched pandas UDF rewrites each row.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.functions.text import (
    _list2str_py,  # noqa: F401  (re-exported for tests)
    _str2list_py,
    scrub_illegal_citations_py,
)

_CITE_RE = re.compile(r"\[([^\]]+)\]")


def renumber_citations_py(content: str, ordered_bibkeys: list[str]) -> tuple[str, list[str]]:
    """decode_pipeline.py:119-145 ``replace_bibkey``: rewrite ``[k1, k2]`` to
    sorted unique 1-based indices ``[i,j]``; unknown keys vanish; an all-
    unknown group is deleted.  Returns (new_content, cited_bibkeys)."""
    cited: list[str] = []
    index_of = {k: i + 1 for i, k in enumerate(ordered_bibkeys)}

    def repl(m: re.Match) -> str:
        keys = _str2list_py(m.group(1))
        indices = []
        for k in keys:
            k = k.strip().replace("-", "_")
            if k in index_of:
                cited.append(k)
                indices.append(index_of[k])
        indices = sorted(set(indices))
        return "[" + ",".join(str(i) for i in indices) + "]" if indices else ""

    return _CITE_RE.sub(repl, content), cited


def renumber_citations(
    sections: DataFrame,
    papers: DataFrame,
    id_col: str = "survey_id",
    content_col: str = "content",
    bibkey_col: str = "bibkey",
    order_col: str = "paper_pos",
    scrub: bool = True,
) -> DataFrame:
    """P12 over DataFrames: sections (survey, pos, content) × papers
    (survey, paper_pos, bibkey) → sections with ``content`` renumbered and a
    ``cited_bibkeys`` array for downstream A7.

    The per-survey ordered bibkey list is built once (groupBy + sort) and
    joined onto sections — at 100 TB the papers side is tiny relative to
    content and broadcasts.
    """
    keys = papers.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col(order_col).alias("o"),
                                                 F.col(bibkey_col).alias("k")))),
            lambda s: s["k"],
        ).alias("__keys")
    )

    out_type = T.StructType([
        T.StructField("content", T.StringType(), True),
        T.StructField("cited_bibkeys", T.ArrayType(T.StringType()), True),
    ])

    @F.pandas_udf(out_type)
    def rewrite(content: pd.Series, keylists: pd.Series) -> pd.DataFrame:
        new_contents, cited_lists = [], []
        for c, kl in zip(content, keylists):
            # survey with no papers (left join -> null keys) or null content:
            # pass through instead of killing the task
            kl = list(kl) if kl is not None else []
            if c is None:
                new_contents.append(None)
                cited_lists.append([])
                continue
            if scrub:
                c = scrub_illegal_citations_py(c, kl)
            nc, cited = renumber_citations_py(c, kl)
            new_contents.append(nc)
            cited_lists.append(sorted(set(cited)))
        return pd.DataFrame({"content": new_contents, "cited_bibkeys": cited_lists})

    joined = sections.join(F.broadcast(keys), id_col, "left")
    res = rewrite(F.col(content_col), F.col("__keys"))
    return (
        joined.withColumn("__res", res)
        .withColumn(content_col, F.col("__res.content"))
        .withColumn("cited_bibkeys", F.col("__res.cited_bibkeys"))
        .drop("__keys", "__res")
    )
