"""L16 figure generation + J5 figure→section anchor insertion.

Reference: decode/figure_module.py:27-87 — one whole-survey LLM call emits
``Section Title / Position Sentence / Figure Title / fenced code`` blocks;
each figure is matched to its section by normalized title
(``proc_title_to_str``) and inserted as a ``<figure-link …>`` element before
its anchor sentence (first occurrence only).

Spark shape: the parse is a pure function over the LLM reply; J5 is an
equi-join on (survey_id, normalized title) — broadcastable, since figures
per survey are few — and the insertion is a column expression.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.functions.text import normalize_bibkey
from llmxmapreduce_spark.operators.llm_op import llm_stage

_FIGURE_RE = re.compile(
    r"Section Title:\s*(.+?)(?=\n)[\s\n]*Position Sentence:\s*(.+?)(?=\n)"
    r"[\s\n]*Figure Title:\s*(.+?)(?=\n)[\s\n]*```(mermaid|markdown)\n([\s\S]+?)```"
)

FIGURES = T.ArrayType(T.StructType([
    T.StructField("section_title", T.StringType(), False),
    T.StructField("pos_sentence", T.StringType(), False),
    T.StructField("fig_title", T.StringType(), False),
    T.StructField("img_type", T.StringType(), False),
    T.StructField("code", T.StringType(), False),
]))


def parse_figures(reply: str) -> dict:
    """figure_module.py:77-86 parse, order-preserving."""
    out = []
    for m in _FIGURE_RE.finditer(reply):
        out.append({
            "section_title": m.group(1).strip(),
            "pos_sentence": m.group(2).strip(),
            "fig_title": m.group(3).strip(),
            "img_type": m.group(4).strip(),
            "code": m.group(5).strip(),
        })
    return {"figures": out}


def generate_figures(surveys_content: DataFrame, client_factory,
                     retry=None, metrics=None) -> DataFrame:
    """L16: per-survey figure proposals → exploded figure rows
    (``metrics`` meters the calls)."""
    out = llm_stage(
        surveys_content,
        build_prompt=lambda r: (
            f"[FIGURES] Survey title: {r['survey_title']}\n"
            f"Content:\n{r['content_md'][:4000]}\n"
            "Propose figures as 'Section Title:/Position Sentence:/Figure "
            "Title:' headers followed by a fenced mermaid or markdown block."
        ),
        parse=parse_figures,
        client_factory=client_factory,
        payload_fields=[T.StructField("figures", FIGURES, True)],
        keep_cols=["survey_id"],
        retry=retry,
        metrics=metrics,
    ).filter("llm_ok")
    return out.select("survey_id", F.explode_outer("figures").alias("f")) \
        .filter(F.col("f").isNotNull()).select("survey_id", "f.*")


def figure_link(fig_title, img_type, code):
    """figure_module.py:42-44: the inline element, newlines escaped."""
    return F.concat(
        F.lit("<figure-link title='"), fig_title,
        F.lit("' type='"), img_type,
        F.lit("' content='"), F.replace(code, F.lit("\n"), F.lit("\\n")),
        F.lit("'></figure-link>"),
    )


def anchor_figures(sections: DataFrame, figures: DataFrame,
                   id_col: str = "survey_id", title_col: str = "title",
                   content_col: str = "content") -> DataFrame:
    """J5: join figures to sections on (survey, proc_title_to_str(title)),
    then insert each figure link before the first occurrence of its anchor
    sentence (figure_module.py:35-48) — multiple figures fold over the
    content in parse order via ``F.aggregate``.  Sections without figures
    pass through unchanged; anchors not found leave content untouched
    (the reference's ``if pos_sent in content`` guard).
    """
    f = (
        figures.withColumn("__idx", F.monotonically_increasing_id())
        .select(
            F.col(id_col),
            normalize_bibkey(F.col("section_title")).alias("__k"),
            F.struct(
                F.col("__idx").alias("k"),
                F.col("pos_sentence").alias("pos"),
                figure_link(F.col("fig_title"), F.col("img_type"),
                            F.col("code")).alias("link"),
            ).alias("__f"),
        )
        .groupBy(id_col, "__k")
        .agg(F.array_sort(F.collect_list("__f")).alias("__figs"))
    )
    s = sections.withColumn("__k", normalize_bibkey(F.col(title_col)))
    joined = s.join(F.broadcast(f), [id_col, "__k"], "left")

    def insert_one(acc, fg):
        hit = F.instr(acc, fg["pos"])
        return F.when(
            hit > 0,
            F.concat(
                F.substring(acc, F.lit(1), hit - 1),
                F.lit("\n"), fg["link"], F.lit("\n"),
                F.substring(acc, hit, F.lit(2147483647)),
            ),
        ).otherwise(acc)

    inserted = F.when(
        F.col("__figs").isNotNull(),
        F.aggregate(F.col("__figs"), F.col(content_col), insert_one),
    ).otherwise(F.col(content_col))
    return joined.withColumn(content_col, inserted).drop("__k", "__figs")
