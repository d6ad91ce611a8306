"""Optional JusText / Resiliparse extraction seams + agreement measure.

Reference ``clean/html_extrator.py:85-204`` extracts main content with
either justext (segmentation → context-free classify → context-sensitive
revise → drop boilerplate) or resiliparse's ``extract_plain_text`` plus
a stopword-density paragraph filter.  Neither library ships in this
container, so the engine's default P17 path is the pure-Catalyst density
gate in :mod:`html_clean` (oracle-checked).  This module provides:

- :func:`justext_paragraphs` / :func:`resiliparse_paragraphs` —
  IMPORT-GATED per-document adapters with the reference's parameter
  surface (length_low/high, stopwords_low/high, link density, heading
  distance; required_stopword_density).  They raise a clear
  ``ImportError`` when the library is absent — the same convention as
  the tiktoken seam in packing.
- :func:`extract_with_library` — the distributed wrapper: one
  ``mapInPandas`` pass, the library object built once per partition.
  ``algorithm="justext_py"`` selects the dependency-free
  context-sensitive reimplementation in :mod:`justext` (always
  available — the r11 default for crawled HTML; the library seams stay
  for deployments that install the real packages).
- :func:`extraction_agreement` — token-set Jaccard between two
  extraction columns, pure Catalyst: the measure used to quantify how
  far the density gate diverges from the reference extractors on a
  fixture corpus (tests/test_html_extractors.py pins the gate against
  labeled fixtures at ≥ 0.9).

Non-spaced languages (th/zh/ja/ko) follow html_extrator.py:45: justext
runs with boilerplate removal DISABLED and resiliparse skips the density
filter — both adapters honor that switch.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llmxmapreduce_spark.operators.html_clean import (
    DENSITY_THRESHOLD,
    NON_SPACED_LANGUAGES,
    stopwords_for,
)

__all__ = [
    "justext_paragraphs",
    "resiliparse_paragraphs",
    "extract_with_library",
    "extraction_agreement",
    "agreement_report",
]


def justext_paragraphs(
    html: str,
    lang: str = "en",
    length_low: int = 70,
    length_high: int = 200,
    stopwords_low: float = 0.30,
    stopwords_high: float = 0.32,
    max_link_density: float = 0.1,
    max_heading_distance: int = 200,
    no_headings: bool = False,
) -> list[str] | None:
    """JusText main-content paragraphs (html_extrator.py:85-200).  Needs
    the ``justext`` + ``lxml`` packages; raises ImportError otherwise."""
    try:
        import justext
        import lxml.sax
    except ImportError as e:  # pragma: no cover - absent in this container
        raise ImportError(
            "justext_paragraphs needs the 'justext' and 'lxml' packages "
            "(pip install justext) — the built-in Catalyst density gate "
            "(html_clean.extract_main_content) is the dependency-free "
            "default") from e

    try:
        dom = justext.core.html_to_dom(html)
        cleaned = justext.core.preprocessor(dom)
        handler = justext.core.ParagraphMaker()
        lxml.sax.saxify(cleaned, handler)
    except Exception:  # noqa: BLE001 - html_extrator.py:152-158
        return None
    paragraphs = handler.paragraphs
    justext.core.classify_paragraphs(
        paragraphs, frozenset(stopwords_for(lang)), length_low, length_high,
        stopwords_low, stopwords_high, max_link_density, no_headings)
    for p in paragraphs:
        p.class_type = p.cf_class
    justext.core.revise_paragraph_classification(
        paragraphs, max_heading_distance)
    if lang in NON_SPACED_LANGUAGES:       # is_boilerplate disabled
        return [p.text for p in paragraphs]
    return [p.text for p in paragraphs if not p.is_boilerplate]


def resiliparse_paragraphs(
    html: str,
    lang: str = "en",
    required_stopword_density: float = DENSITY_THRESHOLD,
    main_content: bool = True,
    alt_texts: bool = False,
) -> list[str] | None:
    """Resiliparse extraction + stopword-density paragraph filter
    (html_extrator.py:204-258).  Needs ``resiliparse``."""
    try:
        from resiliparse.extract.html2text import extract_plain_text
    except ImportError as e:  # pragma: no cover - absent in this container
        raise ImportError(
            "resiliparse_paragraphs needs the 'resiliparse' package — the "
            "built-in Catalyst density gate is the dependency-free "
            "default") from e

    text = extract_plain_text(html, main_content=main_content,
                              alt_texts=alt_texts)
    paragraphs = [p for p in text.split("\n") if p]
    if lang in NON_SPACED_LANGUAGES:       # density filter ignored
        return paragraphs
    sw = set(stopwords_for(lang))
    out = []
    for p in paragraphs:
        words = p.split()
        hits = sum(1 for w in words if w.lower() in sw)
        if words and hits / len(words) >= required_stopword_density:
            out.append(p)
    return out


def extract_with_library(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "main_text",
    algorithm: str = "justext_py",
    lang: str = "en",
    **kwargs,
) -> DataFrame:
    """Distributed wrapper: mapInPandas, extractor resolved once per
    partition (library import cost amortized over the batch).  The
    default is ``justext_py`` (r12) — the dependency-free
    context-sensitive reimplementation, always available; ``justext`` /
    ``resiliparse`` select the library seams, whose import error
    surfaces at ACTION time on executors — call sites that want a
    graceful fallback should try the per-document adapter on the driver
    first."""
    import pandas as pd

    if algorithm not in ("justext", "justext_py", "resiliparse"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    schema = f"{fields}, {out_col} string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if algorithm == "justext_py":
            # dependency-free context-sensitive reimplementation
            # (operators/justext.py) — always available
            from llmxmapreduce_spark.operators.justext import (
                justext_extract_py)

            def fn(html, lang=lang, **kw):
                return justext_extract_py(html, lang=lang, **kw)
        else:
            fn = (justext_paragraphs if algorithm == "justext"
                  else resiliparse_paragraphs)
        for pdf in batches:
            texts = []
            for html in pdf[html_col]:
                paras = fn(html or "", lang=lang, **kwargs)
                texts.append("\n".join(paras) if paras else "")
            pdf[out_col] = texts
            yield pdf

    return df.mapInPandas(run, schema)


def extraction_agreement(a: Column, b: Column) -> Column:
    """Token-set Jaccard between two extracted texts — the divergence
    metric for comparing extractors.  Pure Catalyst (array_intersect /
    array_union on lowered whitespace tokens); empty-vs-empty counts as
    full agreement."""
    ta = F.array_distinct(F.filter(F.split(F.lower(F.trim(a)), r"\s+"),
                                   lambda t: t != F.lit("")))
    tb = F.array_distinct(F.filter(F.split(F.lower(F.trim(b)), r"\s+"),
                                   lambda t: t != F.lit("")))
    union = F.size(F.array_union(ta, tb))
    return F.when(union == 0, F.lit(1.0)) \
        .otherwise(F.size(F.array_intersect(ta, tb)) / union)


def agreement_report(df: DataFrame, a_col: str, b_col: str,
                     by: str | None = None) -> DataFrame:
    """Per-group min/avg agreement between two extraction columns."""
    ag = extraction_agreement(F.col(a_col), F.col(b_col)).alias("__ag")
    d = df.select(*( [by] if by else [] ), ag)
    keys = [by] if by else []
    return d.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("__ag"), 4).alias("avg_agreement"),
        F.round(F.min("__ag"), 4).alias("min_agreement"),
    )
