"""P17 — context-sensitive jusText block classification, dependency-free.

Reference ``clean/html_extrator.py:85-200`` delegates to the public
jusText library: segment HTML into blocks, classify each block
context-FREE (link density, length, stopword density), then revise
short/near-good blocks context-SENSITIVELY from their neighbours — "main
content clusters together, as does boilerplate".  The neighbour pass is
the part the pure-Catalyst density gate in :mod:`html_clean` structurally
cannot do (r10 verdict: the last measured behavioral gap vs the
reference), and the library isn't in this container.

This module reimplements the PUBLISHED jusText algorithm (Pomikálek,
"Removing Boilerplate and Duplicate Content from Web Corpora", 2011;
the algorithm description at https://corpus.tools/wiki/Justext/Algorithm)
from scratch: a regex tag-stream segmenter (same block boundaries as
html_clean._blocks — inline tags don't split), the context-free decision
table, and the five-step context-sensitive revision (heading promotion,
short classification from strict neighbours, near-good resolution, final
heading rescue).  No external parser: deterministic, picklable, safe to
ship to executors.

Scale: the classification is per-document and sequential over that
document's blocks (bounded by page size — tens to hundreds of blocks),
so the distributed wrapper is one Arrow-batched ``mapInPandas`` pass
with NO shuffle: embarrassingly parallel over documents, the same shape
the reference's per-record extractor has inside its worker pool.  The
Catalyst gate remains the SQL-expressible oracle twin; this path is
pytest-gated against labeled and hostile fixtures (non-SQL-expressible:
the neighbour recursion has no portable DuckDB form).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame

from llmxmapreduce_spark.operators.html_clean import (
    INLINE_TAGS,
    NON_SPACED_LANGUAGES,
    stopwords_for,
)

__all__ = [
    "Block",
    "segment_blocks",
    "classify_context_free",
    "revise_classification",
    "justext_extract_py",
    "justext_extract",
]

# jusText defaults — the exact parameter surface the reference exposes
# (html_extrator.py:87-96).
LENGTH_LOW = 70
LENGTH_HIGH = 200
STOPWORDS_LOW = 0.30
STOPWORDS_HIGH = 0.32
MAX_LINK_DENSITY = 0.1
MAX_HEADING_DISTANCE = 200

_TAG = re.compile(r"<[^>]*>")
_TAG_NAME = re.compile(r"</?\s*([a-zA-Z][a-zA-Z0-9]*)")
_WS = re.compile(r"\s+")
_INLINE = frozenset(INLINE_TAGS.split("|"))
_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
# subtrees whose text never reaches the block stream (the jusText
# preprocessor removes head/script/style; <select> content is instead
# FLAGGED and classified bad — handled via select_depth below)
_DROP_SUBTREE = frozenset({"script", "style", "head"})
# stdlib html.unescape handles the full named + numeric entity set in
# one pass (a hand-rolled sequential replace map mis-handled numeric
# forms like &#169; — the copyright rule then missed real footers — and
# double-unescaped "&amp;lt;" — r11 review finding)


@dataclass
class Block:
    """One textual block with the jusText classification facts."""

    text: str
    is_heading: bool = False
    chars_in_links: int = 0
    in_select: bool = False
    cf_class: str = "short"      # context-free class
    class_type: str = "short"    # revised (final) class
    words: list[str] = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.text)


def _unescape(s: str) -> str:
    if "&" not in s:
        return s
    import html
    return html.unescape(s)


def segment_blocks(html: str) -> list[Block]:
    """Regex tag-stream segmentation: block-level tags end the current
    block, inline (phrasing) tags don't — the SAME boundary rule as
    html_clean._blocks, plus the per-block facts the classifier needs
    (heading origin, characters inside <a>, select origin).  Entity
    unescape covers the named set the copyright rule cares about."""
    blocks: list[Block] = []
    buf: list[str] = []
    linked = 0
    drop_depth = 0
    link_depth = 0
    in_heading = False
    select_depth = 0
    br_pending = False

    def flush() -> None:
        nonlocal buf, linked, br_pending
        text = _WS.sub(" ", "".join(buf)).strip()
        if text:
            blocks.append(Block(
                text=text,
                is_heading=in_heading,
                chars_in_links=min(linked, len(text)),
                in_select=select_depth > 0,
            ))
        buf, linked, br_pending = [], 0, False

    pos = 0
    for m in _TAG.finditer(html):
        if m.start() > pos and drop_depth == 0:
            piece = _unescape(html[pos:m.start()])
            buf.append(piece)
            if piece.strip():
                br_pending = False
            if link_depth > 0:
                linked += len(_WS.sub(" ", piece).strip())
        pos = m.end()
        tag = m.group(0)
        nm = _TAG_NAME.match(tag)
        name = nm.group(1).lower() if nm else ""
        closing = tag.startswith("</")
        self_closing = tag.endswith("/>")
        if name in _DROP_SUBTREE:
            if closing:
                drop_depth = max(0, drop_depth - 1)
            elif not self_closing:
                drop_depth += 1
            continue
        if drop_depth > 0:
            # inside script/style/head etc. NOTHING else may mutate
            # state: a '<select>' token in a JS string (e.g.
            # document.write('<select>')) must not touch select_depth —
            # an unclosed one would mark every later block in_select and
            # the whole page would extract empty (r11 ADVICE, medium)
            continue
        if name == "select":
            # select CONTENT becomes a bad-classified block, not a drop
            # (jusText: dom_path ^select → cf bad); flush BEFORE the
            # depth change so the inside/outside text keeps its flag
            flush()
            if closing:
                select_depth = max(0, select_depth - 1)
            elif not self_closing:
                select_depth += 1
            continue
        if name == "a":
            if closing:
                link_depth = max(0, link_depth - 1)
            elif not self_closing:
                link_depth += 1
            continue                      # <a> is inline: no block break
        if name in _INLINE:
            continue                      # phrasing tags don't split
        if name == "br":
            # single <br> is soft (normalized to a space); <br><br>
            # with nothing but whitespace between IS a paragraph
            # boundary — the published jusText preprocessing (r11
            # review: merging the pair let boilerplate lines dilute an
            # adjacent article paragraph's densities)
            if br_pending:
                flush()
            else:
                buf.append("\n")
                br_pending = True
            continue
        # block-level boundary.  Heading state is a single auto-closing
        # flag, not a depth: real parsers auto-close h-elements at the
        # next block tag, and depth-counting left EVERY later block
        # heading-flagged after an unclosed <hN> (r11 review).  The flag
        # is set only by a non-self-closed heading OPEN and cleared by
        # any other block boundary, including the heading's close.
        flush()
        in_heading = (name in _HEADINGS and not closing
                      and not self_closing)
    if pos < len(html) and drop_depth == 0:
        piece = _unescape(html[pos:])
        buf.append(piece)
        if link_depth > 0:
            linked += len(_WS.sub(" ", piece).strip())
    flush()
    return blocks


def classify_context_free(
    blocks: list[Block],
    stopwords: frozenset[str],
    length_low: int = LENGTH_LOW,
    length_high: int = LENGTH_HIGH,
    stopwords_low: float = STOPWORDS_LOW,
    stopwords_high: float = STOPWORDS_HIGH,
    max_link_density: float = MAX_LINK_DENSITY,
    no_headings: bool = False,
) -> None:
    """The jusText context-free decision table, in place: bad on link
    density / copyright / select origin; short below length_low;
    good/near-good by stopword density above it."""
    for b in blocks:
        b.words = b.text.split()
        n_words = len(b.words)
        hits = sum(1 for w in b.words if w.lower() in stopwords)
        density = hits / n_words if n_words else 0.0
        link_density = b.chars_in_links / len(b.text) if b.text else 0.0
        b.is_heading = bool(not no_headings and b.is_heading)

        if link_density > max_link_density:
            b.cf_class = "bad"
        elif "\xa9" in b.text or "&copy" in b.text:
            b.cf_class = "bad"
        elif b.in_select:
            b.cf_class = "bad"
        elif len(b.text) < length_low:
            b.cf_class = "bad" if b.chars_in_links > 0 else "short"
        elif density >= stopwords_high:
            b.cf_class = "good" if len(b.text) > length_high else "neargood"
        elif density >= stopwords_low:
            b.cf_class = "neargood"
        else:
            b.cf_class = "bad"
        b.class_type = b.cf_class


def _neighbour(blocks: list[Block], i: int, inc: int, boundary: int,
               ignore_neargood: bool) -> str:
    """Nearest decisive neighbour class walking by ``inc``; document
    edges count as bad (boilerplate frames the page)."""
    while i + inc != boundary:
        i += inc
        c = blocks[i].class_type
        if c in ("good", "bad"):
            return c
        if c == "neargood" and not ignore_neargood:
            return c
    return "bad"


def revise_classification(
    blocks: list[Block],
    max_heading_distance: int = MAX_HEADING_DISTANCE,
) -> None:
    """The jusText context-sensitive revision, in place, in the published
    order — each step reads the classes the previous step left:

    1. short HEADINGS within max_heading_distance (chars) of a good
       block are promoted to near-good;
    2. every remaining short block takes the class of its strict
       (good/bad-only) neighbours: good+good → good, bad+bad → bad,
       mixed → good only when the bad side is actually buffered by a
       near-good (all decisions read the PRE-step classes);
    3. near-good blocks collapse: bad on both strict sides → bad,
       otherwise good (sequential — earlier resolutions feed later
       neighbour walks, left to right);
    4. headings the context pass demoted to bad (but that were not
       context-free bad) get rescued to good if good content follows
       within max_heading_distance.
    """
    n = len(blocks)

    # 1. heading promotion
    for i, b in enumerate(blocks):
        if not (b.is_heading and b.class_type == "short"):
            continue
        j, distance = i + 1, 0
        while j < n and distance <= max_heading_distance:
            if blocks[j].class_type == "good":
                b.class_type = "neargood"
                break
            distance += len(blocks[j].text)
            j += 1

    # 2. classify short — decisions collected first, applied after, so
    # every short block reads the same pre-step state
    new_classes: dict[int, str] = {}
    for i, b in enumerate(blocks):
        if b.class_type != "short":
            continue
        prev = _neighbour(blocks, i, -1, -1, ignore_neargood=True)
        nxt = _neighbour(blocks, i, +1, n, ignore_neargood=True)
        neighbours = {prev, nxt}
        if neighbours == {"good"}:
            new_classes[i] = "good"
        elif neighbours == {"bad"}:
            new_classes[i] = "bad"
        # mixed {good, bad}: good wins only across a near-good buffer
        elif (prev == "bad" and _neighbour(
                blocks, i, -1, -1, ignore_neargood=False) == "neargood") or \
             (nxt == "bad" and _neighbour(
                blocks, i, +1, n, ignore_neargood=False) == "neargood"):
            new_classes[i] = "good"
        else:
            new_classes[i] = "bad"
    for i, c in new_classes.items():
        blocks[i].class_type = c

    # 3. resolve neargood (sequential, in place)
    for i, b in enumerate(blocks):
        if b.class_type != "neargood":
            continue
        prev = _neighbour(blocks, i, -1, -1, ignore_neargood=True)
        nxt = _neighbour(blocks, i, +1, n, ignore_neargood=True)
        b.class_type = "bad" if (prev, nxt) == ("bad", "bad") else "good"

    # 4. final heading rescue
    for i, b in enumerate(blocks):
        if not (b.is_heading and b.class_type == "bad"
                and b.cf_class != "bad"):
            continue
        j, distance = i + 1, 0
        while j < n and distance <= max_heading_distance:
            if blocks[j].class_type == "good":
                b.class_type = "good"
                break
            distance += len(blocks[j].text)
            j += 1


def justext_extract_py(
    html: str,
    lang: str = "en",
    length_low: int = LENGTH_LOW,
    length_high: int = LENGTH_HIGH,
    stopwords_low: float = STOPWORDS_LOW,
    stopwords_high: float = STOPWORDS_HIGH,
    max_link_density: float = MAX_LINK_DENSITY,
    max_heading_distance: int = MAX_HEADING_DISTANCE,
    no_headings: bool = False,
) -> list[str]:
    """Per-document driver: segment → classify → revise → keep good.
    Non-spaced languages (th/zh/ja/ko) follow html_extrator.py:45 —
    boilerplate removal is DISABLED there (whitespace tokens carry no
    stopword signal), so every block survives."""
    blocks = segment_blocks(html or "")
    if lang in NON_SPACED_LANGUAGES:
        return [b.text for b in blocks]
    classify_context_free(
        blocks, frozenset(stopwords_for(lang)), length_low, length_high,
        stopwords_low, stopwords_high, max_link_density, no_headings)
    revise_classification(blocks, max_heading_distance)
    return [b.text for b in blocks if b.class_type == "good"]


def justext_extract(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "main_text",
    lang: str = "en",
    keep_html: bool = True,
    **kwargs,
) -> DataFrame:
    """Distributed context-sensitive extraction: ONE Arrow-batched
    mapInPandas pass, no shuffle — per-document sequential logic over a
    page-bounded block list, embarrassingly parallel over documents
    (the reference runs the same shape inside its worker pool).

    ``keep_html=False`` drops the raw-HTML column from the OUTPUT
    schema inside the pass: Catalyst can't prune columns through a
    Python map, so emitting the page's widest column just to .drop()
    it downstream would make the raw HTML a second Arrow round-trip
    per page (r11 review) — crawl callers that only need the extracted
    text should pass False."""
    import pandas as pd

    out_fields = [f for f in df.schema.fields
                  if keep_html or f.name != html_col]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in out_fields)
    schema = f"{fields}, {out_col} string"
    out_names = [f.name for f in out_fields]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            texts = [
                "\n".join(justext_extract_py(h or "", lang=lang, **kwargs))
                for h in pdf[html_col]
            ]
            out = pdf[out_names].copy()
            out[out_col] = texts
            yield out

    return df.mapInPandas(run, schema)
