"""Text scalar operators (SURVEY.md §2.2 P1-P16) as native Spark columns.

Each function documents the reference behavior it re-expresses
(file:line relative to /root/reference).  All column functions stay inside
whole-stage codegen — no Python in the hot path.  The only Python-level
function here is :func:`scrub_illegal_citations_py` (needs difflib), which
the operator layer wraps in an Arrow-batched pandas UDF.
"""

from __future__ import annotations

import re
import string
from difflib import SequenceMatcher

from pyspark.sql import Column
from pyspark.sql import functions as F

NO_INFORMATION = "[NO INFORMATION]"

# ---------------------------------------------------------------------------
# P1 — remove_chunk (reference: LLMxMapReduce_V1/pipeline.py:10-27)
# ---------------------------------------------------------------------------


def contains_marker(text: Column, marker: str = NO_INFORMATION) -> Column:
    """Case-insensitive containment of the no-information sentinel."""
    return F.upper(text).contains(marker.upper())


def keep_informative(text: Column, question_has_marker: bool = False,
                     marker: str = NO_INFORMATION) -> Column:
    """Predicate keeping rows that carry information.

    The reference skips the filter entirely when the *question* itself
    contains the marker (pipeline.py:19-20) — that escape hatch is the
    constant ``question_has_marker`` decided once per query.
    """
    if question_has_marker:
        return F.lit(True)
    return ~contains_marker(text, marker)


# ---------------------------------------------------------------------------
# P3 — citation stripping (reference: src/data_structure/digest.py:183-196)
# ---------------------------------------------------------------------------


def strip_citations(txt: Column) -> Column:
    """``pre_proc_paper``: delete the ``# References``/``# Bibliography``
    section (case-insensitive, line-anchored, up to the next top-level
    heading) then delete ``[...]`` citation spans (digest.py:183-196)."""
    no_refs = F.regexp_replace(
        txt,
        r"(?ism)^# (References|REFERENCE|REFERENCES|Bibliography)\s+.*?(?=^# |\z)",
        "",
    )
    return F.regexp_replace(no_refs, r"\[(.*?)\]", "")


# ---------------------------------------------------------------------------
# P4/P5 — length truncation + abstract fallback (digest.py:34-59)
# ---------------------------------------------------------------------------

MAX_TOKEN = 800_000
CHARS_PER_TOKEN = 3.6875  # digest.py:37 char-per-token estimate


def truncate_tokens(txt: Column, txt_token: Column,
                    max_token: int = MAX_TOKEN) -> Column:
    """Cap text at ``max_token`` tokens ~ ``max_token * 3.6875`` chars."""
    max_chars = int(max_token * CHARS_PER_TOKEN)
    return F.when(txt_token > max_token, F.substring(txt, 1, max_chars)).otherwise(txt)


def abstract_fallback(abstract: Column, txt: Column, n: int = 500) -> Column:
    """``abstract = txt[:500]`` when the abstract is missing/empty."""
    return F.coalesce(F.nullif(F.trim(abstract), F.lit("")), F.substring(txt, 1, n))


# ---------------------------------------------------------------------------
# P7 — bibkey normalization (src/utils/process_str.py:131-137 proc_title_to_str)
# ---------------------------------------------------------------------------


def normalize_bibkey(title: Column) -> Column:
    """``proc_title_to_str``, step for step: lowercase+strip, ``-``→``_``,
    delete ``[^\\w\\s]``, ``' '``→``_``, collapse ``__+``.

    Note the reference does *not* trim leading/trailing underscores and
    leaves tabs/newlines untouched (only the space character maps to
    ``_``).
    """
    t = F.lower(F.trim(title))
    t = F.translate(t, "-", "_")
    # (?U): Java \w is ASCII by default; the reference's Python \w is
    # Unicode, so accented letters must survive ('Réseaux' -> 'réseaux').
    t = F.regexp_replace(t, r"(?U)[^\w\s]", "")
    t = F.translate(t, " ", "_")
    return F.regexp_replace(t, r"_{2,}", "_")


def normalize_bibkey_py(origin_title: str) -> str:
    """Pure-Python twin of :func:`normalize_bibkey` for driver-side use
    (tests assert both agree).  Reference: process_str.py:131-137 —
    Unicode \\w, so accented letters are kept."""
    title = origin_title.lower().strip()
    title = title.replace("-", "_")
    title = re.sub(r"[^\w\s_]", "", title)
    title = title.replace(" ", "_")
    return re.sub(r"_{2,}", "_", title)


# ---------------------------------------------------------------------------
# P9 — fenced markdown block extraction (process_str.py:8-20 parse_md_content)
# ---------------------------------------------------------------------------


def extract_md_block(text: Column, label: str = "markdown") -> Column:
    """``parse_md_content`` as a struct(ok, err, value) column.

    Reference steps (process_str.py:8-20): (1) collapse a duplicated
    opening fence ```` ```label\\s*?```label ```` to one; (2) extract
    ```` ```label\\n(.*?)\\n``` ```` (DOTALL); (3) strip the payload;
    (4) reject payloads still containing ``` (nested fences).  Absence or
    nesting yields ``ok=false`` + an error tag instead of the reference's
    ``MdNotFoundError``.
    """
    lbl = re.escape(label)
    collapsed = F.regexp_replace(text, rf"```{lbl}\s*?```{lbl}", f"```{label}")
    payload = F.trim(F.regexp_extract(collapsed, rf"(?s)```{lbl}\n(.*?)\n```", 1))
    found = F.regexp_count(collapsed, F.lit(rf"(?s)```{lbl}\n(.*?)\n```")) > 0
    nested = payload.contains("```")
    ok = found & ~nested
    err = (
        F.when(~found, F.lit("MdNotFoundError: no fenced block"))
        .when(nested, F.lit("MdNotFoundError: nested fence"))
        .otherwise(F.lit(None).cast("string"))
    )
    value = F.when(ok, payload).otherwise(F.lit(None).cast("string"))
    return F.struct(ok.alias("ok"), err.alias("err"), value.alias("value"))


# ---------------------------------------------------------------------------
# P10 — heading parse (process_str.py:22-29 get_section_title)
# ---------------------------------------------------------------------------

_HEADING_PATTERN = r"^(#+)\s*[\d\.]*\s+(.*)"


def heading_depth(line: Column) -> Column:
    """'## 1.2 Title' -> 2 (count of #); 0 when not a heading."""
    return F.length(F.regexp_extract(line, _HEADING_PATTERN, 1))


def heading_title(line: Column) -> Column:
    """Heading text with hashes + leading section number removed and
    bracketed citations scrubbed (the reference runs
    ``remove_illegal_bibkeys(title, [])``, which deletes every citation
    group when no keys are legal)."""
    t = F.regexp_extract(line, _HEADING_PATTERN, 2)
    return F.regexp_replace(t, r"\[.*?\]", "")


# ---------------------------------------------------------------------------
# P11 — str2list / list2str (process_str.py:31-42)
# ---------------------------------------------------------------------------


def str2list(s: Column) -> Column:
    """Reference ``str2list``: split on ',', delete every ``[ ] ' "``
    character from each element, strip, drop empties."""
    parts = F.split(s, ",")
    cleaned = F.transform(parts, lambda x: F.trim(F.translate(x, "[]'\"", "")))
    return F.filter(cleaned, lambda x: x != F.lit(""))


def list2str(arr: Column) -> Column:
    """Reference ``list2str``: quote each element, '' for the empty list."""
    quoted = F.transform(
        F.filter(arr, lambda x: x != F.lit("")),
        lambda x: F.concat(F.lit("'"), x, F.lit("'")),
    )
    return F.when(F.size(quoted) == 0, F.lit("")).otherwise(
        F.concat(F.lit("["), F.concat_ws(", ", quoted), F.lit("]"))
    )


# ---------------------------------------------------------------------------
# P13 — answer post-processing (eval/infinitebench/process_answer.py:27-57
# task_special_process)
# ---------------------------------------------------------------------------

ANS_PREFIXES = ("Answer:", "答案：")
_CONFIDENCE_MARKERS = ("置信度分数：", "Confidence Score:")


def extract_answer(reply: Column) -> Column:
    """QA-task branch of ``task_special_process``: take the text after the
    *last* ``Answer:``/``答案：`` prefix (skipping one following character,
    as the reference does), then cut at the last ``置信度分数：`` and last
    ``Confidence Score:`` markers.  No trimming — the reference returns the
    slice verbatim."""
    out = None
    for prefix in ANS_PREFIXES:
        # substring_index(.., -1) = text after the LAST occurrence; the
        # reference then skips one extra character (pred[idx+len(prefix)+1:]).
        tail = F.substring_index(reply, prefix, -1)
        after = F.substring(tail, 2, 2147483647)
        for marker in _CONFIDENCE_MARKERS:
            # Cut at the last occurrence of the marker.
            after = F.regexp_replace(
                after,
                "(?s)" + re.escape(marker) + "(?:(?!" + re.escape(marker) + ").)*$",
                "",
            )
        # The reference BREAKS (returns the input unchanged) when nothing
        # follows the prefix (process_answer.py:41-43) — a found-but-empty
        # first prefix must NOT fall through to the second prefix, so each
        # contains() clause owns both its extract and its break case.
        val = F.when(F.length(tail) >= 1, after).otherwise(reply)
        out = (F.when(reply.contains(prefix), val) if out is None
               else out.when(reply.contains(prefix), val))
    return out.otherwise(reply)


# ---------------------------------------------------------------------------
# P14 — answer normalization (eval/infinitebench/compute_scores.py:16-49)
# ---------------------------------------------------------------------------

# string.punctuation, escaped for a Java/RE2 character class ('-' last).
_PUNCT_CLASS = "[!\"#$%&'()*+,./:;<=>?@\\[\\]^_`{|}~\\\\-]"


def normalize_answer(s: Column) -> Column:
    """English ``normalize_answer``: lower → delete ``string.punctuation``
    chars (including ``_``) → articles→' ' → whitespace re-join."""
    t = F.lower(s)
    t = F.regexp_replace(t, _PUNCT_CLASS, "")
    t = F.regexp_replace(t, r"\b(a|an|the)\b", " ")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def normalize_answer_py(s: str) -> str:
    """Pure-Python twin (mirrors compute_scores.py:16-32 exactly)."""
    s = s.lower()
    s = "".join(ch for ch in s if ch not in set(string.punctuation))
    s = re.sub(r"\b(a|an|the)\b", " ", s)
    return " ".join(s.split())


def normalize_answer_zh_py(s: str) -> str:
    """Pure-Python twin (mirrors compute_scores.py:35-49 exactly)."""
    cn = (
        "！？｡。＂＃＄％＆＇（）＊＋，－／：；＜＝＞＠［＼］＾＿｀｛｜｝～｟｠｢｣､、〃》「」"
        "『』【】〔〕〖〗〘〙〚〛〜〝〞〟〰〾〿–—‘’‛“”„‟…‧﹏."
    )
    exclude = set(string.punctuation + cn)
    s = "".join(ch for ch in s.lower() if ch not in exclude)
    return "".join(s.split())


# ---------------------------------------------------------------------------
# P15 — sentence split (LLMxMapReduce_V1/Generator.py:134-148)
# ---------------------------------------------------------------------------

SENTENCE_PUNCT = "。！？；.?!;"


def sentence_split(text: Column) -> Column:
    """Split after sentence punctuation, keeping the punctuation with the
    preceding sentence; drops whitespace-only segments.  Matches the
    reference's punctuation-rejoin semantics for texts (Generator.py:134-148)
    via a lookbehind split."""
    return F.filter(
        F.split(F.trim(text), r"(?<=[。！？；.?!;])"),
        lambda x: F.trim(x) != F.lit(""),
    )


# ---------------------------------------------------------------------------
# P16 — token counting (Generator.py:301-318; estimate V3
# llm_search_mcp_server.py:198-202)
# ---------------------------------------------------------------------------


def token_count_ws(text: Column) -> Column:
    """Whitespace token count; 0 for empty/whitespace-only text."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("long")


def token_count_estimate(text: Column, chars_per_token: float = 4.0) -> Column:
    """The reference's cheap ``len/4`` estimate (V3)."""
    return F.ceil(F.length(text) / F.lit(chars_per_token)).cast("long")


# A BPE-ish regex tokenizer: letter runs, digit runs, or single symbols.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def token_count_bpe_ish(text: Column) -> Column:
    """Count of word/number/symbol tokens via regexp_count — a deterministic
    stand-in for a BPE tokenizer that needs no Python in the hot path."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("long")


# ---------------------------------------------------------------------------
# P8 — illegal-citation scrub (process_str.py:44-110 remove_illegal_bibkeys):
# needs difflib, so this is a Python function applied via pandas UDF in
# operators/citations.py.
# ---------------------------------------------------------------------------


def _str2list_py(raw_str: str) -> list[str]:
    """process_str.py:31-35 verbatim."""
    out = []
    for s in raw_str.split(","):
        s = s.replace("[", "").replace("]", "").replace("'", "").replace('"', "").strip()
        if s:
            out.append(s)
    return out


def _list2str_py(str_list: list[str]) -> str:
    """process_str.py:37-42 verbatim."""
    quoted = [f"'{s}'" for s in str_list if s]
    return "[" + ", ".join(quoted) + "]" if quoted else ""


_BRACKET_RE = re.compile(r"(\[.*?\])", re.DOTALL)


def scrub_illegal_citations_py(content: str, legal_bibkeys: list[str],
                               ratio: float = 0.8) -> str:
    """Port of ``remove_illegal_bibkeys`` (process_str.py:44-110).

    Steps: (1) protect ``$$...$$`` block math then ``$...$`` inline math with
    placeholders; (2) normalize ``-``→``_`` inside bracket groups; (3) fuzzy-
    map unknown bibkeys to the first legal key with SequenceMatcher ratio >
    0.8 (legal list order); (4) delete remaining unknowns from their bracket
    groups; (5) canonicalize every bracket group to ``['a', 'b']`` quoted
    form and drop empty brackets; (6) restore math.

    Determinism note: the reference iterates Python ``set``s here, whose
    order is hash-randomized across processes; this port uses first-
    appearance order, making the (otherwise identical) result reproducible.
    """
    if content is None:
        return None
    legal = list(legal_bibkeys)
    # (1) math placeholders — block first, then inline (ADVICE round 1).
    placeholders: dict[str, str] = {}
    count = 0
    for pattern in (r"\$\$[^$]+\$\$", r"\$[^$]+\$"):
        for m in re.finditer(pattern, content):
            ph = f"MATH_PLACEHOLDER_{count}"
            placeholders[ph] = m.group(0)
            content = content.replace(m.group(0), ph)
            count += 1
    # (2) '-' -> '_' and curly-quote normalization inside bracket groups.
    content = _BRACKET_RE.sub(
        lambda m: m.group(0).replace("-", "_").replace("‘", "'").replace("’", "'"),
        content,
    )
    # (3) collect unknown keys in first-appearance order.
    seen: list[str] = []
    for m in _BRACKET_RE.finditer(content):
        for k in _str2list_py(m.group(1)):
            if k not in legal and k not in seen:
                seen.append(k)
    rest = list(seen)
    for unknown in list(rest):
        for lk in legal:
            if SequenceMatcher(None, unknown, lk).ratio() > ratio:
                content = content.replace(unknown, lk)
                rest.remove(unknown)
                break
    # (4) delete remaining unknowns from their bracket groups.
    if rest:
        ref_strs = []
        for m in _BRACKET_RE.finditer(content):
            if m.group(1) not in ref_strs:
                ref_strs.append(m.group(1))
        for ref_str in ref_strs:
            keys = [k for k in _str2list_py(ref_str) if k not in rest]
            deduped = list(dict.fromkeys(keys))
            content = content.replace(ref_str, _list2str_py(deduped))
    # (5) canonicalize brackets (process_bibkeys, process_str.py:112-121).
    content = re.sub(r"\[\s*\]", "", content)
    groups = []
    for m in _BRACKET_RE.finditer(content):
        if m.group(1) not in groups:
            groups.append(m.group(1))
    for g in groups:
        canon = _list2str_py(_str2list_py(g))
        if canon != g:
            content = content.replace(g, canon)
    # (6) restore math.
    for ph, math in placeholders.items():
        content = content.replace(ph, math)
    return content
