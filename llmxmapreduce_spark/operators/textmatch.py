"""Aho-Corasick multi-pattern substring matching (scale extension).

The blocklist gate ``url_filter.badwords_filter`` matches WHOLE TOKENS
via a broadcast join — right for C4's word list, blind to substrings
("badword" hidden inside "xbadwordx") and priced one explode row per
token.  This module is the SUBSTRING class: leaked-credential markers,
boilerplate signatures, toxic fragments, template fingerprints — lists
that grow to 10⁴-10⁵ patterns, where the naive plans break down:

- a regex alternation ``(p1|p2|...|pN)`` is O(text × N) worst case and
  Java's regex compiler rejects very large alternations outright;
- a patterns×docs join is a cartesian in disguise.

Aho-Corasick scans each document ONCE — O(len + hits), independent of
pattern count: the classic trade that makes a 50k-entry blocklist cost
the same as a 5-entry one.  The automaton builds driver-side (linear
in total pattern length), ships to executors via a Spark broadcast,
and the scan runs inside an Arrow-batched iterator (``mapInPandas``)
— only (id, pattern) hit rows ever shuffle, never the text.

Semantics (module contract, mirrored by the DuckDB twin):
- substring match anywhere (no token boundaries);
- ``case_insensitive=True`` lowercases text and patterns (Python
  ``str.lower``, which the oracle replays with SQL ``lower``: the
  corpus is ASCII-safe there; for full Unicode-fold parity pre-fold
  upstream);
- every DISTINCT matched pattern is reported once per document —
  overlapping and nested hits included (the automaton follows output
  links, so "table part" also reports "table");
- patterns must be non-empty; duplicates collapse.

Correctness: tests/test_textmatch.py pins a naive find()-scan
reference on randomized small-alphabet corpora (the adversarial shape
for failure links: overlaps everywhere), nested/overlapping pattern
inventories, case folding, and unicode; a DuckDB contains() twin
crosses the engine on corpus text.
"""

# NOTE: no `from __future__ import annotations` here — it stringifies
# every annotation, and pandas_udf infers its eval type from the REAL
# pd.Series hints on the scalar UDF in contains_any.
from collections import deque
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class AhoCorasick:
    """Immutable matcher: goto/fail/output automaton over unicode
    code points.  Build O(Σ|p|), scan O(len + hits)."""

    def __init__(self, patterns: list[str], case_insensitive: bool = True):
        pats = sorted({(p.lower() if case_insensitive else p)
                       for p in patterns})
        if any(not p for p in pats):
            raise ValueError("AhoCorasick: empty pattern")
        if not pats:
            raise ValueError("AhoCorasick: no patterns")
        self.case_insensitive = case_insensitive
        self.patterns = pats
        goto: list[dict] = [{}]
        out: list[set] = [set()]
        for idx, p in enumerate(pats):
            s = 0
            for ch in p:
                nxt = goto[s].get(ch)
                if nxt is None:
                    goto.append({})
                    out.append(set())
                    nxt = len(goto) - 1
                    goto[s][ch] = nxt
                s = nxt
            out[s].add(idx)
        fail = [0] * len(goto)
        q = deque()
        for ch, s in goto[0].items():
            q.append(s)
        while q:
            r = q.popleft()
            for ch, s in goto[r].items():
                q.append(s)
                f = fail[r]
                while f and ch not in goto[f]:
                    f = fail[f]
                fail[s] = goto[f].get(ch, 0)
                out[s] |= out[fail[s]]
        self._goto, self._fail, self._out = goto, fail, out

    def match_ids(self, text: str) -> set:
        """→ set of indices into ``self.patterns`` found in ``text``."""
        if not text:
            return set()
        if self.case_insensitive:
            text = text.lower()
        goto, fail, out = self._goto, self._fail, self._out
        hits: set = set()
        s = 0
        for ch in text:
            while s and ch not in goto[s]:
                s = fail[s]
            s = goto[s].get(ch, 0)
            if out[s]:
                hits |= out[s]
        return hits

    def match(self, text: str) -> list:
        """→ sorted list of matched pattern strings."""
        return [self.patterns[i] for i in sorted(self.match_ids(text))]


def match_patterns(
    df: DataFrame,
    patterns: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    case_insensitive: bool = True,
) -> DataFrame:
    """→ (id_col, pattern): one row per (document, distinct matched
    pattern).  One Arrow-batched scan; the broadcast automaton makes
    the cost independent of pattern count (module scale notes)."""
    import pandas as pd

    ac = AhoCorasick(patterns, case_insensitive=case_insensitive)
    bc = df.sparkSession.sparkContext.broadcast(ac)
    id_field = df.schema[id_col]

    def scan(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        a = bc.value
        for b in batches:
            ids, pats = [], []
            for i, t in zip(b[id_col], b[text_col]):
                for p in a.match(t if isinstance(t, str) else ""):
                    ids.append(i)
                    pats.append(p)
            yield pd.DataFrame({id_col: ids, "pattern": pats})

    schema = f"{id_col} {id_field.dataType.simpleString()}, pattern string"
    return df.select(id_col, text_col).mapInPandas(scan, schema)


def contains_any(
    df: DataFrame,
    patterns: list[str],
    text_col: str = "text",
    out_col: str = "has_match",
    case_insensitive: bool = True,
) -> DataFrame:
    """All input columns + a boolean ``out_col`` — the filter-gate
    shape (drop or keep documents touching the blocklist).  ONE
    Arrow-batched pass appending the boolean map-side: no join, no
    shuffle, no second corpus scan (the first cut of this ran
    match_patterns + distinct + join — twice the I/O for a value
    derivable in place, review repro).  Only the text column crosses
    the Arrow boundary; every other column stays JVM-side."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ac = AhoCorasick(patterns, case_insensitive=case_insensitive)
    bc = df.sparkSession.sparkContext.broadcast(ac)

    @pandas_udf("boolean")
    def hit(texts: pd.Series) -> pd.Series:
        a = bc.value
        return pd.Series([
            bool(a.match_ids(t)) if isinstance(t, str) else False
            for t in texts])

    return df.withColumn(out_col, hit(F.col(text_col)))
