"""repetition_stats: hand-computed fixtures + DuckDB twin over testdata."""

from __future__ import annotations

import duckdb
import pytest

from llmxmapreduce_spark.operators.text_stats import repetition_stats

SF = "/root/testdata/sf0.001"


def _stats(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repetition_stats(df)
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_hand_computed(spark):
    got = _stats(spark, [(0, "a b\na b\nc")])
    r = got[0]
    # lines: ["a b", "a b", "c"] — one repeat occurrence of "a b"
    assert r["dup_line_frac"] == pytest.approx(1 / 3)
    assert r["dup_line_char_frac"] == pytest.approx(3 / 7)
    # 2-grams over tokens [a b a b c]: "a b"×2, "b a", "b c" → top 2/4
    assert r["top_2gram_frac"] == pytest.approx(0.5)
    # exactly one 5-gram → no duplicates
    assert r["dup_5gram_frac"] == 0.0


def test_pathological_repeat(spark):
    got = _stats(spark, [(1, "spam ham\n" * 100)])
    r = got[1]
    assert r["dup_line_frac"] == pytest.approx(99 / 100)
    assert r["dup_line_char_frac"] == pytest.approx(99 / 100)
    assert r["top_2gram_frac"] > 0.4  # "ham spam" / "spam ham" alternate
    assert r["dup_5gram_frac"] > 0.9


def test_edge_cases(spark):
    got = _stats(spark, [(2, ""), (3, "word"), (4, "unique lines\nonly here")])
    assert all(v == 0.0 for k, v in got[2].items() if k.endswith("frac"))
    r3 = got[3]  # single token: one partial gram each, no repeats
    assert r3["dup_line_frac"] == 0.0 and r3["top_2gram_frac"] == 1.0
    assert got[4]["dup_line_frac"] == 0.0


_TWIN_SQL = r"""
WITH src AS (SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')),
lines AS (
  SELECT doc_id, trim(l) AS ln
  FROM src, UNNEST(string_split(text, chr(10))) AS t(l)
  WHERE length(trim(l)) > 0),
lc AS (SELECT doc_id, ln, COUNT(*) AS c FROM lines GROUP BY 1, 2),
line_stats AS (
  SELECT doc_id,
         CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dup_line_frac,
         CAST(SUM(CASE WHEN c > 1 THEN (c - 1) * length(ln) ELSE 0 END)
              AS DOUBLE) / SUM(c * length(ln)) AS dup_line_char_frac
  FROM lc GROUP BY 1),
toks AS (SELECT doc_id,
                string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                             ' ') AS ws FROM src),
g2 AS (SELECT doc_id, UNNEST(CASE WHEN len(ws) >= 2
         THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
         ELSE [array_to_string(ws, ' ')] END) AS g FROM toks),
g2c AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
top2 AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_2gram_frac
         FROM g2c GROUP BY 1),
g5 AS (SELECT doc_id, UNNEST(CASE WHEN len(ws) >= 5
         THEN [ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]
               for i in range(1, len(ws) - 3)]
         ELSE [array_to_string(ws, ' ')] END) AS g FROM toks),
g5c AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY 1, 2),
dup5 AS (SELECT doc_id,
                CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
                AS dup_5gram_frac FROM g5c GROUP BY 1)
SELECT s.doc_id, dup_line_frac, dup_line_char_frac, top_2gram_frac,
       dup_5gram_frac
FROM src s JOIN line_stats USING (doc_id) JOIN top2 USING (doc_id)
JOIN dup5 USING (doc_id)
ORDER BY s.doc_id
"""


def test_duckdb_twin_on_testdata(spark):
    """Values-match vs an independent DuckDB formulation over real docs —
    same rigor as test_paper_oracles.py."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_stats(docs).collect()
    }
    want = duckdb.sql(_TWIN_SQL.format(sf=SF)).fetchall()
    assert len(want) == len(got) > 0
    for doc_id, dlf, dlcf, t2, d5 in want:
        r = got[doc_id]
        assert r["dup_line_frac"] == pytest.approx(dlf), doc_id
        assert r["dup_line_char_frac"] == pytest.approx(dlcf), doc_id
        assert r["top_2gram_frac"] == pytest.approx(t2), doc_id
        assert r["dup_5gram_frac"] == pytest.approx(d5), doc_id


def test_fast_twin_matches_portable(spark):
    """repetition_stats_fast ≡ repetition_stats on fixtures AND real docs
    (including whitespace edge cases)."""
    from llmxmapreduce_spark.operators.text_stats import repetition_stats_fast

    rows = [
        (0, "a b\na b\nc"), (1, "spam ham\n" * 50), (2, ""), (3, "word"),
        (4, "  padded line  \n  padded line  \nx"), (5, "tab\there\ntab\there"),
    ]
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text").limit(200)
    fixture = spark.createDataFrame(rows, "doc_id long, text string")
    for df in (fixture, docs):
        slow = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
        fast = {r["doc_id"]: r.asDict()
                for r in repetition_stats_fast(df).collect()}
        assert slow.keys() == fast.keys()
        for k in slow:
            for col in ("dup_line_frac", "dup_line_char_frac",
                        "top_2gram_frac", "dup_5gram_frac"):
                assert fast[k][col] == pytest.approx(slow[k][col]), (k, col)


# ---------------------------------------------------------------------------
# normalize_text (text_stats.normalize_text)
# ---------------------------------------------------------------------------

def test_normalize_text_rules_and_duckdb_nfc_twin(spark):
    import duckdb
    from llmxmapreduce_spark.operators.text_stats import normalize_text

    decomposed = "café résumé"        # é as e+combining vs composed
    rows = [
        (0, "  hello \t\n world  "),                  # whitespace collapse+trim
        (1, "a\x00b\x1fc\x7fd​e﻿f"),        # controls + zero-width
        (2, decomposed),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r["text"]
           for r in normalize_text(df).orderBy("doc_id").collect()}
    assert out[0] == "hello world"
    assert out[1] == "abcdef"
    assert out[3] is None
    # NFC composition matches DuckDB's nfc_normalize byte for byte
    duck = duckdb.sql(
        f"SELECT nfc_normalize('{decomposed}')").fetchone()[0]
    assert out[2] == duck and len(out[2]) < len(decomposed)
    # nfc=False stays pure Catalyst: no Python nodes in the plan
    plan = normalize_text(df, nfc=False)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInPandas" not in plan and "Exchange" not in plan


def test_compression_ratio(spark):
    """Deflate-ratio signal: plumbing twin vs direct zlib, the
    repetitive≪prose≪random ordering it exists to expose, null/empty
    → null, and the no-Exchange plan shape."""
    import zlib

    from llmxmapreduce_spark.operators.text_stats import compression_ratio

    import base64
    import hashlib
    prose = " ".join([
        "The quick brown fox jumps over the lazy dog near the river.",
        "A cold wind moved through the valley as the farmers hauled grain.",
        "She counted the boats returning before sunset and wrote the tally.",
        "Nobody in the village remembered a winter with so little snow.",
        "The bridge creaked under the cart but held as it always had.",
        "Merchants argued about salt prices while children chased gulls.",
        "An old map in the cellar showed roads that no longer existed.",
        "He repaired the mill wheel with oak pegs and borrowed patience."])
    spam = "buy cheap pills " * 40
    randomish = base64.b64encode(b"".join(   # non-repeating high entropy
        hashlib.sha256(str(i).encode()).digest()
        for i in range(20))).decode()
    rows = [(0, prose), (1, spam), (2, randomish), (3, None), (4, "")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r["compression_ratio"]
           for r in compression_ratio(df).collect()}
    # exact plumbing twin (same zlib, validates encode/level/indexing)
    for i, t in rows[:3]:
        raw = t.encode("utf-8")
        assert out[i] == len(zlib.compress(raw, 6)) / len(raw)
    assert out[1] < 0.2 < out[0] < out[2]    # spam ≪ prose < randomish
    assert out[3] is None and out[4] is None
    plan = compression_ratio(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
