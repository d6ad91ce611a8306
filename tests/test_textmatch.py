"""Aho-Corasick — naive-scan reference equivalence on adversarial
small-alphabet corpora, nested/overlapping patterns, case folding,
unicode, the gate shape, and the DuckDB contains() twin."""

import random

import duckdb
import pytest

from llmxmapreduce_spark.operators.textmatch import (AhoCorasick,
                                                     contains_any,
                                                     match_patterns)


def _naive(text, patterns, ci=True):
    t = text.lower() if ci else text
    return sorted({(p.lower() if ci else p) for p in patterns
                   if (p.lower() if ci else p) in t})


NESTED = ["a", "ab", "aba", "bab", "abab", "ba"]


def test_automaton_matches_naive_hypothesis():
    """Property: AC ≡ naive scan for arbitrary unicode text and
    pattern inventories (pure-python, no Spark round-trip)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    pat = st.text(alphabet="abcde é中", min_size=1, max_size=5)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(pat, min_size=1, max_size=8),
           st.text(alphabet="abcde é中", max_size=60))
    def prop(pats, text):
        assert AhoCorasick(pats).match(text) == _naive(text, pats)

    prop()


def test_automaton_matches_naive_randomized():
    rng = random.Random(7)
    pats = ["".join(rng.choice("ab") for _ in range(rng.randint(1, 4)))
            for _ in range(12)]
    ac = AhoCorasick(pats)
    for _ in range(200):
        text = "".join(rng.choice("ab") for _ in range(rng.randint(0, 30)))
        assert ac.match(text) == _naive(text, pats), (text, sorted(set(pats)))


@pytest.mark.parametrize("text,want", [
    ("abab", ["a", "ab", "aba", "abab", "ba", "bab"]),
    ("bb", []),
    ("", []),
    ("a", ["a"]),
])
def test_nested_and_overlapping(text, want):
    assert AhoCorasick(NESTED).match(text) == want


def test_case_folding_and_unicode():
    ac = AhoCorasick(["Crème", "ÉCLAIR"])
    assert ac.match("une crème brûlée") == ["crème"]
    assert AhoCorasick(["Crème"], case_insensitive=False) \
        .match("une crème") == []


def test_substring_not_token_semantics():
    # the exact capability badwords_filter (whole-token) lacks
    assert AhoCorasick(["badword"]).match("xbadwordx") == ["badword"]


def test_empty_pattern_rejected():
    with pytest.raises(ValueError, match="empty pattern"):
        AhoCorasick(["ok", ""])
    with pytest.raises(ValueError, match="no patterns"):
        AhoCorasick([])


def test_match_patterns_spark(spark):
    docs = [(1, "the quick brown fox"), (2, "QUICK silver"),
            (3, None), (4, "nothing here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted((r["doc_id"], r["pattern"]) for r in
                 match_patterns(df, ["quick", "fox", "her"]).collect())
    assert got == [(1, "fox"), (1, "quick"), (2, "quick"), (4, "her")]


def test_contains_any_gate(spark):
    docs = [(1, "clean text"), (2, "has a badword inside"), (3, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r["has_match"]
           for r in contains_any(df, ["badword"]).collect()}
    assert out == {1: False, 2: True, 3: False}
    # one-pass shape: no join, no shuffle — the boolean is map-side
    plan = contains_any(df, ["badword"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan


def test_pattern_count_independence_shape(spark):
    """The plan must not grow with the pattern list: same single
    mapInPandas scan for 3 and 3000 patterns (no join, no alternation
    regex in the plan)."""
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    small = match_patterns(df, ["x", "y", "z"])
    big = match_patterns(df, [f"pat{i}" for i in range(3000)])
    p_small = small._jdf.queryExecution().executedPlan().toString()
    p_big = big._jdf.queryExecution().executedPlan().toString()
    assert p_small.count("Join") == 0 and p_big.count("Join") == 0
    assert p_small.count("\n") == p_big.count("\n")


def test_duckdb_twin(spark):
    """Exploded (doc_id, pattern) hits equal the DuckDB contains() replay
    on real corpus text."""
    from llmxmapreduce_spark import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents")
    pats = ["data window", "fast merge", "agg join", "table part",
            "table", "customer"]
    got = sorted((r["doc_id"], r["pattern"]) for r in
                 match_patterns(d, pats).collect())
    vals = ",".join(f"('{p}')" for p in pats)
    want = duckdb.connect().execute(f"""
        SELECT d.doc_id, p.pat
        FROM '{sf}/documents.parquet' d
        JOIN (VALUES {vals}) p(pat)
          ON contains(lower(d.text), p.pat)
        ORDER BY d.doc_id, p.pat
    """).fetchall()
    assert got == [(a, b) for a, b in want]
