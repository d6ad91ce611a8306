"""Property-based tests (hypothesis) for the pure operator cores."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from llmxmapreduce_spark.functions.text import (
    normalize_answer_py,
    normalize_bibkey_py,
    scrub_illegal_citations_py,
)
from llmxmapreduce_spark.operators import chunker
from llmxmapreduce_spark.operators.skeleton import (
    parse_outline_py,
    serialize_outline_py,
)

FAST = settings(max_examples=60, deadline=None,
                suppress_health_check=[HealthCheck.too_slow])

words = st.lists(st.text(alphabet="abcdefghij", min_size=1, max_size=8),
                 min_size=1, max_size=80)


@FAST
@given(words, st.integers(min_value=4, max_value=30))
def test_chunker_respects_budget_and_loses_nothing(ws, budget):
    text = " ".join(ws)
    chunks = chunker.chunk_docs(text, budget, chunker.ws_len)
    assert all(chunker.ws_len(c) <= budget for c in chunks)
    # token multiset preserved (separator packing never drops words)
    got = [w for c in chunks for w in c.split()]
    assert sorted(got) == sorted(text.split())


@FAST
@given(st.lists(st.text(alphabet="xyz ", min_size=1, max_size=20),
                min_size=1, max_size=20),
       st.integers(min_value=5, max_value=50))
def test_bin_packing_partitions_in_order(docs, token_max):
    docs = [d for d in docs if d.strip()]
    if not docs:
        return
    length = lambda g: sum(len(d.split()) for d in g)  # noqa: E731
    if any(length([d]) > token_max for d in docs):
        return
    groups = chunker.split_list_of_docs(docs, length, token_max)
    assert [d for g in groups for d in g] == docs      # order preserved
    assert all(length(g) <= token_max or len(g) == 1 for g in groups)


@FAST
@given(st.text(max_size=200))
def test_normalize_answer_idempotent(s):
    once = normalize_answer_py(s)
    assert normalize_answer_py(once) == once


@FAST
@given(st.text(alphabet="abc -_'!.", max_size=60))
def test_normalize_bibkey_output_charset(s):
    out = normalize_bibkey_py(s)
    assert all(ch.isalnum() or ch in "_\t\n" for ch in out)
    assert "__" not in out


@FAST
@given(st.lists(st.sampled_from(["alpha_beta", "gamma_delta", "eps_zeta"]),
                min_size=1, max_size=3, unique=True),
       st.lists(st.sampled_from(["alpha_beta", "gamma_delta", "unknown_key_x"]),
                min_size=0, max_size=3))
def test_scrub_never_leaves_illegal_keys(legal, cited):
    content = "Text " + " ".join(f"[{c}]" for c in cited) + " end."
    out = scrub_illegal_citations_py(content, legal)
    assert "unknown_key_x" not in out
    # idempotent: scrubbing clean content changes nothing
    assert scrub_illegal_citations_py(out, legal) == out


@st.composite
def outline_trees(draw):
    """Random canonical outline markdown: depth ≤ 3, unique titles."""
    lines = ["# Root Title"]
    n = draw(st.integers(min_value=1, max_value=6))
    depth = 1
    for i in range(n):
        depth = draw(st.integers(min_value=1, max_value=min(depth + 1, 3)))
        lines.append("#" * (depth + 1) + f" Section {i}")
        if draw(st.booleans()):
            lines.append(f"desc line for {i}")
    return "\n".join(lines)


@FAST
@given(outline_trees())
def test_outline_parse_serialize_roundtrip(md):
    nodes = parse_outline_py("Root Title", md)
    out = serialize_outline_py(nodes)
    # the serialized form starts with the root heading, which the parser
    # consumes as the title line (skeleton.py:93-96)
    nodes2 = parse_outline_py("Root Title", out)
    # structural identity: same paths, depths, titles
    a = [(n["node_path"], n["depth"], n["title"]) for n in nodes]
    b = [(n["node_path"], n["depth"], n["title"]) for n in nodes2]
    assert a == b
    # serialize is a fixpoint
    assert serialize_outline_py(nodes2) == out


@FAST
@given(st.text(alphabet="abc 12.\n", max_size=60),
       st.text(alphabet="abc 12.\n", max_size=60))
def test_rouge_lsum_bounds_and_identity(pred, label):
    from llmxmapreduce_spark.operators.rouge import rouge_lsum_py, rouge_tokenize

    s = rouge_lsum_py(pred, label)
    assert 0.0 <= s <= 1.0
    if rouge_tokenize(label):
        assert rouge_lsum_py(label, label) == 1.0
    else:
        assert rouge_lsum_py(label, label) == 0.0


@FAST
@given(st.text(alphabet="ABCJKanswer: .\n`'-*", max_size=60),
       st.sampled_from(list("ABCDEFGHIJ")))
def test_code_debug_score_is_binary(pred, label):
    from llmxmapreduce_spark.operators.eval_ops import code_debug_score_py

    assert code_debug_score_py(pred, label, "fn_name") in (0.0, 1.0)


@FAST
@given(st.text(alphabet="0123456789 ,x", max_size=40),
       st.lists(st.integers(min_value=0, max_value=99), min_size=1, max_size=6))
def test_math_calc_score_is_prefix_ratio(pred, labels):
    import re

    from llmxmapreduce_spark.operators.eval_ops import math_calc_score_py

    s = math_calc_score_py(pred, labels)
    assert 0.0 <= s <= 1.0
    assert round(s * len(labels), 6) == int(round(s * len(labels)))
    # perfect prefix scores 1.0
    assert math_calc_score_py(" ".join(map(str, labels)), labels) == 1.0


@FAST
@given(st.text(alphabet="ab竟早 c.!", max_size=40))
def test_zh_f1_identity(t):
    from llmxmapreduce_spark.functions.text import normalize_answer_zh_py
    from llmxmapreduce_spark.operators.eval_ops import qa_f1_zh_py

    if normalize_answer_zh_py(t):
        assert qa_f1_zh_py(t, t) == 1.0
    else:
        assert qa_f1_zh_py(t, t) == 0.0


# ---------------------------------------------------------------------------
# round-6 pure cores: FFD packing + mixture planning
# ---------------------------------------------------------------------------

@given(st.lists(st.tuples(st.integers(0, 10_000), st.integers(0, 5_000)),
                max_size=200, unique_by=lambda t: t[0]),
       st.integers(min_value=1, max_value=2_048))
def test_ffd_pack_invariants(rows, max_tokens):
    from llmxmapreduce_spark.operators.packing import ffd_pack

    out = ffd_pack(rows, max_tokens)
    assert sorted(r[0] for r in out) == sorted(r[0] for r in rows)  # once each
    by_bin = {}
    for _id, ln, b, trunc in out:
        by_bin.setdefault(b, []).append((_id, ln, trunc))
    for members in by_bin.values():
        if any(t for _, _, t in members):
            assert len(members) == 1 and members[0][1] > max_tokens
        else:
            assert sum(ln for _, ln, _ in members) <= max_tokens
    # FFD bound: never worse than 2× the fractional optimum (loose classic
    # bound — catches any gross regression in the packer)
    total = sum(min(ln, max_tokens) for _, ln in rows)
    n_real_bins = len([m for m in by_bin.values()
                       if not any(t for _, _, t in m)])
    assert n_real_bins <= max(1, 2 * -(-total // max_tokens)) or total == 0


@given(st.dictionaries(st.sampled_from("abcdef"), st.integers(1, 10_000),
                       min_size=1),
       st.dictionaries(st.sampled_from("abcdef"),
                       st.floats(0.01, 10.0, allow_nan=False), min_size=1),
       st.integers(1, 1_000_000))
def test_mixture_plan_invariants(counts, weights, target):
    from llmxmapreduce_spark.operators.mixing import mixture_plan

    present = {s for s in weights if counts.get(s)}
    if not present:
        with pytest.raises(ValueError):
            mixture_plan(counts, weights, target)
        return
    capped = mixture_plan(counts, weights, target)
    assert set(capped) == present
    assert all(0.0 <= r <= 1.0 for r in capped.values())
    free = mixture_plan(counts, weights, target, allow_upsample=True)
    # uncapped rates deliver the target exactly (expected rows = rate×count)
    delivered = sum(free[s] * counts[s] for s in free)
    assert abs(delivered - target) < 1e-6 * max(1, target)
    # capping only ever lowers a stratum's rate
    assert all(capped[s] <= free[s] + 1e-12 for s in capped)
