"""Error-path checkpoint release (r13, from r12 ADVICE): an exception
mid-loop/mid-pipeline must not leave the call's tracked localCheckpoint
blocks pinned for the session — that silently reinstates the leak the
r12 retention sweep fixed, exactly when memory pressure is highest.
These tests force failures into the corpus_prep cutter, the labelprop
round loop, and the media_prep pipeline and assert the tracked blocks
are released while shield/caller frames survive.

The paper pipelines keep a stricter contract: a ``run_v1_qa`` or
``run_v2_survey`` call leaves exactly its returned frame pinned on
success and nothing on failure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llmxmapreduce_spark.llm.client import ChattyQAClient
from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
from llmxmapreduce_spark.operators.stage_metrics import StageMetrics
from llmxmapreduce_spark.pipelines import v1_qa
from llmxmapreduce_spark.pipelines import v2_survey as v2
from llmxmapreduce_spark.retention import frame_id, pinned_ids, release
from tests.test_v2_pipeline import make_surveys


def _registered(sc, ids):
    jmap = sc._jsc.getPersistentRDDs()
    return {rid for rid in ids if jmap.containsKey(rid)}


def test_cutter_abort_releases_window_keeps_shield(spark):
    from llmxmapreduce_spark.pipelines.corpus_prep import _cutter

    sc = spark.sparkContext
    cut = _cutter(None)
    snap0 = pinned_ids(sc)
    d1 = cut("one", spark.range(100).withColumn("x", F.col("id") * 2))
    shield_ids = pinned_ids(sc) - snap0
    d2 = cut("two", d1.withColumn("y", F.col("x") + 1))
    cut2_ids = pinned_ids(sc) - snap0 - shield_ids
    assert shield_ids and cut2_ids

    cut.abort()
    assert _registered(sc, cut2_ids) == set(), \
        "abort() left the current window pinned"
    assert _registered(sc, shield_ids) == shield_ids, \
        "abort() must never sweep the shield (first cut / caller caches)"
    # shield frame still readable (it was never released)
    assert d1.count() == 100
    # manual cleanup of the shield so this test leaves no residue
    from llmxmapreduce_spark.retention import release
    release(sc, shield_ids)


def test_labelprop_releases_on_midloop_error(spark, monkeypatch):
    from llmxmapreduce_spark.operators import labelprop as lp

    sc = spark.sparkContext
    caller = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5)], ["src", "dst"]).cache()
    assert caller.count() == 4
    before = pinned_ids(sc)

    calls = {"n": 0}
    real = lp._one_round

    def exploding(e, labels, *args):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected executor loss")
        return real(e, labels, *args)

    monkeypatch.setattr(lp, "_one_round", exploding)
    with pytest.raises(RuntimeError, match="injected"):
        lp.label_propagation(caller, n_iter=5)

    leaked = pinned_ids(sc) - before
    assert leaked == set(), f"mid-loop error leaked blocks: {leaked}"
    assert caller.count() == 4       # caller cache survived
    caller.unpersist()


def test_media_prep_releases_on_midpipeline_error(spark, monkeypatch):
    from llmxmapreduce_spark.operators import media_dedup
    from llmxmapreduce_spark.pipelines import media_prep as mp

    sc = spark.sparkContext
    assets = spark.createDataFrame(
        [(i, bytes([i % 251] * 64)) for i in range(20)],
        ["asset_id", "payload"])
    before = pinned_ids(sc)

    def exploding(*a, **k):
        raise RuntimeError("injected decode failure")

    # fail AFTER the exact_dedup cut (tracked) at the decode stage
    monkeypatch.setattr(media_dedup, "image_hashes", exploding)
    with pytest.raises(RuntimeError, match="injected"):
        mp.run_media_prep(assets)

    leaked = pinned_ids(sc) - before
    # the metadata_gate cut is the SHIELD (never released by design);
    # everything tracked after it must be gone
    assert len(leaked) <= 1, f"mid-pipeline error leaked blocks: {leaked}"
    from llmxmapreduce_spark.retention import release
    release(sc, leaked)


def test_labelprop_fixpoint_count_failure_releases_current_round(
        spark, monkeypatch):
    """r13 review finding: in fixpoint mode (n_iter=None) the convergence
    count runs BETWEEN the round's eager checkpoint and the
    prev_ids=new_ids rotation — a failure there must release the
    just-pinned round too, not only the previous one."""
    from llmxmapreduce_spark.operators import labelprop as lp

    sc = spark.sparkContext
    caller = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5)], ["src", "dst"]).cache()
    assert caller.count() == 4
    before = pinned_ids(sc)

    calls = {"n": 0}
    # patch the CONCRETE class (Spark 4: classic.DataFrame overrides the
    # pyspark.sql.DataFrame base), or the patch never intercepts
    DF = type(caller)
    real = DF.count

    def exploding_count(self):
        calls["n"] += 1
        # call 1: the edge-cache materialization in the preamble; call 2:
        # round 1's n_changed convergence count — AFTER round 1's
        # checkpoint is pinned but BEFORE it rotates into prev_ids
        if calls["n"] == 2:
            raise RuntimeError("injected count failure")
        return real(self)

    monkeypatch.setattr(DF, "count", exploding_count)
    with pytest.raises(RuntimeError, match="injected"):
        lp.label_propagation(caller, n_iter=None, max_iter=5)
    monkeypatch.setattr(DF, "count", real)

    leaked = pinned_ids(sc) - before
    assert leaked == set(), f"fixpoint count failure leaked: {leaked}"
    assert caller.count() == 4       # caller cache survived
    caller.unpersist()


def test_media_prep_releases_on_quarantine_checkpoint_error(
        spark, monkeypatch):
    """r13 review finding: the final 'neardup' cut (kept_ids) pins before
    the quarantine checkpoint; a failure there must release it, not just
    the `created` set."""
    from llmxmapreduce_spark.pipelines import media_prep as mp

    sc = spark.sparkContext
    assets = spark.createDataFrame(
        [(f"a{i}", bytes([i % 251] * 64)) for i in range(20)],
        ["asset_id", "payload"])
    before = pinned_ids(sc)

    DF = type(assets)
    real = DF.localCheckpoint

    def exploding_on_quarantine(self, eager=True):
        # the quarantine frame is the only one with this exact shape
        if self.columns == ["asset_id", "decode_error"]:
            raise RuntimeError("injected quarantine checkpoint failure")
        return real(self, eager)

    monkeypatch.setattr(DF, "localCheckpoint",
                        exploding_on_quarantine)
    with pytest.raises(RuntimeError, match="injected"):
        mp.run_media_prep(assets)
    monkeypatch.setattr(DF, "localCheckpoint", real)

    leaked = pinned_ids(sc) - before
    # only the untracked metadata_gate shield may remain
    assert len(leaked) <= 1, \
        f"quarantine checkpoint failure leaked kept_ids: {leaked}"
    from llmxmapreduce_spark.retention import release
    release(sc, leaked)


# ---------------------------------------------------------------------------
# paper pipelines: exactly the returned frame on success, nothing on failure
# ---------------------------------------------------------------------------

V2_CFG = v2.V2Config(conv_layers=1, receptive_field=2, result_num=2,
                     top_k=2, refine_rounds=1, best_of=1, block_count=1)


def _collapse_docs(spark):
    """Two documents whose padded map replies (``ChattyQAClient``)
    overflow the collapse budget at ``chunk_size=800``, so the A1 loop
    runs."""
    rows = [(i, "\n".join(f"padding sentence {j} here. The secret key for "
                          f"document {i} is SK-{i}{i}{i}." for j in range(60)),
             f"What is the secret key for document {i}?") for i in (7, 8)]
    return spark.createDataFrame(rows, ["doc_id", "context", "question"])


def _only_result_pinned(sc, before, out):
    new = pinned_ids(sc) - before
    try:
        assert len(new) == 1, f"the call left {len(new)} frames pinned: {new}"
        assert new == {frame_id(out)}, "the pinned frame is not the result"
    finally:
        release(sc, new)


def test_v2_survey_decode_error_leaves_nothing_pinned(spark, monkeypatch):
    sc = spark.sparkContext
    surveys = make_surveys(spark)
    before = pinned_ids(sc)

    def exploding(*a, **k):
        raise RuntimeError("injected decode failure")

    monkeypatch.setattr(v2, "decode_survey", exploding)
    with pytest.raises(RuntimeError, match="injected"):
        v2.run_v2_survey(surveys, MockSurveyClient, V2_CFG)
    leaked = pinned_ids(sc) - before
    release(sc, leaked)
    assert leaked == set(), f"a failed survey left frames pinned: {leaked}"


def test_v1_qa_collapse_error_leaves_nothing_pinned(spark, monkeypatch):
    sc = spark.sparkContext
    docs = _collapse_docs(spark)
    before = pinned_ids(sc)

    def exploding(state, *a, **k):               # stands in for v1_qa._collapse
        raise RuntimeError("injected collapse failure")

    monkeypatch.setattr(v1_qa, "_collapse", exploding)
    with pytest.raises(RuntimeError, match="injected"):
        v1_qa.run_v1_qa(docs, chunk_size=800, client_factory=ChattyQAClient)
    leaked = pinned_ids(sc) - before
    release(sc, leaked)
    assert leaked == set(), f"a failed QA call left frames pinned: {leaked}"


def test_v2_survey_leaves_only_its_result_pinned(spark):
    sc = spark.sparkContext
    surveys = make_surveys(spark)
    before = pinned_ids(sc)
    out = v2.run_v2_survey(surveys, MockSurveyClient, V2_CFG)
    assert out.count() == 2
    _only_result_pinned(sc, before, out)


def test_v1_qa_leaves_only_its_result_pinned(spark, tmp_path):
    """With the prompt cache (two cached stages) and collapse rounds."""
    sc = spark.sparkContext
    docs = _collapse_docs(spark)
    before = pinned_ids(sc)
    sm = StageMetrics(spark)
    out = v1_qa.run_v1_qa(docs, chunk_size=800, client_factory=ChattyQAClient,
                          stage_metrics=sm,
                          llm_cache_dir=str(tmp_path / "cache"))
    assert sorted((r["doc_id"], r["answer"]) for r in out.collect()) == [
        (7, "SK-777"), (8, "SK-888")]
    assert sm.llm("collapse").calls.value > 0
    _only_result_pinned(sc, before, out)
