"""D10 StageMetrics — unit pins on the Observation probe plus e2e reports
for both pipelines (round-4/5 'done' criterion: a test asserting report rows).

The probe unit tests deliberately pin two Spark 4.1 behaviors that broke the
first implementation (ADVICE r5): ``getOrEmpty`` raising before any action,
and the Scala ``Map.get`` returning a py4j Option that needs unwrapping.
"""

import time

import pytest
from pyspark.sql import functions as F

from llmxmapreduce_spark.llm.client import ChattyQAClient, MockQAClient
from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
from llmxmapreduce_spark.operators import skeleton
from llmxmapreduce_spark.operators.stage_metrics import StageMetrics, v2_stage_report
from llmxmapreduce_spark.pipelines import v2_survey as v2
from llmxmapreduce_spark.pipelines.v1_qa import run_v1_qa
from tests.test_v1_pipeline import make_docs
from tests.test_v2_pipeline import make_surveys


# ---------------------------------------------------------------------------
# unit: the Observation probe
# ---------------------------------------------------------------------------

def test_report_before_any_action_is_none_not_crash(spark):
    sm = StageMetrics(spark)
    sm.observe("s", spark.range(10))
    (row,) = sm.report()
    assert row["stage"] == "s"
    assert row["rows_out"] is None          # pre-action: probe degrades
    assert row["wall_s"] is None


def test_report_after_action_unwraps_option(spark):
    sm = StageMetrics(spark)
    df = sm.observe("s", spark.range(7))
    df.count()
    (row,) = sm.report()
    assert row["rows_out"] == 7             # Scala Option unwrapped to int
    assert isinstance(row["rows_out"], int)


def test_report_materialized_uses_public_get(spark):
    sm = StageMetrics(spark)
    df = sm.observe("s", spark.range(5))
    df.collect()
    sm.materialized("s")
    (row,) = sm.report()
    assert row["rows_out"] == 5
    assert row["wall_s"] is not None and row["wall_s"] >= 0


def test_report_df_and_pretty(spark):
    sm = StageMetrics(spark)
    sm.observe("a", spark.range(3)).count()
    df = sm.report_df()
    assert df.columns == ["stage", "rows_out", "wall_s", "llm_calls",
                          "llm_failures", "est_prompt_tokens",
                          "est_reply_tokens"]
    assert df.collect()[0]["rows_out"] == 3
    assert "stage" in sm.pretty().splitlines()[0]


def test_observe_adds_no_extra_job(spark):
    """rows-out must ride the existing action (CollectMetrics), not a
    second count job: job count with the observation == without it."""
    sc = spark.sparkContext

    def jobs_for(df, group):
        sc.setJobGroup(group, group)
        try:
            df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    base = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    plain = jobs_for(base, "sm-plain")
    sm = StageMetrics(spark)
    observed = jobs_for(sm.observe("s", base), "sm-observed")
    assert observed == plain
    assert sm.report()[0]["rows_out"] == 5


# ---------------------------------------------------------------------------
# e2e: V1 pipeline report
# ---------------------------------------------------------------------------

def test_v1_pipeline_report(spark):
    docs = make_docs(spark, n=4)
    sm = StageMetrics(spark)
    out = run_v1_qa(docs, chunk_size=520, client_factory=MockQAClient,
                    stage_metrics=sm)
    n_out = out.count()
    assert n_out == 4
    rep = {r["stage"]: r for r in sm.report()}
    assert set(rep) >= {"chunk", "map", "reduce"}
    assert rep["chunk"]["rows_out"] is not None and rep["chunk"]["rows_out"] > 0
    assert rep["map"]["rows_out"] is not None and rep["map"]["rows_out"] > 0
    assert rep["reduce"]["rows_out"] == n_out
    assert rep["map"]["llm_calls"] and rep["map"]["llm_calls"] > 0
    assert rep["map"]["llm_failures"] == 0
    assert rep["map"]["est_prompt_tokens"] > 0
    # the report sinks like any table
    assert sm.report_df().count() == len(rep)


def test_v1_pipeline_report_collapse_rounds_accumulate(spark):
    # plant the secret in every chunk; ChattyQAClient's padded map outputs
    # overflow the collapse budget, so the A1 loop runs and its LLM counters
    # and wall time must appear under one "collapse" stage
    secret = "The secret key for document 7 is SK-777."
    context = "\n".join(f"padding sentence {j} here. {secret}"
                        for j in range(200))
    docs = spark.createDataFrame(
        [(7, context, "What is the secret key for document 7?")],
        ["doc_id", "context", "question"],
    )
    sm = StageMetrics(spark)
    out = run_v1_qa(docs, chunk_size=800, client_factory=ChattyQAClient,
                    max_collapse_rounds=6, stage_metrics=sm).collect()
    assert out[0]["answer"] == "SK-777"
    rep = {r["stage"]: r for r in sm.report()}
    assert "collapse" in rep
    assert rep["collapse"]["llm_calls"] > 0
    assert rep["collapse"]["wall_s"] is not None


# ---------------------------------------------------------------------------
# e2e: V2 pipeline report + per-layer detail
# ---------------------------------------------------------------------------

def test_v2_pipeline_report_and_layers(spark):
    surveys = make_surveys(spark, n_surveys=2, n_papers=5)
    cfg = v2.V2Config(conv_layers=2, receptive_field=2, result_num=2,
                      top_k=2, refine_rounds=1, best_of=1, polish=False,
                      block_count=1)
    sm = StageMetrics(spark)
    rows = v2.run_v2_survey(surveys, MockSurveyClient, cfg,
                            stage_metrics=sm).collect()
    assert len(rows) == 2
    rep = {r["stage"]: r for r in sm.report()}
    assert set(rep) >= {"papers", "outline", "digest", "suggest", "decode"}
    assert rep["papers"]["rows_out"] == 10          # 2 surveys × 5 papers
    assert rep["outline"]["rows_out"] == 2
    assert rep["digest"]["rows_out"] > 0
    assert rep["decode"]["rows_out"] == 2
    for stage in ("outline", "digest", "suggest", "decode"):
        assert rep[stage]["llm_calls"] > 0, stage
    # wall clocks recorded at every checkpoint boundary
    for stage in ("papers", "outline", "digest", "refine", "decode"):
        assert rep[stage]["wall_s"] > 0, stage
    # per-(survey, cycle, layer) detail folds from the collected rows
    layers = sm.record_v2_layers([r.asDict() for r in rows])
    assert layers == v2_stage_report([r.asDict() for r in rows])
    # 1 block cycle × (initial pool + 2 layers) × 2 surveys
    assert len(layers) == 2 * (1 + cfg.conv_layers)
    assert {r["conv_layer"] for r in layers} == {-1, 0, 1}
    ldf = sm.layer_report_df()
    assert ldf.count() == len(layers)
    assert ldf.columns == ["survey_id", "block_cycle", "conv_layer",
                           "pool_size", "avg_score"]


# ---------------------------------------------------------------------------
# e2e: every V2 model call is made once and metered once
# ---------------------------------------------------------------------------

def _counting_survey_client(sc):
    """A MockSurveyClient class that counts its calls, and its ``[GROUP]``
    calls apart, in accumulators (the class is local, so executors
    unpickle it by value)."""
    calls, group_calls = sc.accumulator(0), sc.accumulator(0)

    class CountingSurveyClient(MockSurveyClient):
        def complete(self, prompt: str) -> str:
            calls.add(1)
            if prompt.startswith("[GROUP]"):
                group_calls.add(1)
            return super().complete(prompt)

    return CountingSurveyClient, calls, group_calls


@pytest.fixture(scope="module")
def v2_all_stages(spark):
    """One survey run with every model-calling stage on: LLM grouping,
    conv layers, a refine round, polish and figures."""
    surveys = make_surveys(spark, n_surveys=2, n_papers=4)
    cfg = v2.V2Config(conv_layers=1, receptive_field=2, result_num=2,
                      top_k=2, refine_rounds=1, best_of=1, polish=True,
                      figures=True, group_mode="llm", block_count=1)
    client, calls, group_calls = _counting_survey_client(spark.sparkContext)
    sm = StageMetrics(spark)
    rows = v2.run_v2_survey(surveys, client, cfg, stage_metrics=sm).collect()
    assert len(rows) == 2
    return rows, sm, calls.value, group_calls.value


def test_v2_report_accounts_for_every_call(v2_all_stages):
    _rows, sm, calls, _ = v2_all_stages
    rep = {r["stage"]: r for r in sm.report()}
    for stage in ("group", "outline", "digest", "suggest", "refine",
                  "decode", "summary", "polish", "figures"):
        assert rep[stage]["llm_calls"] > 0, stage
    assert sum(r["llm_calls"] or 0 for r in rep.values()) == calls


def test_v2_figures_run_the_write_pass_once(v2_all_stages):
    """With figures on, the figure draft and the anchoring read one
    materialization of the written sections: the leaf calls still equal
    the leaf count of each survey's final outline."""
    rows, sm, _, _ = v2_all_stages
    leaves = sum(n["n_children"] == 0 for r in rows
                 for n in skeleton.parse_outline_py(r["survey_title"],
                                                    r["outline_md"]))
    assert leaves > 0
    assert sm.llm("decode").calls.value == leaves


def test_v2_llm_grouping_calls_once_per_survey(v2_all_stages):
    """The L4 grouping is cut once, so the outline pass and both digest
    passes read one grouping: the client sees one call per survey."""
    rows, _, _, group_calls = v2_all_stages
    assert group_calls == len(rows)


# ---------------------------------------------------------------------------
# e2e: the stage wall times tile the call
# ---------------------------------------------------------------------------

def _walls_within(sm, call_s):
    walls = {r["stage"]: r["wall_s"] for r in sm.report()
             if r["wall_s"] is not None}
    # report() rounds each wall to the millisecond
    assert sum(walls.values()) <= call_s + 0.0005 * len(walls), (walls, call_s)
    return walls


def test_v2_stage_walls_tile_the_call(spark):
    surveys = make_surveys(spark, n_surveys=2, n_papers=5)
    cfg = v2.V2Config(conv_layers=1, receptive_field=2, result_num=2,
                      top_k=2, refine_rounds=1, best_of=1, polish=False,
                      block_count=2)
    sm = StageMetrics(spark)
    t0 = time.perf_counter()
    v2.run_v2_survey(surveys, MockSurveyClient, cfg, stage_metrics=sm)
    walls = _walls_within(sm, time.perf_counter() - t0)
    for stage in ("papers", "outline", "digest", "refine", "decode"):
        assert walls[stage] > 0, stage


def test_v1_stage_walls_tile_the_call(spark):
    # every line holds the secret, so the padded map replies overflow
    # the collapse budget and the A1 loop runs
    context = "\n".join(f"padding sentence {j} here. The secret key for "
                        f"document 7 is SK-777." for j in range(60))
    docs = spark.createDataFrame(
        [(7, context, "What is the secret key for document 7?")],
        ["doc_id", "context", "question"])
    sm = StageMetrics(spark)
    t0 = time.perf_counter()
    run_v1_qa(docs, chunk_size=800, client_factory=ChattyQAClient,
              max_collapse_rounds=6, stage_metrics=sm)
    walls = _walls_within(sm, time.perf_counter() - t0)
    for stage in ("map", "collapse", "reduce"):
        assert walls[stage] > 0, stage
