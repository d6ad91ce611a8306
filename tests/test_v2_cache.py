"""V2 digest stage behind the prompt-hash cache
(V2Config.llm_cache_dir): byte-identical output, zero digest model
calls on an identical re-run, and the cached stage's eager frames are
released as each cycle's digest checkpoint supersedes them."""

from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
from llmxmapreduce_spark.operators.stage_metrics import StageMetrics
from llmxmapreduce_spark.pipelines import v2_survey as v2
from llmxmapreduce_spark.retention import pinned_ids, release

from tests.test_v2_pipeline import make_surveys


def _rows(df):
    out = []
    for r in df.collect():
        d = r.asDict()
        for k, val in d.items():
            if isinstance(val, list):
                d[k] = str(val)
        out.append(tuple(sorted(d.items())))
    return sorted(out)


def test_v2_cached_digests_identical_and_replay(spark, tmp_path):
    base = dict(conv_layers=1, receptive_field=2, result_num=3,
                top_k=2, refine_rounds=1, best_of=2, block_count=2)
    surveys = make_surveys(spark)
    sc = spark.sparkContext
    before = pinned_ids(sc)

    plain = _rows(v2.run_v2_survey(surveys, MockSurveyClient,
                                   v2.V2Config(**base)))

    cache = str(tmp_path / "v2cache")
    sm1 = StageMetrics(spark)
    run1 = _rows(v2.run_v2_survey(
        surveys, MockSurveyClient,
        v2.V2Config(llm_cache_dir=cache, **base), stage_metrics=sm1))
    assert run1 == plain
    calls1 = sm1.llm("digest").calls.value
    assert calls1 > 0

    sm2 = StageMetrics(spark)
    run2 = _rows(v2.run_v2_survey(
        surveys, MockSurveyClient,
        v2.V2Config(llm_cache_dir=cache, **base), stage_metrics=sm2))
    assert run2 == plain
    # every digest pass (pre-loop, per-cycle re-digest) replays: the
    # deterministic pipeline reproduces run 1's prompts exactly
    assert sm2.llm("digest").calls.value == 0
    # other stages still called the model (cache scopes to digests only)
    assert sm2.llm("outline").calls.value > 0

    # ledger: cached-stage frames were released as superseded — three
    # runs pin no more than a per-run residue (each run leaves only its
    # returned frame; the bound leaves slack), nothing proportional to
    # digest passes × frames
    created = pinned_ids(sc) - before
    assert len(created) <= 15, f"cached runs leaked frames: {created}"
    release(sc, created)
