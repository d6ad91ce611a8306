"""V2's survey stages as per-survey passes.

Outline (C6 → L5 → L6), the digest merge (J1 → A3) and the hidden block
(L9 → conv → self-refine) each run as one ``groupBy("survey_id")`` pass
per survey.  These tests pin what the passes must keep: C6 and the A3
merge in Python give the batches and rows of their Spark forms,
``make_digests`` still reports its
dead letters, a survey without suggestions is not refined, every call is
metered under its stage and fanned out over ``llm_threads``, V3 reaches
the same ``conv_refine``, LLM grouping keeps one row per paper in the
grouped papers cut, and a survey request stays within its job bound.
"""

from pyspark.sql import functions as F

from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
from llmxmapreduce_spark.operators import digest_ops, grouping
from llmxmapreduce_spark.operators.skeleton import align_reason_py, parse_outline_py
from llmxmapreduce_spark.operators.stage_metrics import StageMetrics
from llmxmapreduce_spark.pipelines import v2_survey as v2
from llmxmapreduce_spark.pipelines import v3_host as vh
from llmxmapreduce_spark.retention import checkpoint, owned, release
from tests.test_v2_pipeline import make_surveys
from tests.test_v2_refdefaults import REF_KNOBS

_SMALL = dict(conv_layers=1, receptive_field=2, result_num=2, top_k=2,
              refine_rounds=1, best_of=1, polish=False, block_count=1)


# ---------------------------------------------------------------------------
# C6: the outline pass batches as hash_shuffled_batches does
# ---------------------------------------------------------------------------

def test_skeleton_batches_follow_hash_shuffled_batches(spark):
    import re

    cfg = v2.V2Config(**_SMALL)
    grouped = v2.group_papers(
        v2.build_papers(make_surveys(spark, n_surveys=2, n_papers=20)), cfg)
    batches = grouping.hash_shuffled_batches(
        grouped.select("survey_id", "digest_id").distinct(), "digest_id",
        cfg.skeleton_batch, seed=cfg.seed + 1, partition_cols=["survey_id"],
        group_col="batch_id")
    expected: dict[str, dict[int, list[str]]] = {}
    for r in grouped.join(batches, ["survey_id", "digest_id"]).collect():
        expected.setdefault(r["survey_id"], {}).setdefault(
            r["batch_id"], []).append(r["bibkey"])
    papers = grouped.toPandas()
    for sid, by_batch in expected.items():
        packed = v2._skeleton_batches_py(papers[papers["survey_id"] == sid],
                                         cfg.skeleton_batch, cfg.seed + 1)
        assert [re.findall(r"Bibkey: '(.*?)'", p) for p in packed] == [
            sorted(by_batch[b]) for b in sorted(by_batch)]


# ---------------------------------------------------------------------------
# A3: the Python merge gives the Spark merge's rows
# ---------------------------------------------------------------------------

def _spark_merge(spark, nodes):
    """The A3 merge as the pipeline ran it in Spark: one ``bibkeys`` array
    per paper, the paper's bibkey as the entry key, per digest group."""
    df = spark.createDataFrame(
        [(n["survey_id"], n["digest_id"], n["bibkey"], n["pos"], n["description"])
         for n in nodes],
        "survey_id string, digest_id int, bibkey string, pos int, "
        "description string")
    rows = digest_ops.merge_digest_descriptions(
        df.withColumn("bibkeys", F.array("bibkey")),
        id_cols=["survey_id", "digest_id"], digest_id_col="bibkey").collect()
    return sorted((r["digest_id"], r["pos"], r["description"], r["all_bibkeys"])
                  for r in rows)


def _py_rows(merged):
    return sorted((r["digest_id"], r["pos"], r["description"], r["all_bibkeys"])
                  for r in merged)


def test_python_merge_matches_spark_merge(spark):
    def node(digest_id, bibkey, pos, description):
        return {"survey_id": "s", "digest_id": digest_id, "bibkey": bibkey,
                "pos": pos, "description": description}

    nodes = [
        # two papers of one digest group in one section, out of key order
        node(0, "b", 1, "from b"), node(0, "a", 1, "from a"),
        # empty and null descriptions: no entry, but the keys still count
        node(0, "a", 2, ""), node(0, "b", 2, None),
        node(0, "b", 3, "only b"),
        # a null bibkey sorts first among the entries and last in the keys
        node(1, "c", 1, "from c"), node(1, None, 1, "no key"),
        node(1, "c", 2, None),
    ]
    assert _py_rows(digest_ops.merge_digest_nodes_py(nodes)) == \
        _spark_merge(spark, nodes)


def test_digest_pass_matches_spark_align_and_merge(spark):
    """J1 then A3 over one survey's replies, a misaligned paper among
    them: the pass's digests are the Spark merge of the aligned papers'
    nodes, and the misaligned paper comes out as a dead letter."""
    import pandas as pd

    title = "T"
    outline = "# T\n## Alpha\nabout alpha\n### Deep\nsub\n## Beta\nabout beta"
    echo = ("# T\n## Alpha\nExtract {k} alpha\n### Deep\n\n"
            "## Beta\nExtract {k} beta")
    replies = [
        (0, "p2", echo.format(k="p2")), (0, "p1", echo.format(k="p1")),
        (1, "p3", echo.format(k="p3") + "\n## Extra\nnot in the outline"),
        (1, "p4", "# T\n## Alpha\n\n### Deep\n\n## Beta\n"),
    ]
    pdf = pd.DataFrame(
        [(title, outline, d, k, md) for d, k, md in replies],
        columns=["survey_title", "outline_md", "digest_id", "bibkey", "md"])
    out = v2._digest_survey_py(pdf)

    aligned = [(d, k, md) for d, k, md in replies
               if align_reason_py(title, outline, md) is None]
    assert [k for _, k, _ in aligned] == ["p2", "p1", "p4"]
    nodes = [{"survey_id": "s", "digest_id": d, "bibkey": k, "pos": n["pos"],
              "description": n["description"]}
             for d, k, md in aligned for n in parse_outline_py(title, md)]
    assert _py_rows(r for r in out if r["reason"] is None) == \
        _spark_merge(spark, nodes)
    assert [(r["bibkey"], r["reason"]) for r in out if r["reason"]] == [
        ("p3", "extra digest section")]


# ---------------------------------------------------------------------------
# make_digests keeps its dead letters
# ---------------------------------------------------------------------------

def test_make_digests_reports_failed_and_misaligned_papers(spark):
    # the client classes are local, so executors unpickle them by value
    class DeadDigests(MockSurveyClient):
        """paper_0_1's digest call fails; paper_0_2's digest has a section
        the outline does not."""

        def complete(self, prompt: str) -> str:
            if prompt.startswith("[DIGEST] Paper bibkey: paper_0_1\n"):
                raise RuntimeError("digest call failed")
            reply = super().complete(prompt)
            if prompt.startswith("[DIGEST] Paper bibkey: paper_0_2\n"):
                reply = reply.replace(
                    "\n```\n```suggestion",
                    "\n## Extra\nnot in the outline\n```\n```suggestion")
            return reply

    surveys = make_surveys(spark, n_surveys=1, n_papers=4)
    cfg = v2.V2Config(**_SMALL)
    grouped = v2.group_papers(v2.build_papers(surveys), cfg)
    with owned() as ids:
        # cut as run_v2_survey cuts it, so the plan below is the digests'
        outlines = checkpoint(v2.init_outlines(grouped, MockSurveyClient, cfg))
        digests, dead = v2.make_digests(grouped, outlines, DeadDigests, cfg)

        reasons = {r["bibkey"]: r["reason"] for r in dead.collect()}
        assert set(reasons) == {"paper_0_1", "paper_0_2"}
        assert reasons["paper_0_2"] == "extra digest section"
        assert "digest call failed" in reasons["paper_0_1"]
        keys = {k for r in digests.collect() for k in r["all_bibkeys"]}
        assert keys == {"paper_0_0", "paper_0_3"}

        # the L7 call and the per-survey pass are the digests' only Python
        # nodes: the dead letters add none while they go unread
        plan = digests._jdf.queryExecution().optimizedPlan().toString()
    release(spark.sparkContext, ids)
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "EvalPython" not in plan, plan


# ---------------------------------------------------------------------------
# the hidden block: L9 feeds the conv block in one pass
# ---------------------------------------------------------------------------

def test_survey_without_suggestions_is_not_refined(spark):
    class NoFeedbackForTopic1(MockSurveyClient):
        def complete(self, prompt: str) -> str:
            if prompt.startswith("[FEEDBACK] Survey title: Topic 1\n"):
                raise RuntimeError("feedback call failed")
            return super().complete(prompt)

    surveys = make_surveys(spark, n_surveys=2, n_papers=4)
    cfg = v2.V2Config(**_SMALL)
    grouped = v2.group_papers(v2.build_papers(surveys), cfg)
    outlines = v2.init_outlines(grouped, MockSurveyClient, cfg)
    digests, _dead = v2.make_digests(grouped, outlines, MockSurveyClient, cfg)
    sm = StageMetrics(spark)
    rows = v2.conv_refine(v2.unrefined_state(outlines), digests,
                          NoFeedbackForTopic1, cfg, meter=sm.llm).collect()
    assert [r["survey_id"] for r in rows] == ["survey0"]
    groups = digests.filter("survey_id = 'survey1'").select("digest_id").distinct()
    assert sm.llm("suggest").failures.value == groups.count() > 0
    assert sm.llm("refine").calls.value > 0


# ---------------------------------------------------------------------------
# every call metered under its stage, L5 and L9 fanned out
# ---------------------------------------------------------------------------

def _probing_client(sc):
    """A MockSurveyClient class that holds each L5/L6/L9 call for 50 ms
    and records ``(tag, survey title, start, end)`` in an accumulator (the
    class is local, so executors unpickle it by value)."""
    import time

    from pyspark.accumulators import AccumulatorParam

    class ListParam(AccumulatorParam):
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            a.extend(b)
            return a

    calls = sc.accumulator([], ListParam())
    tags = ("[INIT_OUTLINE]", "[CONCAT_OUTLINE]", "[FEEDBACK]")

    class Probe(MockSurveyClient):
        def complete(self, prompt: str) -> str:
            tag = next((t for t in tags if prompt.startswith(t)), None)
            if tag is None:
                return super().complete(prompt)
            title = prompt.split("\n", 1)[0].split("Survey title: ")[1]
            start = time.monotonic()
            time.sleep(0.05)
            reply = super().complete(prompt)
            calls.add([(tag, title, start, time.monotonic())])
            return reply

    return Probe, calls


def _peak(intervals) -> int:
    """Most intervals open at once."""
    edges = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals])
    peak = now = 0
    for _, step in edges:
        now += step
        peak = max(peak, now)
    return peak


def test_calls_metered_by_stage_and_fanned_out(spark):
    surveys = make_surveys(spark, n_surveys=2, n_papers=12)
    cfg = v2.V2Config(**{**_SMALL, "llm_threads": 4})
    client, calls = _probing_client(spark.sparkContext)
    sm = StageMetrics(spark)
    rows = v2.run_v2_survey(surveys, client, cfg, stage_metrics=sm).collect()
    assert len(rows) == 2

    seen = calls.value
    by_tag = {t: [c for c in seen if c[0] == t]
              for t in ("[INIT_OUTLINE]", "[CONCAT_OUTLINE]", "[FEEDBACK]")}
    # 12 papers → 4 digest groups → 2 skeleton batches and 4 suggestions
    assert len(by_tag["[INIT_OUTLINE]"]) == 2 * 2
    assert len(by_tag["[CONCAT_OUTLINE]"]) == 2
    assert len(by_tag["[FEEDBACK]"]) == 2 * 4
    assert sm.llm("outline").calls.value == 2 * 2 + 2
    assert sm.llm("suggest").calls.value == 2 * 4
    for tag in ("[INIT_OUTLINE]", "[FEEDBACK]"):
        for title in ("Topic 0", "Topic 1"):
            spans = [(s, e) for t, ti, s, e in seen if t == tag and ti == title]
            assert _peak(spans) >= 2, (tag, title, spans)


# ---------------------------------------------------------------------------
# V3 reaches the same pass
# ---------------------------------------------------------------------------

def test_v3_skeleton_refine_runs_conv_refine_on_the_digests(spark, tmp_path,
                                                            monkeypatch):
    seen = []
    real = v2.conv_refine

    def recording(state, digests, *args, **kwargs):
        seen.append(sorted(digests.columns))
        return real(state, digests, *args, **kwargs)

    monkeypatch.setattr(v2, "conv_refine", recording)

    def fake_search(query):
        return [{"url": f"https://x.test/{i}", "title": f"t{i}",
                 "snippet": f"snippet {i} about {query}"} for i in range(4)]

    def fake_fetch(url):
        n = int(url.rsplit("/", 1)[-1])
        return f"# Page {n}\n" + " ".join(
            f"word{i} the of and in" for i in range(40 + 10 * n))

    topic = "graph neural networks"
    host = vh.make_spark_host(
        spark, str(tmp_path), vh.MockPlanner(topic), MockSurveyClient,
        lambda: fake_search, lambda: fake_fetch,
        top_n=4, snippet_threshold=0, similarity_threshold=0,
        min_length=50, max_length=100000)
    out = host.process_task(f"Write a survey about {topic}")
    assert out["status"] == "completed"
    assert seen == [["all_bibkeys", "description", "digest_id", "pos",
                     "survey_id"]]


# ---------------------------------------------------------------------------
# C7 'llm': one row per paper in the grouped papers cut
# ---------------------------------------------------------------------------

def _last_pair_group_client():
    """A mock whose L4 reply groups only the last two listed bibkeys
    (defined in a function, so the workers unpickle it by value)."""

    class LastPairGroupClient(MockSurveyClient):
        def complete(self, prompt: str) -> str:
            if prompt.startswith("[GROUP]"):
                keys = [line[2:] for line in prompt.splitlines()
                        if line.startswith("- ")]
                return f"[{keys[-2]}, {keys[-1]}]"
            return super().complete(prompt)

    return LastPairGroupClient


def test_llm_grouping_keeps_one_row_per_paper(spark):
    """Papers a, a, b, c with an L4 reply of [b, c]: the repair pass sees
    the unassigned a twice, yet the grouped papers cut holds exactly one
    row per input paper, and decode counts four papers per survey."""
    client = _last_pair_group_client()
    surveys = make_surveys(spark, n_surveys=2, n_papers=4).withColumn(
        "papers", F.transform("papers", lambda p, i: p.withField(
            "bibkey", F.element_at(F.array(*map(F.lit, "aabc")), i + 1))))
    cfg = v2.V2Config(**{**_SMALL, "group_mode": "llm", "digest_batch": 2})
    grouped = v2.group_papers(v2.build_papers(surveys), cfg,
                              client).collect()
    assert sorted((r["survey_id"], r["paper_pos"]) for r in grouped) == [
        (f"survey{s}", p) for s in range(2) for p in range(4)]
    assert {r["bibkey"]: r["digest_id"] for r in grouped
            if r["survey_id"] == "survey0"} == {"b": 0, "c": 0, "a": 1}

    sm = StageMetrics(spark)
    out = v2.run_v2_survey(surveys, client, cfg,
                           stage_metrics=sm).collect()
    assert sorted(r["n_papers"] for r in out) == [4, 4]
    assert {r["stage"]: r["rows_out"] for r in sm.report()}["papers"] == 8


# ---------------------------------------------------------------------------
# the job bound
# ---------------------------------------------------------------------------

def test_survey_request_job_bound(spark):
    """At the reference knobs a survey request runs at most 20 Spark jobs
    (21 when the grouping window was re-run by each reader of the papers
    cut; 25 when outline, digest merge and L9 each crossed the Python
    boundary per node): papers 2, outline 2, digest 3 + 3, refine 3,
    decode 6, collect 1."""
    sc = spark.sparkContext
    surveys = make_surveys(spark, n_surveys=2, n_papers=32)
    group = "survey-job-bound"
    sc.setJobGroup(group, "one survey request")
    try:
        out = v2.run_v2_survey(surveys, MockSurveyClient,
                               v2.V2Config(**REF_KNOBS)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(out) == 2
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 20, jobs
