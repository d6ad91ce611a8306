"""V2 decode: the write pass (leaf prose, assembly, polish) and the
deterministic tail (P12 renumbering, A7 cite_ratio, references block,
markdown assembly), checked standalone against hand-computed rows."""

from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
from llmxmapreduce_spark.pipelines import v2_survey as v2
from llmxmapreduce_spark.retention import pinned_ids, release
from tests.test_v2_pipeline import make_surveys

_PAPERS = "survey_id string, paper_pos int, bibkey string, title string, url string"
_DONE = "survey_id string, pos int, depth int, title string, content string"


def test_decode_tail_edge_cases(spark):
    papers = spark.createDataFrame([
        # s1: a duplicate bibkey (the later position wins the index) and a
        # null url
        ("s1", 0, "alpha", "Alpha", "http://a"),
        ("s1", 1, "beta", "Beta", None),
        ("s1", 2, "alpha", "Alpha again", "http://a2"),
        ("s1", 3, "gamma", "Gamma", "http://g"),
        # s2 cites nothing
        ("s2", 0, "delta", "Delta", "http://d"),
        # s3 has papers but no section (every leaf failed)
        ("s3", 0, "eps", "Eps", "http://e"),
    ], _PAPERS)
    done = spark.createDataFrame([
        ("s1", 0, 0, "S1", "Intro [alpha, beta]."),
        ("s1", 1, 1, "Body", None),
        ("s1", 2, 1, "More", "Cites [beta] and [nope_xq]."),
        ("s2", 0, 0, "S2", "No citations here."),
    ], _DONE)
    rows = {r["survey_id"]: r.asDict()
            for r in v2.decode_tail(done, papers).collect()}
    assert rows == {
        "s1": {
            "survey_id": "s1",
            # the null-content section is counted but not rendered
            "content_md": "# S1\nIntro [2,3].\n\n## More\nCites [2] and .",
            "n_sections": 3,
            # alpha (both rows) and beta cited, gamma not
            "cite_ratio": 0.75,
            "n_papers": 4,
            "ref_str": ("## References\n[1] Alpha http://a\n\n[2] Beta \n\n"
                        "[3] Alpha again http://a2\n\n[4] Gamma http://g\n\n"),
        },
        "s2": {
            "survey_id": "s2",
            "content_md": "# S2\nNo citations here.",
            "n_sections": 1,
            "cite_ratio": 0.0,
            "n_papers": 1,
            "ref_str": "## References\n[1] Delta http://d\n\n",
        },
    }


def _decode_inputs(spark):
    """Two surveys' final outlines (one parent with two leaves), one
    digest per section, and their papers."""
    papers = v2.build_papers(make_surveys(spark, n_surveys=2, n_papers=3))
    outlines = spark.createDataFrame(
        [(f"survey{s}", f"Topic {s}",
          f"# Topic {s}\n## Intro\n## Methods\n### Sub A\n### Sub B")
         for s in (0, 1)],
        "survey_id string, survey_title string, outline_md string")
    digests = spark.createDataFrame(
        [(f"survey{s}", 0, pos, f"Digest [paper_{s}_{pos % 3}].")
         for s in (0, 1) for pos in range(5)],
        "survey_id string, digest_id int, pos int, description string")
    return v2.typed_scores(v2.unrefined_state(outlines)), digests, papers


def test_decode_pins_nothing(spark):
    """Decode is two per-survey passes with no cut in between: a
    standalone call leaves nothing pinned (additions only: the registry
    holds RDDs weakly, so earlier tests' frames may vanish meanwhile)."""
    sc = spark.sparkContext
    final, digests, papers = _decode_inputs(spark)
    before = pinned_ids(sc)
    rows = v2.decode_survey(final, digests, papers, MockSurveyClient,
                            v2.V2Config()).collect()
    added = pinned_ids(sc) - before
    release(sc, added)
    assert sorted(r["survey_id"] for r in rows) == ["survey0", "survey1"]
    assert added == set(), f"decode left {len(added)} frames pinned"


def test_decode_every_leaf_failed_emits_no_row(spark):
    class NoProseForTopic1(MockSurveyClient):
        def complete(self, prompt: str) -> str:
            if prompt.startswith("[ORCHESTRA] Survey title: Topic 1\n"):
                raise RuntimeError("leaf call failed")
            return super().complete(prompt)

    final, digests, papers = _decode_inputs(spark)
    rows = v2.decode_survey(final, digests, papers, NoProseForTopic1,
                            v2.V2Config()).collect()
    assert [(r["survey_id"], r["n_sections"]) for r in rows] == [("survey0", 5)]
