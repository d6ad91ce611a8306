"""Two requests share one Spark session from two driver threads.

Each thread runs a V1 QA request (collapse rounds on, its own prompt
cache) and then a V2 survey request, each wrapped in ``retention.owned()``
and released once its rows are read.  The rows must equal a serial run's,
and nothing may stay registered beyond the baseline: a request owns
exactly the checkpoints it cut, not the other thread's.  (The registry
holds its RDDs weakly, so frames earlier tests left pinned may vanish
meanwhile; only additions are checked.)"""

import threading

from llmxmapreduce_spark.llm.client import MockQAClient
from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
from llmxmapreduce_spark.pipelines import v2_survey as v2
from llmxmapreduce_spark.pipelines.v1_qa import run_v1_qa
from llmxmapreduce_spark.retention import owned, pinned_ids, release
from tests.test_v1_pipeline import make_docs
from tests.test_v2_pipeline import make_surveys

CFG = v2.V2Config(conv_layers=1, receptive_field=2, result_num=2,
                  top_k=2, refine_rounds=1, best_of=1)


def _request(sc, run) -> list[tuple]:
    with owned() as ids:
        rows = sorted(map(tuple, run().collect()))
    release(sc, ids)
    return rows


def test_two_driver_threads_match_serial_and_release(spark, tmp_path):
    sc = spark.sparkContext
    docs = {k: make_docs(spark, n=4, repeats=40).filter(f"doc_id % 2 = {k}")
            for k in (0, 1)}
    surveys = {k: make_surveys(spark, n_surveys=2, n_papers=3 + k)
               for k in (0, 1)}

    def requests(k: int, tag: str):
        cache = str(tmp_path / tag / f"cache{k}")
        return [
            lambda: run_v1_qa(docs[k], chunk_size=520,
                              client_factory=MockQAClient,
                              llm_cache_dir=cache),
            lambda: v2.run_v2_survey(surveys[k], MockSurveyClient, CFG),
        ]

    before = pinned_ids(sc)
    serial = {k: [_request(sc, r) for r in requests(k, "serial")]
              for k in (0, 1)}
    assert pinned_ids(sc) - before == set()
    for k in (0, 1):
        assert [(d, a) for d, a, _raw in serial[k][0]] == [
            (d, f"SK-{1000 + d}") for d in (k, k + 2)]
        assert len(serial[k][1]) == 2

    results, errors = {}, []
    start = threading.Barrier(2)

    def worker(k: int):
        try:
            start.wait()
            results[k] = [_request(sc, r) for r in requests(k, "threads")]
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(k,)) for k in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert results == serial
    assert pinned_ids(sc) - before == set()
