"""End-to-end V1 QA pipeline tests with the deterministic mock LLM."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.functions import text as X

from llmxmapreduce_spark.llm.client import (
    ChattyQAClient,
    FlakyClient,
    HashEchoClient,
    MockQAClient,
    RetryPolicy,
)
from llmxmapreduce_spark.operators import chunker
from llmxmapreduce_spark.operators.llm_op import dead_letter_split, llm_stage
from llmxmapreduce_spark.operators.stage_metrics import StageMetrics
from llmxmapreduce_spark.pipelines import v1_qa
from llmxmapreduce_spark.pipelines.v1_qa import run_v1_qa


def make_docs(spark, n=6, repeats=20):
    rows = []
    for i in range(n):
        filler = "\n".join(
            f"filler line {j} about nothing in particular for doc {i}."
            for j in range(repeats)
        )
        secret = f"The secret key for document {i} is SK-{1000 + i}."
        context = f"{filler}\n{secret}\n{filler}\n{secret}\n{filler}"
        rows.append((i, context, f"What is the secret key for document {i}?"))
    return spark.createDataFrame(rows, ["doc_id", "context", "question"])


def test_v1_qa_end_to_end(spark):
    docs = make_docs(spark)
    out = run_v1_qa(docs, chunk_size=520, client_factory=MockQAClient).collect()
    assert len(out) == 6
    for r in out:
        assert r["answer"] == f"SK-{1000 + r['doc_id']}", r["raw_reply"]


def test_v1_qa_collapse_triggers(spark):
    # Plant the secret in MANY chunks so the surviving map outputs exceed the
    # collapse budget and the A1 loop has to run.
    i = 7
    secret = f"The secret key for document {i} is SK-777."
    context = "\n".join(
        f"padding sentence {j} here. {secret}" for j in range(60)
    )
    docs = spark.createDataFrame(
        [(i, context, f"What is the secret key for document {i}?")],
        ["doc_id", "context", "question"],
    )
    # chunk_size 800 -> collapse budget 402 tokens: ChattyQAClient's three
    # padded map replies (136 labelled tokens each) exceed it and pack into
    # two groups, and the merged blocks fit, so the loop runs one round and
    # converges.
    sm = StageMetrics(spark)
    out = run_v1_qa(docs, chunk_size=800, client_factory=ChattyQAClient,
                    max_collapse_rounds=6, stage_metrics=sm).collect()
    assert out[0]["answer"] == "SK-777"
    assert sm.llm("collapse").calls.value > 0


def test_v1_qa_deterministic(spark):
    docs = make_docs(spark, n=3)
    a = sorted(map(tuple, run_v1_qa(docs, 520, MockQAClient).collect()))
    b = sorted(map(tuple, run_v1_qa(docs, 520, MockQAClient).collect()))
    assert a == b


def test_llm_stage_retry_and_dead_letter(spark):
    df = spark.createDataFrame([(1, "alpha"), (2, "beta POISON")], ["id", "p"])
    out = llm_stage(
        df,
        build_prompt=lambda r: r["p"],
        parse=lambda s: {"reply": s},
        client_factory=lambda: FlakyClient(HashEchoClient(), n_failures=1,
                                           fail_marker="POISON"),
        payload_fields=[T.StructField("reply", T.StringType(), True)],
        keep_cols=["id"],
        retry=RetryPolicy(max_attempts=3),
    )
    ok, dead = dead_letter_split(out)
    ok_rows, dead_rows = ok.collect(), dead.collect()
    assert [r["id"] for r in ok_rows] == [1]
    assert ok_rows[0]["llm_attempts"] == 2          # one transient failure
    assert [r["id"] for r in dead_rows] == [2]
    assert dead_rows[0]["llm_attempts"] == 3
    assert "permanent" in dead_rows[0]["llm_error"]
    assert dead_rows[0]["reply"] is None


def test_llm_stage_parse_error_is_sentinel(spark):
    df = spark.createDataFrame([(1, "x")], ["id", "p"])

    def bad_parse(s):
        raise ValueError("malformed")

    out = llm_stage(
        df, lambda r: r["p"], bad_parse, HashEchoClient,
        [T.StructField("reply", T.StringType(), True)], ["id"],
    ).collect()
    assert out[0]["llm_ok"] is False and "ParseError" in out[0]["llm_error"]


def test_mock_qa_client_routing():
    c = MockQAClient()
    mp = ("Extract Relevant Information ... What is the secret key for "
          "document 3? ... The secret key for document 3 is SK-1003.")
    assert "Answer: SK-1003" in c.complete(mp)
    assert "[NO INFORMATION]" in c.complete(
        "Extract Relevant Information ... What is the secret key for "
        "document 3? ... nothing here")
    collapse = ("Integrate Extracted Information ...\n"
                "Answer: SK-5\nConfidence Score: 2\n\n"
                "Answer: SK-9\nConfidence Score: 5\n")
    assert "Answer: SK-9" in c.complete(collapse)
    reduce_p = ("Information from chunks ...\n"
                "Answer: SK-9\nConfidence Score: 5\n")
    assert c.complete(reduce_p).endswith("Answer: SK-9")


def test_collapse_checkpoints_released(spark):
    """r12 audit: the collapse cut must release the map cut it replaces —
    a call that collapses every document leaves only its returned frame
    pinned, nothing from the map or collapse cuts or the LLM stages."""
    sc = spark.sparkContext
    docs = make_docs(spark, n=4, repeats=40)
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    # chunk_size 600 -> collapse budget 202 tokens: each document's two
    # padded map replies (136 labelled tokens each) overflow it
    sm = StageMetrics(spark)
    out = run_v1_qa(docs, chunk_size=600, client_factory=ChattyQAClient,
                    stage_metrics=sm)
    out.count()
    assert sm.llm("collapse").calls.value > 0
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    leaked = after - before
    assert len(leaked) <= 3, (
        f"{len(leaked)} RDDs left pinned by a collapsing run; "
        "the map or collapse cuts are leaking")


def test_v1_qa_with_llm_cache_replays(spark, tmp_path):
    """run_v1_qa(llm_cache_dir=...): the second identical run replays the
    map and reduce stages from the prompt-hash cache (zero model calls
    on those stages) and produces byte-identical answers."""
    from llmxmapreduce_spark.operators.stage_metrics import StageMetrics
    from llmxmapreduce_spark.retention import pinned_ids, release

    docs = make_docs(spark, n=3)
    cache = str(tmp_path / "v1cache")
    sc = spark.sparkContext
    before = pinned_ids(sc)

    sm1 = StageMetrics(spark)
    a = sorted(map(tuple, run_v1_qa(
        docs, 520, MockQAClient, stage_metrics=sm1,
        llm_cache_dir=cache).collect()))
    assert sm1.llm("map").calls.value > 0

    sm2 = StageMetrics(spark)
    b = sorted(map(tuple, run_v1_qa(
        docs, 520, MockQAClient, stage_metrics=sm2,
        llm_cache_dir=cache).collect()))
    assert a == b
    assert sm2.llm("map").calls.value == 0
    assert sm2.llm("reduce").calls.value == 0

    # bounded retention: each run leaves only its returned frame pinned
    # (the bound leaves slack); nothing grows with the corpus
    created = pinned_ids(sc) - before
    assert len(created) <= 12
    release(sc, created)


def test_map_stage_runs_once(spark):
    """r13: the collapse loop's budget gate and the reduce path consume
    the map output through separate actions; the pre-loop section cut in
    run_v1_qa must keep the map LLM stage at exactly ONE execution — the
    map accumulator equals the chunk count (pre-fix it measured 2x with
    no collapse round and 3x with one)."""
    from llmxmapreduce_spark.operators import chunker
    from llmxmapreduce_spark.operators.stage_metrics import StageMetrics
    from llmxmapreduce_spark.pipelines import v1_qa

    for n, repeats, chunk_size in ((6, 20, 520), (4, 40, 520)):
        docs = make_docs(spark, n=n, repeats=repeats)
        budget = (
            F.lit(chunk_size - chunker.bpe_ish_len(v1_qa.MAP_PROMPT)
                  - v1_qa.MAX_NEW_TOKENS)
            - X.token_count_bpe_ish(F.col("question"))
        )
        expected = chunker.chunk_documents(
            docs.withColumn("budget", budget),
            id_col="doc_id", text_col="context", budget_col="budget",
            length_fn=chunker.bpe_ish_len,
        ).count()
        assert expected > n

        sm = StageMetrics(spark)
        out = run_v1_qa(docs, chunk_size=chunk_size,
                        client_factory=MockQAClient, stage_metrics=sm)
        assert out.count() == n
        assert sm.llm("map").calls.value == expected


def test_docs_read_once(spark, tmp_path):
    """The caller's documents are read once per call, with and without
    the prompt cache: every chunk row carries its document to the result,
    so nothing joins back to ``docs`` (a join that re-read them 3x)."""
    base = make_docs(spark, n=3)
    cache_dir = str(tmp_path / "cache")
    for cache in (None, cache_dir, cache_dir):         # uncached, cold, warm
        reads = spark.sparkContext.accumulator(0)

        @F.udf(T.BooleanType())
        def counted(doc_id):
            reads.add(1)
            return True

        out = run_v1_qa(base.filter(counted("doc_id")), 520, MockQAClient,
                        llm_cache_dir=cache)
        assert sorted(r["doc_id"] for r in out.collect()) == [0, 1, 2]
        assert reads.value == 3, (cache, reads.value)


def _chunk_rows(docs, chunk_size):
    """The chunker's rows for ``run_v1_qa``'s map budget at ``chunk_size``."""
    budget = (
        F.lit(chunk_size - chunker.bpe_ish_len(v1_qa.MAP_PROMPT)
              - v1_qa.MAX_NEW_TOKENS)
        - X.token_count_bpe_ish(F.col("question"))
    )
    return chunker.chunk_documents(
        docs.withColumn("budget", budget), id_col="doc_id",
        text_col="context", budget_col="budget").collect()


def test_empty_documents_answer_once(spark, tmp_path):
    """An empty and a whitespace-only document each keep one chunk row
    with null text, send no map or reduce prompt, write no cache row and
    answer [NO INFORMATION] with the default reply — cached or not."""
    docs = spark.createDataFrame([
        (0, "filler\nThe secret key for document 0 is SK-9000.\nfiller",
         "What is the secret key for document 0?"),
        (1, "", "What is the secret key for document 1?"),
        (2, "  \n \t ", "What is the secret key for document 2?"),
    ], ["doc_id", "context", "question"])
    chunks = _chunk_rows(docs, 520)
    assert sorted(r["doc_id"] for r in chunks if r["text"] is None) == [1, 2]
    n_texts = sum(r["text"] is not None for r in chunks)
    cache = str(tmp_path / "cache")
    for cache_dir in (None, cache):
        sm = StageMetrics(spark)
        out = {r["doc_id"]: r for r in run_v1_qa(
            docs, 520, MockQAClient, stage_metrics=sm,
            llm_cache_dir=cache_dir).collect()}
        assert sorted(out) == [0, 1, 2]
        assert out[0]["answer"] == "SK-9000"
        for i in (1, 2):
            assert out[i]["answer"] == X.NO_INFORMATION
            assert out[i]["raw_reply"] == v1_qa.NO_INFORMATION_REPLY
        assert sm.llm("map").calls.value == n_texts
        assert sm.llm("reduce").calls.value == 1
    # only document 0's prompts reached the cache
    assert spark.read.parquet(f"{cache}/map").count() == n_texts
    assert spark.read.parquet(f"{cache}/reduce").count() == 1


def test_collapse_budget_uses_length_fn(spark):
    """The collapse stop test counts with ``length_fn``, the same count
    the packing uses: four map replies that fit the collapse budget by
    ``ws_len`` (88 of 115 words) but not by the bpe-ish count (132) must
    not be collapsed."""
    secret = "The secret key for document 7 is SK-777."
    context = "\n".join(f"padding sentence {j} here. {secret}" for j in range(30))
    docs = spark.createDataFrame(
        [(7, context, "What is the secret key for document 7?")],
        ["doc_id", "context", "question"])
    sm = StageMetrics(spark)
    out = run_v1_qa(docs, chunk_size=480, client_factory=MockQAClient,
                    length_fn=chunker.ws_len, stage_metrics=sm).collect()
    assert out[0]["answer"] == "SK-777"
    assert sm.llm("map").calls.value == 4
    assert sm.llm("collapse").calls.value == 0


def test_map_budget_uses_length_fn(spark):
    """The map budget subtracts the question as ``length_fn`` counts it:
    "What is the secret key for document 7?" is 8 words (9 bpe-ish
    tokens), which leaves exactly room for two 10-word lines per chunk."""
    question = "What is the secret key for document 7?"
    chunk_size = (chunker.ws_len(v1_qa.MAP_PROMPT) + v1_qa.MAX_NEW_TOKENS
                  + chunker.ws_len(question) + 20)
    context = "\n".join(" ".join(f"w{i}_{j}" for j in range(10))
                        for i in range(4))
    docs = spark.createDataFrame([(7, context, question)],
                                 ["doc_id", "context", "question"])
    sm = StageMetrics(spark)
    run_v1_qa(docs, chunk_size=chunk_size, client_factory=MockQAClient,
              length_fn=chunker.ws_len, stage_metrics=sm).collect()
    assert sm.llm("map").calls.value == 2
