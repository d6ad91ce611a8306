"""The paper's operators and pipelines against independent DuckDB oracles.

Each case builds a DataFrame with the package's operators over the sf0.01
testdata and compares it with a DuckDB query over the same parquet files,
kept in ``fixtures/paper_oracles/<case>.sql``: same row count, same column
names, same values (columns sorted by name, rows sorted, floats compared
through ``repr``).  The LLM-backed cases run on the deterministic mocks:
the V1 QA oracle computes the planted answers, the V2 survey and V3 host
oracles are frozen rows.

    python -m pytest tests/test_paper_oracles.py -q
    python -m pytest tests/test_paper_oracles.py -q -k v2_survey_pipeline
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from llmxmapreduce_spark import load_table
from llmxmapreduce_spark.functions import text as X
from llmxmapreduce_spark.operators import crawl_ops
from llmxmapreduce_spark.retention import pinned_ids, release
from tests.conftest import SF_SMOKE

# the sf0.01 tables next to the smoke tables
SF = str(Path(SF_SMOKE).with_name("sf0.01"))
ORACLES = Path(__file__).resolve().parent / "fixtures" / "paper_oracles"
TABLES = ("customer", "documents", "events", "nation", "orders", "part",
          "region")


def q_t1_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """T1 _prune_top_k shape: top-5 orders by price per priority class,
    deterministic tie-break (reference: convolution_module.py:207-229)."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


def q_p6_crawl_filter_backfill(spark: SparkSession, sf: str) -> DataFrame:
    """P6+T4 crawl filter + rank backfill (reference: async_crawl.py:392-436)
    over a crawl table derived deterministically from ``documents``."""
    d = load_table(spark, sf, "documents")
    crawl = d.select(
        F.col("source").alias("topic"),
        F.concat(F.lit("https://example.com/"), F.col("doc_id").cast("string")).alias("url"),
        F.col("text").alias("txt"),
        (F.col("doc_id") * 37 % 101).alias("similarity"),
    )
    out = crawl_ops.filter_papers(
        crawl, similarity_threshold=80, min_length=200, max_length=1500, top_n=5
    )
    return out.select("topic", "url", "similarity")


def q_p13_extract_answer(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    reply = F.concat(
        F.lit("Preamble text. Answer: "),
        F.substring("text", 1, 40),
        F.lit(" Confidence Score: 5"),
    )
    return d.select("doc_id", X.extract_answer(reply).alias("answer"))


def q_p1_filter_informative(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    reply = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [no information]"))
    ).otherwise(F.col("text"))
    return (
        d.withColumn("reply", reply)
        .filter(X.keep_informative(F.col("reply")))
        .select("doc_id")
    )


def q_p3_strip_citations(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    paper = F.concat(
        F.substring("text", 1, 120),
        F.lit(" see [ref_a, ref_b] for detail.\n# References\n[ref_a] Paper A\n[ref_b] Paper B\n"),
    )
    return d.select("doc_id", X.strip_citations(paper).alias("cleaned"))


def _corpus_with_mutants(spark: SparkSession, sf: str) -> DataFrame:
    """documents ∪ near-duplicate mutants (first word replaced) — gives the
    near-dup operators known positives with exactly checkable pairs."""
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    mutants = d.select(
        # offset must clear the id space at every generated scale factor
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.expr("concat('zzz ', substring(text, instr(text, ' ') + 1))").alias("text"),
    )
    return d.unionByName(mutants)


def q_minhash_lsh_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup pairs on the portable integer family
    (dedup.py "int60"): one md5 per word (60-bit slice mod 2^45), shingle
    hashes by polynomial fold, 8 affine permutations mod 2^31-1, integer
    band keys, and the exact hashed-set Jaccard verify.  The DuckDB oracle
    replays the identical integer recurrence."""
    from llmxmapreduce_spark.operators import dedup

    corpus = _corpus_with_mutants(spark, sf)
    return dedup.minhash_dedup_pairs(
        corpus, n=3, num_hashes=8, bands=4, threshold=0.5, family="int60"
    )


def q_simhash16(spark: SparkSession, sf: str) -> DataFrame:
    from llmxmapreduce_spark.operators import dedup

    return dedup.simhash16(load_table(spark, sf, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard verifier (dedup.word_shingles + jaccard_verify)
    on planted original/mutant pairs: mutant = text + doc_id%5+1 novel
    suffix tokens, so the jaccard value varies with document length and
    mutation size."""
    from llmxmapreduce_spark.operators import dedup

    d = load_table(spark, sf, "documents")
    suffix = F.concat_ws(
        " ",
        *[F.when(F.col("doc_id") % 5 >= i, F.lit(f"zznovel{i}")) for i in range(5)],
    )
    originals = d.select("doc_id", "text")
    mutants = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), suffix).alias("text"),
    )
    shingle_df = originals.unionByName(mutants).select(
        "doc_id", dedup.word_shingles(F.col("text"), 3).alias("shingles"))
    pairs = d.select(F.col("doc_id").alias("id_a"),
                     (F.col("doc_id") + 1000000).alias("id_b"))
    out = dedup.jaccard_verify(pairs, shingle_df, threshold=0.0)
    return out.select(
        "id_a", "jaccard",
        (F.col("jaccard") >= 0.8).alias("is_neardup"),
    )


def q_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components (operators/components.py — alternating
    large-star/small-star, the canonicalization engine under every
    near-dup dedup in the repo) on a planted chain graph with a CLOSED
    FORM: edges (v, v+1) for every doc_id with v % 5 != 4, so
    components are exactly the 5-blocks [5k, 5k+4] clipped to the
    present id range — label(v) = max(5·(v div 5), min_doc_id).  The
    Spark side runs the real iterative machinery to its fixpoint; the
    oracle evaluates the closed form over the same node set (edge
    endpoints, including the one phantom node past max doc_id when its
    block continues).  Integer-only surface, linear rows."""
    from llmxmapreduce_spark.operators import components

    d = load_table(spark, sf, "documents").select("doc_id")
    edges = (d.filter(F.col("doc_id") % 5 != 4)
             .select(F.col("doc_id").alias("id_a"),
                     (F.col("doc_id") + 1).alias("id_b")))
    return components.connected_components(edges).orderBy("id")


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    from llmxmapreduce_spark.operators import text_stats

    d = load_table(spark, sf, "documents")
    out = text_stats.quality_features(d)
    return out.select(
        "doc_id",
        text_stats.lang_id(F.col("text")).alias("lang_guess"),
        "n_tokens", "mean_word_len", "punct_ratio", "stopword_ratio",
        "quality_score",
    )


def q_doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """The md5 fingerprint, which DuckDB can reproduce (the xxhash64
    default is covered in tests/test_misc_ops.py)."""
    from llmxmapreduce_spark.operators import text_stats

    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        text_stats.fingerprint(F.col("text"), algo="md5").alias("fingerprint"))


def _outline_markdown(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic outline markdown per region: sections = its nations."""
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    piece = F.concat(
        F.lit("## "), F.col("n_name"),
        F.lit("\nDigest Construction: \nfocus on "), F.col("n_name"),
        F.lit("\nDigest Analysis: \nanalysis of "), F.col("n_name"),
    )
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .withColumn("__p", F.struct(F.col("n_name").alias("k"), piece.alias("v")))
        .groupBy("r_name")
        .agg(
            F.concat(
                F.lit("# Survey of "), F.col("r_name"), F.lit("\n"),
                F.concat_ws("\n", F.transform(F.array_sort(F.collect_list("__p")),
                                              lambda s: s["v"])),
            ).alias("markdown")
        )
        .select(F.col("r_name").alias("survey_id"),
                F.concat(F.lit("Survey of "), F.col("r_name")).alias("title"),
                "markdown")
    )


def q_skeleton_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """parse ∘ serialize identity on canonical outlines (skeleton.py:75-169)."""
    from llmxmapreduce_spark.operators import skeleton

    md = _outline_markdown(spark, sf)
    nodes = skeleton.parse_outlines(md)
    return skeleton.serialize_outlines(nodes, construction=True, analysis=True)


def q_skeleton_nodes(spark: SparkSession, sf: str) -> DataFrame:
    """Exploded skeleton_nodes contract: preorder pos, index path, depth."""
    from llmxmapreduce_spark.operators import skeleton

    nodes = skeleton.parse_outlines(_outline_markdown(spark, sf))
    return nodes.select(
        "survey_id", "pos", F.col("node_path").cast("array<int>").alias("node_path"),
        "depth", "title", "construction", "analysis",
    ).withColumn("node_path", F.concat_ws(".", F.col("node_path")))


def q_j1_alignment(spark: SparkSession, sf: str) -> DataFrame:
    """J1 digest↔outline correspondence with planted title mismatches."""
    from llmxmapreduce_spark.operators import skeleton

    nodes = skeleton.parse_outlines(_outline_markdown(spark, sf))
    n = load_table(spark, sf, "nation")
    mutated = (
        nodes.join(n.select(F.col("n_name").alias("title"), "n_nationkey"),
                   "title", "left")
        .withColumn(
            "title",
            F.when((F.col("n_nationkey") % 5 == 0) & F.col("n_nationkey").isNotNull(),
                   F.concat(F.col("title"), F.lit(" MUT"))).otherwise(F.col("title")),
        )
        .drop("n_nationkey")
        .withColumn("digest_id", F.lit("d1"))
    )
    _, mismatched = skeleton.align_digest_nodes(nodes, mutated)
    return mismatched


def q_a3_digest_merge(spark: SparkSession, sf: str) -> DataFrame:
    from llmxmapreduce_spark.operators import digest_ops

    c = load_table(spark, sf, "customer")
    dig = (
        c.groupBy(
            F.col("c_mktsegment").alias("survey_id"),
            (F.col("c_custkey") % 4).alias("digest_id"),
            (F.col("c_nationkey") % 3).cast("int").alias("pos"),
        )
        .agg(F.min("c_name").alias("description"))
        .withColumn("bibkeys", F.array(F.concat(F.lit("bib"),
                                                F.col("digest_id").cast("string"))))
    )
    out = digest_ops.merge_digest_descriptions(dig)
    return out.select(
        "survey_id", "pos", "description",
        F.concat_ws(",", F.col("all_bibkeys")).alias("bibkeys"),
    )


def q_p12_citation_renumber(spark: SparkSession, sf: str) -> DataFrame:
    from llmxmapreduce_spark.operators import citations

    c = load_table(spark, sf, "customer").filter("c_custkey <= 40")
    w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
    papers = c.select(
        F.col("c_mktsegment").alias("survey_id"),
        (F.row_number().over(w) - 1).alias("paper_pos"),
        F.concat(F.lit("ck_"), F.col("c_custkey").cast("string")).alias("bibkey"),
        F.col("c_name").alias("title"),
        F.lit(None).cast("string").alias("url"),
    )
    sections = papers.filter("paper_pos < 3").select(
        "survey_id", F.col("paper_pos").alias("pos"),
        F.concat(F.lit("Section cites ["), F.col("bibkey"),
                 F.lit("] and [ck_nonexistent_xq].")).alias("content"),
    )
    out = citations.renumber_citations(sections, papers)
    return out.select("survey_id", "pos", "content",
                      F.concat_ws(",", "cited_bibkeys").alias("cited"))


def q_a9_claim_metrics(spark: SparkSession, sf: str) -> DataFrame:
    from llmxmapreduce_spark.operators import eval_ops

    o = load_table(spark, sf, "orders")
    claims = o.select(
        F.col("o_orderpriority").alias("survey_id"),
        F.col("o_orderkey"),
        F.array_distinct(
            F.array((F.col("o_custkey") % 10 + 1).cast("int"),
                    (F.col("o_custkey") % 7 + 1).cast("int"))
        ).alias("cited_indices"),
        F.lit(10).alias("total_papers"),
    ).withColumn(
        "nli_verdict",
        F.transform(F.col("cited_indices"),
                    lambda r: ((F.col("o_orderkey") + r) % 3) > 0),
    )
    return eval_ops.claim_metrics(claims)


def q_c6_hash_batches(spark: SparkSession, sf: str) -> DataFrame:
    from llmxmapreduce_spark.operators import grouping

    p = load_table(spark, sf, "part")
    out = grouping.hash_shuffled_batches(p, "p_partkey", batch_size=7, seed=42)
    return out.select("p_partkey", "group_id")


def q_t2_best_of(spark: SparkSession, sf: str) -> DataFrame:
    from llmxmapreduce_spark.operators import topk

    ev = load_table(spark, sf, "events")
    return topk.best_of(ev, ["event_type"], "value", "event_id").select(
        "event_type", "event_id", "value"
    )


def q_j2_digest_members(spark: SparkSession, sf: str) -> DataFrame:
    """J2 bibkey→digest bridge table (multi_key_dict.py:4-62 as rows)."""
    from llmxmapreduce_spark.functions import text as TX

    c = load_table(spark, sf, "customer")
    bridge = c.select(
        F.col("c_mktsegment").alias("survey_id"),
        (F.col("c_custkey") % 4).alias("digest_id"),
        TX.normalize_bibkey(F.col("c_name")).alias("bibkey"),
    ).distinct()
    w = Window.partitionBy("survey_id", "digest_id")
    return bridge.withColumn("n_members", F.count(F.lit(1)).over(w))


def q_p11_str2list(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    s = F.concat(F.lit("['"), F.col("p_name"), F.lit("', \"second item\", third]"))
    return p.select(
        "p_partkey", F.concat_ws("|", X.str2list(s)).alias("items"),
        X.list2str(X.str2list(s)).alias("canonical"),
    )


def q_j5_figure_anchor(spark: SparkSession, sf: str) -> DataFrame:
    """J5 figure→section anchor insertion (figure_module.py:27-48)."""
    from llmxmapreduce_spark.operators import figures as FG

    d = load_table(spark, sf, "documents").filter("n_chars >= 70")
    sections = d.select(
        F.concat(F.lit("s"), (F.col("doc_id") % 3).cast("string")).alias("survey_id"),
        F.col("doc_id").alias("pos"),
        F.concat(F.lit("Topic "), F.col("doc_id").cast("string")).alias("title"),
        F.substring("text", 1, 200).alias("content"),
    )
    figs = d.select(
        F.concat(F.lit("s"), (F.col("doc_id") % 3).cast("string")).alias("survey_id"),
        F.concat(F.lit("Topic "), F.col("doc_id").cast("string")).alias("section_title"),
        F.substring("text", 50, 20).alias("pos_sentence"),
        F.concat(F.lit("Fig "), F.col("doc_id").cast("string")).alias("fig_title"),
        F.lit("mermaid").alias("img_type"),
        F.lit("graph TD;\nA-->B").alias("code"),
    )
    out = FG.anchor_figures(sections, figs)
    return out.select("survey_id", "pos", "content")


def q_claim_extraction(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic claim extraction (judge.py:122-135 citation_pattern)
    over synthetic survey bodies."""
    from llmxmapreduce_spark.pipelines.eval_suite import extract_claims

    d = load_table(spark, sf, "documents")
    content = F.concat(
        F.lit("## Sec\nFirst claim about "), F.substring("text", 1, 40),
        F.lit(" [1]. Filler sentence without citation. Second point "),
        F.substring("text", 41, 30), F.lit(" [1, 2].\n## References\n[1] X\n[2] Y\n"),
    )
    surveys = d.select(F.col("doc_id").cast("string").alias("survey_id"),
                       content.alias("content_md"))
    out = extract_claims(surveys)
    return out.select(
        "survey_id", "claim_pos", "claim",
        F.concat_ws(",", F.transform(F.col("cited_indices"),
                                     lambda x: x.cast("string"))).alias("cited"),
    )


def q_qa_f1_score(spark: SparkSession, sf: str) -> DataFrame:
    """V1 eval scorer: normalized token multiset F1 (compute_scores.py:52-101)."""
    from llmxmapreduce_spark.operators import eval_ops

    d = load_table(spark, sf, "documents").select(
        "doc_id",
        F.substring("text", 1, 120).alias("prediction"),
        F.substring("text", 61, 120).alias("ground_truth"),
    )
    return eval_ops.qa_f1(d).select("doc_id", "f1")


def q_v1_scorers(spark: SparkSession, sf: str) -> DataFrame:
    """InfiniteBench column scorers, reference-faithful
    (compute_scores.py:139-182, 230-258): whole digit-run membership
    (passkey/number_string), whole-word membership after separator strip
    (kv_retrieval), last-word-as-int (code_run), first-number equality
    (math_find, int + float label branches), uppercase containment
    (longdialogue).  Fixtures plant both hits and the adversarial
    substring-but-not-token cases (gt '0123' inside token '00123' must be 0).
    """
    from llmxmapreduce_spark.operators import eval_ops

    d = load_table(spark, sf, "documents")
    key = F.lpad((F.col("doc_id") * 7919 % 99991).cast("string"), 5, "0")
    digit_label = F.when(F.col("doc_id") % 2 == 0, key) \
        .otherwise(F.substring(key, 2, 4))          # substring of the run → 0
    digit_pred = F.concat(F.lit("key SK-"), key, F.lit(" end"))
    word = F.concat(F.lit("w"), key)
    kv_pred = F.concat(F.lit('The value is "'), word, F.lit('".'))
    kv_label = F.when(F.col("doc_id") % 3 == 0, word) \
        .otherwise(F.substring(word, 1, 4))         # prefix substring → 0
    run_n = (F.col("doc_id") % 1000).cast("string")
    run_pred = F.concat(F.lit("The result is: "), run_n, F.lit("."))
    run_label = F.when(F.col("doc_id") % 2 == 0, run_n) \
        .otherwise((F.col("doc_id") % 1000 + 1).cast("string"))
    mf_first = (F.col("doc_id") % 50).cast("string")
    mf_pred = F.concat(F.lit("About "), mf_first, F.lit(" items and later 999"))
    mf_label = (
        F.when(F.col("doc_id") % 3 == 0, mf_first)            # first number → 1
        .when(F.col("doc_id") % 3 == 1, F.lit("999"))         # later number → 0
        .otherwise(F.concat(mf_first, F.lit(".0")))           # float label → 1
    )
    dia_pred = F.lit("He SAID YES clearly.")
    dia_label = F.when(F.col("doc_id") % 2 == 0, F.lit("said yes")) \
        .otherwise(F.lit("nope"))
    return d.select(
        "doc_id",
        eval_ops.digit_token_score(digit_pred, digit_label).alias("digit_score"),
        eval_ops.retrieval_word_score(kv_pred, kv_label).alias("kv_score"),
        eval_ops.code_run_score(run_pred, run_label).alias("code_run_score"),
        eval_ops.math_find_score(mf_pred, mf_label).alias("math_find_score"),
        eval_ops.longdialogue_score(dia_pred, F.array(dia_label)).alias("dialogue_score"),
    )


def q_v1_option_scorers(spark: SparkSession, sf: str) -> DataFrame:
    """The prefix-fallback option scorers (compute_scores.py:185-227
    code_debug, :261-310 longbook_choice, :331-355 math_calc) over a planted
    truth-table fixture; the oracle holds the hand-derived expected scores
    per variant."""
    from llmxmapreduce_spark.operators import eval_ops

    d = load_table(spark, sf, "documents")
    v = F.col("doc_id") % 5
    debug_pred = (
        F.when(v == 0, F.lit("Deep dive.\nThe answer is: B indeed"))
        .when(v == 1, F.lit("Answer: C\nlater the option D"))
        .when(v == 2, F.lit("my_function fixes it"))
        .when(v == 3, F.lit("The answer is B. See Chapter X"))
        .otherwise(F.lit("nothing useful"))
    )
    c = F.col("doc_id") % 4
    choice_pred = (
        F.when(c == 0, F.lit("A. Because of the twist"))
        .when(c == 1, F.lit("The best option is B"))
        .when(c == 2, F.lit("answer is C"))
        .otherwise(F.lit("no clue here"))
    )
    choice_labels = F.when(c == 2, F.array(F.lit("C"), F.lit("C) theme"))) \
        .otherwise(F.array(F.lit("A"), F.lit("A) plot")))
    k = F.col("doc_id") % 5
    calc_pred = (
        F.when(k == 0, F.lit("starts wrong: 9 9 9 9"))
        .when(k == 1, F.lit("1 then 99 nope"))
        .when(k == 2, F.lit("1 2 break 77"))
        .when(k == 3, F.lit("1,2,3 then 0"))
        .otherwise(F.lit("1 2 3 4 all right"))
    )
    calc_labels = F.array(*[F.lit(i).cast("long") for i in (1, 2, 3, 4)])
    return d.select(
        "doc_id",
        eval_ops.code_debug_score(debug_pred, F.lit("B"),
                                  F.lit("my_function")).alias("debug_score"),
        eval_ops.longbook_choice_score(choice_pred, choice_labels).alias("choice_score"),
        eval_ops.math_calc_score(calc_pred, calc_labels).alias("calc_score"),
    )


def q_rouge_lsum(spark: SparkSession, sf: str) -> DataFrame:
    """ROUGE-Lsum (rouge.py port of rouge_score summary-level LCS) on a
    planted fixture with a closed-form score: the label is 3 token-disjoint
    newline sentences (4 tokens each), the prediction keeps k = doc_id%4 of
    them plus (3-k) disjoint noise sentences (1 token each), so
    hits = 4k, P = 4k/(3k+3), R = 4k/12, F1 closed-form in the oracle."""
    from llmxmapreduce_spark.operators.rouge import rouge_lsum

    d = load_table(spark, sf, "documents")
    did = F.col("doc_id").cast("string")

    def sent(i: int):
        return F.concat(F.lit(f"alpha{i} beta{i} gamma{i} d"), did, F.lit(f"x{i}"))

    def noise(i: int):
        return F.concat(F.lit(f"noise{i}z"), did)

    label = F.concat_ws("\n", sent(0), sent(1), sent(2))
    k = F.col("doc_id") % 4
    pred = (
        F.when(k == 0, F.concat_ws("\n", noise(0), noise(1), noise(2)))
        .when(k == 1, F.concat_ws("\n", sent(0), noise(1), noise(2)))
        .when(k == 2, F.concat_ws("\n", sent(0), sent(1), noise(2)))
        .otherwise(F.concat_ws("\n", sent(0), sent(1), sent(2)))
    )
    return d.select("doc_id", rouge_lsum(pred, label).alias("rouge_lsum"))


# The frozen rows of the two V2 survey cases depend on these input texts:
# a different testdata build fails on the cause, not on a value mismatch.
GOLDEN_DOC_FP = {
    "v2_survey_pipeline": ("doc_id < 8", "8d96794ca4851b688f60b4dd7ca8b355"),
    "v2_block_cycle": ("doc_id < 6", "4bc6728b641cd4177a2834a0d6d1913b"),
}


def text_fingerprint(d: DataFrame) -> str:
    """md5 of the documents' texts joined in doc_id order."""
    # sort_array over (doc_id, text) structs is order-stable regardless of
    # partitioning, unlike collect_list after orderBy.
    return (d.agg(F.md5(F.concat_ws("|", F.transform(
        F.sort_array(F.collect_list(F.struct("doc_id", "text"))),
        lambda s: s["text"]))).alias("fp"))
        .collect()[0]["fp"])


def _check_golden_input(d, name: str) -> None:
    pred, frozen = GOLDEN_DOC_FP[name]
    fp = text_fingerprint(d.filter(pred))
    assert fp == frozen, (
        f"{name}: input texts changed (fingerprint {fp}, rows frozen from "
        f"{frozen}); re-freeze fixtures/paper_oracles/{name}.sql")


def doc_surveys(d: DataFrame, n_surveys: int) -> DataFrame:
    """SURVEYS_INPUT rows from documents: paper ``doc_id`` goes to survey
    ``doc_id % n_surveys``."""
    papers = d.select(
        F.concat(F.lit("survey"),
                 (F.col("doc_id") % n_surveys).cast("string")).alias("survey_id"),
        F.struct(
            F.concat(F.lit("paper_"), F.col("doc_id").cast("string")).alias("bibkey"),
            F.concat(F.lit("Paper "), F.col("doc_id").cast("string")).alias("title"),
            F.substring("text", 1, 200).alias("abstract"),
            F.col("text").alias("txt"),
            F.concat(F.lit("https://example.org/"), F.col("doc_id").cast("string")).alias("url"),
            F.lit(None).cast("long").alias("txt_token"),
        ).alias("p"),
    )
    return papers.groupBy("survey_id").agg(
        F.concat(F.lit("Survey of "), F.col("survey_id")).alias("title"),
        F.array_sort(F.collect_list("p")).alias("papers"),
    )


def q_v2_survey_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Full V2 survey pipeline (group→outline→digest→convolve→refine→decode)
    with the deterministic survey mock over documents-derived papers.
    Iterative LLM dataflow — non-SQL-expressible — but the mock is
    prompt-hash deterministic, so the scalar projection is checked against
    frozen rows.
    """
    from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
    from llmxmapreduce_spark.pipelines import v2_survey as v2

    d = load_table(spark, sf, "documents").filter("doc_id < 8")
    _check_golden_input(d, "v2_survey_pipeline")
    surveys = doc_surveys(d, 2)
    # block_count=1 = the shipped script's setting (pipeline_start.sh:13):
    # digests are regenerated against the refined outline before decode.
    cfg = v2.V2Config(conv_layers=1, receptive_field=2, result_num=2,
                      top_k=2, refine_rounds=1, best_of=1, polish=False,
                      block_count=1)
    out = v2.run_v2_survey(surveys, MockSurveyClient, cfg)
    return out.select(
        "survey_id", "n_sections", "n_papers", "cite_ratio",
        F.length("content_md").alias("content_len"),
        "block_cycle_count",
    )


def q_v2_decode_tail(spark: SparkSession, sf: str) -> DataFrame:
    """The V2 decode pipeline's deterministic suffix (v2_survey.decode_tail:
    P12 renumber → A7 cite_ratio → references block → markdown assembly,
    decode_pipeline.py:115-156) over a fixed section/paper transcript —
    hash-checked, unlike the LLM-prefixed full pipeline."""
    from llmxmapreduce_spark.pipelines.v2_survey import decode_tail

    c = load_table(spark, sf, "customer").filter("c_custkey <= 40")
    w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
    papers = c.select(
        F.col("c_mktsegment").alias("survey_id"),
        (F.row_number().over(w) - 1).alias("paper_pos"),
        F.concat(F.lit("ck_"), F.col("c_custkey").cast("string")).alias("bibkey"),
        F.col("c_name").alias("title"),
        F.concat(F.lit("u_"), F.col("c_custkey").cast("string")).alias("url"),
    )
    first_key = papers.filter("paper_pos = 0").select(
        "survey_id", F.col("bibkey").alias("root_key"))
    done = (
        papers.filter("paper_pos < 4").join(first_key, "survey_id")
        .select(
            "survey_id",
            F.col("paper_pos").alias("pos"),
            F.when(F.col("paper_pos") == 0, 0).otherwise(1).alias("depth"),
            F.concat(F.lit("Sec "), F.col("paper_pos").cast("string")).alias("title"),
            F.when(
                F.col("paper_pos") == 0,
                F.concat(F.lit("Overview cites ["), F.col("bibkey"), F.lit("].")),
            ).otherwise(
                F.concat(F.lit("Body ["), F.col("bibkey"), F.lit("] then ["),
                         F.col("root_key"), F.lit("] and [zz_missing]."))
            ).alias("content"),
        )
    )
    out = decode_tail(done, papers)
    return out.select("survey_id", "content_md", "n_sections",
                      "cite_ratio", "n_papers", "ref_str")


def q_v2_block_cycle(spark: SparkSession, sf: str) -> DataFrame:
    """Block cycle under *structural* refinement (hidden_pipeline.py:73-85):
    the RestructuringSurveyClient's [MODIFY] inserts a new top-level section,
    shifting every preorder position; digests are regenerated against the
    refined outline, so the new section both exists in the decoded survey AND
    carries digest-derived prose with citations.  Iterative LLM dataflow,
    but deterministic under the restructuring mock, so it is checked against
    frozen rows.
    """
    from llmxmapreduce_spark.llm.survey_mock import RestructuringSurveyClient
    from llmxmapreduce_spark.pipelines import v2_survey as v2

    d = load_table(spark, sf, "documents").filter("doc_id < 6")
    _check_golden_input(d, "v2_block_cycle")
    surveys = doc_surveys(d, 2)
    cfg = v2.V2Config(conv_layers=1, receptive_field=2, result_num=2,
                      top_k=2, refine_rounds=1, best_of=1, polish=False,
                      block_count=1)
    out = v2.run_v2_survey(surveys, RestructuringSurveyClient, cfg)
    sec = RestructuringSurveyClient.SECTION
    return out.select(
        "survey_id", "block_cycle_count", "n_sections",
        F.col("outline_md").contains(sec).alias("refined_outline_has_section"),
        F.col("content_md").rlike(
            rf"# {sec}\nGenerated prose for {sec}\. \[").alias("section_rediggested"),
        F.size("block_avg_score").alias("n_block_cycles_scored"),
    )


def q_v1_qa_secret_key(spark: SparkSession, sf: str) -> DataFrame:
    from llmxmapreduce_spark.llm.client import MockQAClient
    from llmxmapreduce_spark.pipelines.v1_qa import run_v1_qa

    d = load_table(spark, sf, "documents")
    secret = F.concat(
        F.lit("The secret key for document "), F.col("doc_id").cast("string"),
        F.lit(" is SK-"), (F.col("doc_id") * 7919 % 99991).cast("string"), F.lit("."),
    )
    docs = d.select(
        "doc_id",
        F.concat_ws(
            "\n", F.col("text"), secret, F.col("text"), secret,
            F.col("text"), secret, F.col("text"), secret,
        ).alias("context"),
        F.concat(
            F.lit("What is the secret key for document "),
            F.col("doc_id").cast("string"), F.lit("?"),
        ).alias("question"),
    )
    out = run_v1_qa(docs, chunk_size=600, client_factory=MockQAClient)
    return out.select("doc_id", "answer")


def q_url_filters(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalize/dedup and domain blocklist (operators/url_filter.py):
    URLs derived from doc_id via a portable md5 host pick, with a %300
    path collision so canonical-URL dedup elects winners at sf0.01; then
    subdomain blocklist filtering (suffix-exploded equi-join)."""
    from llmxmapreduce_spark.operators import url_filter as uf

    d = load_table(spark, sf, "documents").select("doc_id")
    hosts = F.array(*[F.lit(h) for h in (
        "alpha.example.com", "cdn.beta.org", "blocked.net",
        "gamma.site.io", "ads.spam.org")])
    pick = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
               16, 10).cast("decimal(38,0)"), F.lit(5)).cast("int")
    url = F.concat(
        F.lit("https://"), F.element_at(hosts, pick + 1),
        F.lit("/doc/"), (F.col("doc_id") % 300).cast("string"),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("/?utm_source=feed")).otherwise(F.lit("")),
    )
    urls = d.withColumn("url", url)
    blocked = spark.createDataFrame([("spam.org",), ("blocked.net",)],
                                    "domain string")
    return uf.filter_blocked_domains(uf.dedup_urls(urls), blocked)


def q_decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination, two-stage: a distributed Bloom build over
    the benchmark grams, a vectorized packed-bits probe as the pre-filter
    (no false negatives), then the exact gram join confirms only the
    surviving candidates, so the output equals the exact path's.  A
    13-word snippet of benchmark doc 0 is planted into every doc_id%25==0
    corpus doc so the result is non-empty."""
    from llmxmapreduce_spark.operators.decontamination import (
        build_gram_bloom, contamination_flags, contamination_flags_bloom)

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    snip = bench.filter(F.col("doc_id") == 0).select(
        F.concat_ws(" ", F.slice(F.split(F.trim(F.col("text")), r"\s+"),
                                 1, 13)).alias("__snip"))
    corpus = (
        d.filter(F.col("doc_id") % 97 != 0)
        .crossJoin(F.broadcast(snip))
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 25 == 0,
                   F.concat_ws(" ", F.col("text"), F.col("__snip")))
            .otherwise(F.col("text")).alias("text"))
    )
    bloom = build_gram_bloom(bench, n=13, bits_per_key=24)
    cand_ids = contamination_flags_bloom(corpus, bloom, n=13) \
        .select("doc_id")
    cand = corpus.join(cand_ids, "doc_id", "left_semi")
    return contamination_flags(cand, bench, n=13) \
        .select("doc_id", "n_matched_grams", "n_bench_examples")


def q_v3_host_transcript(spark: SparkSession, sf: str) -> DataFrame:
    """V3 MCP-host planner loop (pipelines/v3_host.py — parity with
    reference host.py:31-120 decision loop + llm_search_mcp_server.py
    file handoff): the deterministic MockPlanner drives the full
    topic→survey tool sequence (search→group→skeleton→digest→refine→
    writing) over this repo's distributed stages with the survey mock.
    The planner and mock make the (step, round, action, tool) transcript
    exactly reproducible, so its oracle is frozen rows; the content path
    is checked in tests/test_v3_host.py."""
    import hashlib
    import tempfile

    from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
    from llmxmapreduce_spark.pipelines import v3_host as vh

    def fake_search(query):
        h = int(hashlib.md5(query.encode()).hexdigest()[:6], 16) % 100
        return [{"url": f"https://x.test/{h}/{i}", "title": f"t{i}",
                 "snippet": f"snippet {i} about {query}"}
                for i in range(4)]

    def fake_fetch(url):
        n = int(url.rsplit("/", 1)[-1])
        body = " ".join(f"word{i} the of and in" for i in range(40 + 10 * n))
        return f"# Page {n}\n{body}"

    topic = "graph analytics at scale"
    # control-plane sizing: every stage here moves a handful of KB, so
    # shuffles are sized to the work
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    host = None
    try:
        host = vh.make_spark_host(
            spark, tempfile.mkdtemp(prefix="v3host_"), vh.MockPlanner(topic),
            MockSurveyClient, lambda: fake_search, lambda: fake_fetch,
            top_n=6, snippet_threshold=0, similarity_threshold=0,
            min_length=50, max_length=100000)
        out = host.process_task(f"Write a survey about {topic}")
    finally:
        # release the run's checkpoints (the transcript rows below are
        # plain python; nothing returned reads host.state), also when
        # process_task fails
        if host is not None:
            host.close()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rows = [(i, op["round"], op["action"], op.get("tool_name", ""))
            for i, op in enumerate(out["operation_history"])]
    rows.append((len(rows), out["rounds_used"], "status", out["status"]))
    return spark.createDataFrame(
        rows, "step int, round int, action string, tool_name string")


def q_p15_p16_text_counts(spark: SparkSession, sf: str) -> DataFrame:
    """P15 sentence split + P16 token counting (reference:
    LLMxMapReduce_V2 utils sentence/token helpers)."""
    d = load_table(spark, sf, "documents")
    s = F.concat(
        F.substring("text", 1, 80), F.lit(". "),
        F.substring("text", 81, 80), F.lit("! "),
        F.substring("text", 161, 80), F.lit("? tail"),
    )
    return d.select(
        "doc_id",
        F.size(X.sentence_split(s)).cast("long").alias("n_sentences"),
        X.token_count_ws(F.col("text")).alias("n_ws"),
        X.token_count_estimate(F.col("text")).alias("n_est"),
        X.token_count_bpe_ish(F.col("text")).alias("n_bpe"),
    )


def q_p7_p14_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """P7 bibkey normalization + P14 answer normalization."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        X.normalize_bibkey(F.substring("text", 1, 50)).alias("bibkey"),
        X.normalize_answer(F.substring("text", 1, 100)).alias("norm"),
    )


def q_p1_p3_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """P1 informative filter + P3 citation stripping, as a discriminator
    union (different row sets: P1 filters, P3 projects)."""
    a = q_p1_filter_informative(spark, sf).select(
        F.lit("p1").alias("op"), "doc_id",
        F.lit(None).cast("string").alias("cleaned"))
    b = q_p3_strip_citations(spark, sf).select(
        F.lit("p3").alias("op"), "doc_id", "cleaned")
    return a.unionByName(b)


def q_p11_p13_strlist(spark: SparkSession, sf: str) -> DataFrame:
    """P11 str2list/list2str + P13 answer extraction."""
    a = q_p11_str2list(spark, sf).select(
        F.lit("p11").alias("op"), F.col("p_partkey").alias("k"),
        F.col("items").alias("s1"), F.col("canonical").alias("s2"))
    b = q_p13_extract_answer(spark, sf).select(
        F.lit("p13").alias("op"), F.col("doc_id").alias("k"),
        F.col("answer").alias("s1"), F.lit(None).cast("string").alias("s2"))
    return a.unionByName(b)


def q_t1_t2_topk_best(spark: SparkSession, sf: str) -> DataFrame:
    """T1 _prune_top_k (top-5 per group, deterministic tie-break) + T2
    best-of (argmax per group), unioned under a discriminator."""
    a = q_t1_topk_per_group(spark, sf).select(
        F.lit("t1").alias("op"), F.col("o_orderpriority").alias("grp"),
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("val"),
        F.col("rn"))
    b = q_t2_best_of(spark, sf).select(
        F.lit("t2").alias("op"), F.col("event_type").alias("grp"),
        F.col("event_id").alias("k"), F.col("value").alias("val"),
        F.lit(None).cast("int").alias("rn"))
    return a.unionByName(b)


CASES = {
    "a3_digest_merge": q_a3_digest_merge,
    "a9_claim_metrics": q_a9_claim_metrics,
    "c6_hash_batches": q_c6_hash_batches,
    "connected_components": q_connected_components,
    "decontaminate_bloom": q_decontaminate_bloom,
    "doc_fingerprint": q_doc_fingerprint,
    "j1_alignment_mismatches": q_j1_alignment,
    "j2_digest_members": q_j2_digest_members,
    "j5_figure_anchor": q_j5_figure_anchor,
    "l27_claim_extraction": q_claim_extraction,
    "minhash_lsh_neardup": q_minhash_lsh_neardup,
    "ngram_jaccard": q_ngram_jaccard,
    "p11_p13_strlist": q_p11_p13_strlist,
    "p12_citation_renumber": q_p12_citation_renumber,
    "p15_p16_text_counts": q_p15_p16_text_counts,
    "p1_p3_scrub": q_p1_p3_scrub,
    "p6_crawl_filter_backfill": q_p6_crawl_filter_backfill,
    "p7_p14_normalize": q_p7_p14_normalize,
    "qa_f1_score": q_qa_f1_score,
    "rouge_lsum": q_rouge_lsum,
    "simhash16": q_simhash16,
    "skeleton_nodes": q_skeleton_nodes,
    "skeleton_roundtrip": q_skeleton_roundtrip,
    "t1_t2_topk_best": q_t1_t2_topk_best,
    "text_quality": q_text_quality,
    "url_filters": q_url_filters,
    "v1_option_scorers": q_v1_option_scorers,
    "v1_qa_secret_key": q_v1_qa_secret_key,
    "v1_scorers": q_v1_scorers,
    "v2_block_cycle": q_v2_block_cycle,
    "v2_decode_tail": q_v2_decode_tail,
    "v2_survey_pipeline": q_v2_survey_pipeline,
    "v3_host_transcript": q_v3_host_transcript,
}


def _cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _rows(cols, rows) -> list[tuple]:
    """Rows with columns in name order, cells stringified, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in idx) for r in rows)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(CASES))
def test_matches_duckdb_oracle(spark, duck, name):
    sc = spark.sparkContext
    before = pinned_ids(sc)
    try:
        sdf = CASES[name](spark, SF)
        scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    finally:
        release(sc, pinned_ids(sc) - before)
    res = duck.execute((ORACLES / f"{name}.sql").read_text())
    ocols, orows = [d[0] for d in res.description], res.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert _rows(scols, srows) == _rows(ocols, orows)
