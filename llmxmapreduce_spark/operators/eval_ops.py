"""Evaluation operators: A8 averaging, A9 claim metrics, V1 scorers
(SURVEY.md §2.5, §5).

Reference: judge.py:329-341 (nonzero averaging), judge.py:360-433 (claim /
citation / reference precision, coverage, density),
compute_scores.py:52-101 (normalized token-F1), judge.py:400-404
(sentence counting).

All metrics are plain aggregations over an exploded (claim × citation)
verdict table — no Python in the hot path; the scorer UDF is the only
pandas boundary (multiset F1 needs a Counter).
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.functions.text import normalize_answer_py


def avg_nonzero(col: Column) -> Column:
    """A8 (judge.py:329-341): mean with zeros dropped, exact via decimal."""
    nz = col != 0
    return (
        F.sum(F.when(nz, col.cast("decimal(20,6)"))).cast("double")
        / F.count(F.when(nz, F.lit(1)))
    )


def claim_metrics(
    claims: DataFrame,
    id_col: str = "survey_id",
    cited_col: str = "cited_indices",
    verdict_col: str = "nli_verdict",
    total_papers_col: str = "total_papers",
) -> DataFrame:
    """A9 (judge.py:360-433) per survey over claim rows (survey_id,
    cited_indices, nli_verdict, total_papers):

    - claim_precision     — claims with ≥1 supported citation / claims
    - citation_precision  — supported citations / all citations
    - reference_precision — distinct supported refs / total papers
    - reference_coverage  — distinct cited refs / total papers
    - avg_citation_per_claim
    """
    e = claims.select(
        id_col, F.col(total_papers_col),
        F.monotonically_increasing_id().alias("__claim"),
        F.arrays_zip(F.col(cited_col).alias("ref"),
                     F.col(verdict_col).alias("ok")).alias("z"),
    ).select(id_col, total_papers_col, "__claim", F.explode_outer("z").alias("p")) \
     .select(id_col, total_papers_col, "__claim",
             F.col("p.ref").alias("ref"), F.col("p.ok").alias("ok"))

    per_claim = e.groupBy(id_col, total_papers_col, "__claim").agg(
        F.max(F.when(F.col("ok"), 1).otherwise(0)).alias("any_ok"),
        F.count(F.col("ref")).alias("n_cit"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
    )
    supported_refs = (
        e.filter(F.col("ok")).select(id_col, "ref").distinct()
        .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_supported_refs"))
    )
    cited_refs = (
        e.filter(F.col("ref").isNotNull()).select(id_col, "ref").distinct()
        .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_cited_refs"))
    )
    agg = per_claim.groupBy(id_col, total_papers_col).agg(
        F.count(F.lit(1)).alias("n_claims"),
        F.sum("any_ok").alias("n_supported_claims"),
        F.sum("n_cit").alias("n_citations"),
        F.sum("n_ok").alias("n_supported_citations"),
    )
    return (
        agg.join(supported_refs, id_col, "left").join(cited_refs, id_col, "left")
        .select(
            id_col,
            (F.col("n_supported_claims") / F.col("n_claims")).alias("claim_precision"),
            (F.col("n_supported_citations") / F.col("n_citations")).alias("citation_precision"),
            (F.coalesce("n_supported_refs", F.lit(0)) / F.col(total_papers_col)).alias("reference_precision"),
            (F.coalesce("n_cited_refs", F.lit(0)) / F.col(total_papers_col)).alias("reference_coverage"),
            (F.col("n_citations") / F.col("n_claims")).alias("avg_citation_per_claim"),
            F.col("n_claims"),
        )
    )


def dedup_claims(claims: DataFrame, claim_col: str = "claim",
                 id_col: str = "claim_id", near_threshold: float = 0.7,
                 ) -> DataFrame:
    """A10 fact dedup, deterministic replacement for the reference's LLM
    dedup (atomic_facts.py:36-144): exact dedup on the normalized claim,
    then MinHash-LSH near-dup removal (greedy: within each detected pair the
    higher id drops — linear, no clustering pass).

    The reference's group-pairwise LLM comparison is O(n²) LLM calls; this
    is one hash shuffle + a bucketed join, the 100 TB-viable contract.
    """
    from llmxmapreduce_spark.operators import dedup as D

    t = F.col(claim_col)
    exact = D.exact_dedup(claims, text_col=claim_col, id_col=id_col)
    pairs = D.minhash_dedup_pairs(
        exact.select(F.col(id_col).alias("doc_id"), t.alias("text")),
        threshold=near_threshold,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return exact.join(losers, id_col, "left_anti")


def _parse_remove_indices(output: str) -> set[int]:
    """atomic_facts.py:44-49: comma-separated 1-based indices to drop."""
    return {
        int(idx.strip()) - 1
        for idx in (output or "").split(",")
        if idx.strip().isdigit()
    }


def _dedup_prompt(facts: list[str]) -> str:
    lines = "\n".join(f"{i + 1}. {f}" for i, f in enumerate(facts))
    return (
        "[DEDUP] Identify duplicate facts in this numbered list.\n"
        f"{lines}\n"
        "Reply with the comma-separated numbers of the facts to REMOVE "
        "(keep the first occurrence), or 'none'."
    )


def llm_dedup_claims(
    claims: DataFrame,
    client_factory,
    group_size: int = 300,
    retry=None,
    survey_col: str = "survey_id",
    id_col: str = "claim_id",
    claim_col: str = "claim",
) -> DataFrame:
    """A10 LLM-mode fact dedup, the reference's semantics
    (atomic_facts.py:36-144): facts split into ``group_size`` batches, an
    in-group LLM dedup per batch, then pairwise cross-group merge rounds
    until one group remains.  One ``applyInPandas`` per survey — the fact
    list per survey is bounded (the reference holds it in memory too), and
    surveys are the horizontal-scale axis.  Deterministic divergence from
    the reference: groups merge in (batch, id) order instead of
    ``random.shuffle`` (documented; the reference's shuffle makes its output
    run-dependent).

    Caveat inherited from the reference: merged groups GROW past
    ``group_size`` (``get_merged_group`` concatenates two whole groups, so
    the final merge prompt enumerates every surviving fact) — a survey whose
    facts exceed the model's context makes the merge call fail, and that
    round's cross-group duplicates survive (the group is kept whole, the
    dead-letter contract).  For corpus-scale claim tables use the
    deterministic :func:`dedup_claims` (MinHash) path — that is the 100 TB
    contract; this mode exists for reference parity of SurveyEval's
    Claim-Num metric."""
    from llmxmapreduce_spark.operators.llm_op import _call_and_parse, _resolve_retry

    retry = _resolve_retry(client_factory, retry)
    out_schema = T.StructType([
        claims.schema[survey_col],
        claims.schema[id_col],
        claims.schema[claim_col],
    ])

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        client = client_factory()
        rows = pdf.sort_values(id_col).to_dict("records")
        facts = [(r[id_col], r[claim_col]) for r in rows]
        groups = [facts[i:i + group_size]
                  for i in range(0, len(facts), group_size)]

        def dedup_group(group):
            if not group:
                return group
            payload, ok, _err, _n = _call_and_parse(
                client, _dedup_prompt([f for _, f in group]),
                lambda reply: {"drop": _parse_remove_indices(reply)},
                ["drop"], retry, None)
            if not ok:
                return group        # dead-letter semantics: keep the group
            return [f for i, f in enumerate(group) if i not in payload["drop"]]

        groups = [dedup_group(g) for g in groups]
        # pairwise cross-group merge until a single group remains
        # (atomic_facts.py:66-83 get_merged_group, deterministic order)
        while len(groups) > 1:
            nxt = []
            for i in range(0, len(groups) - 1, 2):
                nxt.append(dedup_group(groups[i] + groups[i + 1]))
            if len(groups) % 2 == 1:
                nxt.append(groups[-1])
            groups = nxt
        kept = {cid for cid, _ in (groups[0] if groups else [])}
        keep_rows = [
            {survey_col: r[survey_col], id_col: r[id_col],
             claim_col: r[claim_col]}
            for r in rows if r[id_col] in kept
        ]
        return pd.DataFrame(keep_rows,
                            columns=[f.name for f in out_schema.fields])

    return claims.groupBy(survey_col).applyInPandas(run, out_schema)


def count_sentences(text: Column) -> Column:
    """judge.py:400-404: split on ``[.!?\\n]+(\\s|\\n|$)``, count non-empty."""
    return F.size(F.filter(
        F.split(F.trim(text), r"[.!?\n]+(\s|\n|$)"),
        lambda x: x != F.lit(""),
    )).cast("long")


def qa_f1_py(prediction: str, ground_truth: str) -> float:
    """compute_scores.py:52-101: normalized token multiset F1."""
    pred = normalize_answer_py(prediction).split()
    gt = normalize_answer_py(ground_truth).split()
    common = Counter(pred) & Counter(gt)
    num_same = sum(common.values())
    if num_same == 0:
        return 0.0
    precision = num_same / len(pred)
    recall = num_same / len(gt)
    return 2 * precision * recall / (precision + recall)


def qa_f1(df: DataFrame, pred_col: str = "prediction",
          gt_col: str = "ground_truth", out_col: str = "f1") -> DataFrame:
    """Token F1; when ``gt_col`` is ``array<string>`` the score is the MAX
    over all ground-truth labels (compute_scores.py:66-101 iterates the
    label list and keeps the best F1)."""
    if dict(df.dtypes).get(gt_col, "string").startswith("array"):
        @F.pandas_udf(T.DoubleType())
        def f1_max_udf(pred: pd.Series, gts: pd.Series) -> pd.Series:
            return pd.Series([
                max((qa_f1_py(p or "", g or "")
                     for g in (gt if gt is not None else [])), default=0.0)
                for p, gt in zip(pred, gts)])

        return df.withColumn(out_col, f1_max_udf(F.col(pred_col), F.col(gt_col)))

    @F.pandas_udf(T.DoubleType())
    def f1_udf(pred: pd.Series, gt: pd.Series) -> pd.Series:
        return pd.Series([qa_f1_py(p or "", g or "") for p, g in zip(pred, gt)])

    return df.withColumn(out_col, f1_udf(F.col(pred_col), F.col(gt_col)))


def qa_f1_zh_py(prediction: str, ground_truth: str) -> float:
    """compute_scores.py:82-101: Chinese char-level multiset F1 (one
    character = one token after zh normalization)."""
    from llmxmapreduce_spark.functions.text import normalize_answer_zh_py

    pred = list(normalize_answer_zh_py(prediction))
    gt = list(normalize_answer_zh_py(ground_truth))
    common = Counter(pred) & Counter(gt)
    num_same = sum(common.values())
    if num_same == 0:
        return 0.0
    precision = num_same / len(pred)
    recall = num_same / len(gt)
    return 2 * precision * recall / (precision + recall)


def qa_f1_zh(df: DataFrame, pred_col: str = "prediction",
             gt_col: str = "ground_truth", out_col: str = "f1") -> DataFrame:
    """zh char F1; array ``gt_col`` maxes over labels like :func:`qa_f1`."""
    if dict(df.dtypes).get(gt_col, "string").startswith("array"):
        @F.pandas_udf(T.DoubleType())
        def f1_zh_max_udf(pred: pd.Series, gts: pd.Series) -> pd.Series:
            return pd.Series([
                max((qa_f1_zh_py(p or "", g or "")
                     for g in (gt if gt is not None else [])), default=0.0)
                for p, gt in zip(pred, gts)])

        return df.withColumn(out_col,
                             f1_zh_max_udf(F.col(pred_col), F.col(gt_col)))

    @F.pandas_udf(T.DoubleType())
    def f1_zh_udf(pred: pd.Series, gt: pd.Series) -> pd.Series:
        return pd.Series([qa_f1_zh_py(p or "", g or "") for p, g in zip(pred, gt)])

    return df.withColumn(out_col, f1_zh_udf(F.col(pred_col), F.col(gt_col)))


# ---------------------------------------------------------------------------
# InfiniteBench per-task scorers — faithful ports of compute_scores.py.
# The simple ones are pure column expressions (whole-stage codegen); the
# two option-letter scorers with prefix-fallback chains are tiny pandas UDFs
# porting the reference's control flow verbatim.
# ---------------------------------------------------------------------------

# get_score_one_kv_retrieval (compute_scores.py:143-149): separators → space
_KV_SEPS = "\n:\"'.,?!{}"


def retrieval_word_score(pred: Column, label: Column) -> Column:
    """kv_retrieval: the label must appear as a WHOLE token after separator
    stripping — substring hits like label '123' inside 'SK-91234' score 0."""
    words = F.split(F.translate(pred, _KV_SEPS, " " * len(_KV_SEPS)), r"\s+")
    return F.when(F.array_contains(words, label), 1.0).otherwise(0.0)


def digit_token_score(pred: Column, label: Column) -> Column:
    """passkey / number_string via ``my_find_key`` (compute_scores.py:139-142):
    the label must equal a maximal digit run — '1234' does NOT match inside
    '91234'."""
    return F.when(F.array_contains(F.split(pred, r"[^0-9]"), label), 1.0) \
        .otherwise(0.0)


# get_score_one_code_run separators (compute_scores.py:173)
_CODE_RUN_SEPS = "\n.`'\":"


def code_run_score(pred: Column, label: Column) -> Column:
    """code_run (compute_scores.py:166-182): the LAST word, parsed as an
    integer, must equal the label (cast returns null on non-ints, scoring 0
    where the reference's ``int()`` raises/except-falses)."""
    cleaned = F.translate(F.trim(pred), _CODE_RUN_SEPS, " " * len(_CODE_RUN_SEPS))
    words = F.filter(F.split(cleaned, r"\s+"), lambda w: w != F.lit(""))
    last = F.element_at(words, -1)
    return F.when(last.cast("long") == label.cast("long"), 1.0).otherwise(0.0)


def math_find_score(pred: Column, label: Column) -> Column:
    """math_find (compute_scores.py:230-249): FIRST number in the prediction
    compared numerically.  Integer labels require an integer first-match
    (the reference's ``int()`` would reject '5.5'); float labels compare as
    doubles."""
    first = F.regexp_extract(pred, r"\d+\.\d+|\d+", 0)
    label_is_float = label.contains(".")
    int_ok = (first != "") & (~first.contains(".")) \
        & (first.cast("long") == label.cast("long"))
    float_ok = (first != "") & (first.cast("double") == label.cast("double"))
    return (
        F.when(label_is_float, F.when(float_ok, 1.0).otherwise(0.0))
        .otherwise(F.when(int_ok, 1.0).otherwise(0.0))
    )


def longdialogue_score(pred: Column, labels: Column) -> Column:
    """longdialogue_qa_eng (compute_scores.py:252-258): case-insensitive
    containment of ANY label (0/1, not token F1)."""
    up = F.upper(F.trim(pred))
    hit = F.exists(labels, lambda lab: up.contains(F.upper(lab)))
    return F.when(hit, 1.0).otherwise(0.0)


def code_debug_score_py(pred: str, label_c: str, fn_name: str | None) -> float:
    """get_score_one_code_debug (compute_scores.py:185-227), ported verbatim:
    last standalone [A-J], then separator cleanup + startswith fallbacks,
    then the FIRST present answer prefix decides."""
    pred = (pred or "").strip()
    m = re.search(r"\b[A-J]\b(?!.*\b[A-J]\b)", pred)
    if m and m.group(0) == label_c:
        return 1.0
    for c in ["\n", "`", "'", '"', "-", "*", "Option", "option"]:
        pred = pred.replace(c, " ")
    while "  " in pred:
        pred = pred.replace("  ", " ")
    if pred.startswith(label_c) or (fn_name and pred.startswith(fn_name)):
        return 1.0
    for prefix in ["answer is:", "Answer:", "is:", "answer:"]:
        idx = pred.find(prefix)
        if idx == -1:
            continue
        if len(pred) < idx + len(prefix) + 1:
            return 0.0
        tail = pred[idx + len(prefix) + 1:]
        for s in (label_c, fn_name):
            if s and tail.startswith(s):
                return 1.0
        return 0.0
    return 0.0


def longbook_choice_score_py(pred: str, labels: list[str]) -> float:
    """get_score_one_longbook_choice_eng (compute_scores.py:261-310), ported
    verbatim including the ``word in "ABCD"`` substring quirk."""
    pred = (pred or "").strip()
    labels = [lab for lab in (labels or []) if lab is not None]
    m = re.search(r"\b[A-D]\b(?!.*\b[A-D]\b)", pred)
    if m and m.group(0) in labels:
        return 1.0
    if pred == "":
        return 0.0
    if pred[0] in "ABCD":
        return 1.0 if pred[0] in labels else 0.0
    if pred in labels:
        return 1.0
    for c in ["\n", '"', "'", ".", ",", "?", "!", "{", "}"]:
        pred = pred.replace(c, " ")
    while "  " in pred:
        pred = pred.replace("  ", " ")
    for prefix in ["Answer:", "answer is:", "answer:", "answer is", "option is"]:
        idx = pred.find(prefix)
        if idx == -1:
            continue
        if len(pred) < idx + len(prefix) + 1:
            return 0.0
        after = pred[idx + len(prefix) + 1:]
        for s in labels:
            if after.startswith(s):
                return 1.0
        return 0.0
    for word in pred.split():
        if word in "ABCD":
            return 1.0 if word in labels else 0.0
    return 0.0


def math_calc_score_py(pred: str, label_nums: list[int]) -> float:
    """get_score_one_math_calc (compute_scores.py:331-355): longest matching
    number prefix / label length (the gpt4 first-number skip is a
    model-specific quirk, not ported)."""
    if not label_nums:
        return 0.0
    pred_nums = [int(x) for x in re.split("[^0-9]", pred or "") if x != ""]
    cnt = 0
    for i, lab in enumerate(label_nums):
        if i >= len(pred_nums):
            break
        if pred_nums[i] == lab:
            cnt += 1
        else:
            break
    return cnt / len(label_nums)


def code_debug_score(pred: Column, label_c: Column,
                     fn_name: Column | None = None) -> Column:
    @F.pandas_udf(T.DoubleType())
    def udf(p: pd.Series, lc: pd.Series, fn: pd.Series) -> pd.Series:
        return pd.Series([
            code_debug_score_py(a, b, c) for a, b, c in zip(p, lc, fn)
        ])

    return udf(pred, label_c, fn_name if fn_name is not None
               else F.lit(None).cast("string"))


def longbook_choice_score(pred: Column, labels: Column) -> Column:
    @F.pandas_udf(T.DoubleType())
    def udf(p: pd.Series, labs: pd.Series) -> pd.Series:
        return pd.Series([
            longbook_choice_score_py(a, list(b) if b is not None else [])
            for a, b in zip(p, labs)
        ])

    return udf(pred, labels)


def math_calc_score(pred: Column, label_nums: Column) -> Column:
    @F.pandas_udf(T.DoubleType())
    def udf(p: pd.Series, labs: pd.Series) -> pd.Series:
        return pd.Series([
            math_calc_score_py(a, [int(x) for x in b] if b is not None else [])
            for a, b in zip(p, labs)
        ])

    return udf(pred, label_nums)
