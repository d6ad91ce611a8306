"""C1-C3 chunking / bin-packing operators (SURVEY.md §2.4).

Faithful ports of the reference's packing logic — it's subtle (tail
rebalancing via a two-pointer pass) and correctness-bearing for the V1
pipeline's token budgets:

- ``split_sentences``     — LLMxMapReduce_V1/Generator.py:134-148
- ``split_into_chunks``   — Generator.py:150-232 (incl. the two-pointer
  rebalance of the last two chunks at :182-231)
- ``chunk_docs``          — Generator.py:234-299 (separator packing with
  oversize re-split)
- ``split_list_of_docs``  — LLMxMapReduce_V1/utils.py:61-90 (greedy
  cumulative bin-packing)

Chunking is inherently sequential *within* one document; parallelism is
across documents, so the Spark wrapper is a pandas UDF producing
``array<string>`` + ``posexplode`` — each of millions of docs chunks
independently on its executor, no shuffle beyond the explode.

The tokenizer is pluggable (the reference uses tiktoken/HF, absent here);
the default is the deterministic BPE-ish regex count from functions/text.py.
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.functions.text import BPE_ISH_PATTERN

_BPE_RE = re.compile(BPE_ISH_PATTERN)

LengthFn = Callable[[str], int]


def bpe_ish_len(text: str) -> int:
    """Default deterministic token counter (stand-in for tiktoken)."""
    return len(_BPE_RE.findall(text))


def ws_len(text: str) -> int:
    return len(text.split())


def split_sentences(text: str, spliter: str = r"([。！？；.?!;])") -> list[str]:
    """Generator.py:134-148 verbatim: split keeping punctuation."""
    text = text.strip()
    sentence_list = re.split(spliter, text)
    if spliter != " ":
        sentences = ["".join(i) for i in zip(sentence_list[0::2], sentence_list[1::2])]
        if len(sentence_list) % 2 != 0 and sentence_list[-1] != "":
            sentences.append(sentence_list[-1])
    else:
        sentences = [i + " " for i in sentence_list if i != ""]
        sentences[-1] = sentences[-1].strip()
    return sentences


def split_into_chunks(text: str, chunk_size: int, length_fn: LengthFn = bpe_ish_len,
                      spliter: str = r"([。！？；.?!;])") -> list[str]:
    """Generator.py:150-232: sentence packing, recursive space fallback,
    then two-pointer rebalancing of the last two chunks so the tail isn't
    tiny (:182-231)."""
    sentences = split_sentences(text, spliter)

    chunks: list[str] = []
    current_chunk = ""
    for sentence in sentences:
        sentence_length = length_fn(sentence)
        if length_fn(current_chunk) + sentence_length <= chunk_size:
            current_chunk += sentence
        else:
            if current_chunk:
                if length_fn(current_chunk) <= chunk_size:
                    chunks.append(current_chunk)
                elif spliter != " ":  # avoid infinite loops
                    chunks.extend(split_into_chunks(current_chunk, chunk_size,
                                                    length_fn, " "))
            current_chunk = sentence
    if current_chunk != "":
        if length_fn(current_chunk) <= chunk_size:
            chunks.append(current_chunk)
        elif spliter != " ":
            chunks.extend(split_into_chunks(current_chunk, chunk_size, length_fn, " "))

    # Re-segment the last two blocks (Generator.py:182-231).
    if len(chunks) > 1 and length_fn(chunks[-1]) < chunk_size // 2:
        last_chunk = chunks.pop()
        penultimate_chunk = chunks.pop()
        combined_text = penultimate_chunk + last_chunk
        new_sentences = split_sentences(combined_text, spliter)

        new_penultimate_chunk = ""
        new_last_chunk = ""
        i, j = 0, len(new_sentences) - 1
        while i <= j and len(new_sentences) != 1:
            flag = False
            if length_fn(new_penultimate_chunk + new_sentences[i]) <= chunk_size:
                flag = True
                new_penultimate_chunk += new_sentences[i]
                if i == j:
                    break
                i += 1
            if length_fn(new_last_chunk + new_sentences[j]) <= chunk_size:
                new_last_chunk = new_sentences[j] + new_last_chunk
                j -= 1
                flag = True
            if flag is False:
                break
        if i < j:
            remaining_sentences = new_sentences[i:j + 1]
            if remaining_sentences:
                remaining_text = "".join(remaining_sentences)
                words = remaining_text.split(" ")
                end_index = len(words) - 1
                for index, w in enumerate(words):
                    if length_fn(" ".join([new_penultimate_chunk, w])) <= chunk_size:
                        new_penultimate_chunk = " ".join([new_penultimate_chunk, w])
                    else:
                        end_index = index
                        break
                if end_index != len(words) - 1:
                    new_last_chunk = " ".join(words[end_index:]) + " " + new_last_chunk
        if len(new_sentences) == 1:
            chunks.append(penultimate_chunk)
            chunks.append(last_chunk)
        else:
            chunks.append(new_penultimate_chunk)
            chunks.append(new_last_chunk)

    return chunks


def chunk_docs(doc: str, budget: int, length_fn: LengthFn = bpe_ish_len,
               separator: str = "\n", chunk_overlap: int = 0) -> list[str]:
    """Generator.py:234-299 with the prompt/question/max_tokens subtraction
    hoisted to the caller (``budget`` = chunk_size − prompt − question −
    max_new_tokens, see pipelines/v1_qa.py)."""
    splits = [s for s in doc.split(separator) if s != ""]
    separator_len = length_fn(separator)

    docs: list[str] = []
    current_doc: list[str] = []
    total = 0
    for d in splits:
        _len = length_fn(d)
        if total + _len + (separator_len if len(current_doc) > 0 else 0) > budget:
            if total > budget:
                if len(current_doc) == 1:  # one split alone is too long
                    docs.extend(split_into_chunks(current_doc[0], budget, length_fn))
                    current_doc = []
                    total = 0
            if len(current_doc) > 0:
                joined = separator.join(current_doc)
                if joined is not None:
                    docs.append(joined)
                while total > chunk_overlap or (
                    total + _len + (separator_len if len(current_doc) > 0 else 0)
                    > budget
                    and total > 0
                ):
                    total -= length_fn(current_doc[0]) + (
                        separator_len if len(current_doc) > 1 else 0
                    )
                    current_doc = current_doc[1:]
        current_doc.append(d)
        total += _len + (separator_len if len(current_doc) > 1 else 0)

    if current_doc and length_fn(current_doc[-1]) > budget and len(current_doc) == 1:
        docs.extend(split_into_chunks(current_doc[0], budget, length_fn))
    elif current_doc:
        docs.append(separator.join(current_doc))
    return [d for d in docs if d.strip() != ""]


def split_list_of_docs(docs: list[str], length_fn_list: Callable[[list[str]], int],
                       token_max: int) -> list[list[str]]:
    """utils.py:61-90 verbatim: greedy cumulative bin-packing; raises when a
    single doc alone exceeds the budget."""
    new_result_doc_list = []
    _sub_result_docs: list[str] = []
    for doc in docs:
        _sub_result_docs.append(doc)
        _num_tokens = length_fn_list(_sub_result_docs)
        if _num_tokens > token_max:
            if len(_sub_result_docs) == 1:
                raise ValueError(
                    "A single document was longer than the context length,"
                    " we cannot handle this."
                )
            new_result_doc_list.append(_sub_result_docs[:-1])
            _sub_result_docs = _sub_result_docs[-1:]
    new_result_doc_list.append(_sub_result_docs)
    return new_result_doc_list


# ---------------------------------------------------------------------------
# Spark wrapper: documents -> chunks (doc_id, chunk_id, text, token_len)
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "context",
    budget_col: str | Column = "budget",
    length_fn: LengthFn = bpe_ish_len,
    separator: str = "\n",
    reserve_col: str | None = None,
) -> DataFrame:
    """C1 as a distributed operator: per-row pandas UDF producing
    ``array<string>`` then ``posexplode_outer`` into one row per chunk (the
    input's other columns, ``chunk_id``, ``text``); a document with no
    chunk keeps one row with null ``chunk_id`` and ``text``.  Narrow
    transformation — no shuffle.

    ``reserve_col`` names a text column that shares every chunk's prompt
    (V1's question): its ``length_fn`` count comes off the row's budget,
    inside the same UDF, so the projection starts one Python worker."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def chunks_udf(text: pd.Series, budget: pd.Series,
                   reserve: pd.Series) -> pd.Series:
        return pd.Series(
            [chunk_docs(t, int(b) - (0 if r is None else length_fn(r)),
                        length_fn, separator)
             for t, b, r in zip(text, budget, reserve)]
        )

    budget = F.col(budget_col) if isinstance(budget_col, str) else budget_col
    reserve = F.col(reserve_col) if reserve_col else F.lit(None).cast("string")
    keep = [c for c in df.columns if c not in (text_col,)]
    return (
        df.select(*keep, F.posexplode_outer(
            chunks_udf(F.col(text_col), budget, reserve)).alias("chunk_id", "text"))
    )
