"""Seeded input generators.  The same seed gives the same inputs; the
pipelines receive only the DataFrames built from them.

Sizes are fixed and only the content varies with the seed, so the work
per item (chunks per document, calls per paper) barely moves between
seeds while the prompts, and so every cache key, do.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from pyspark.sql import types as T

DOCS_SCHEMA = "doc_id long, context string, question string"

PAPER = T.StructType([
    T.StructField("bibkey", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("abstract", T.StringType()),
    T.StructField("txt", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("txt_token", T.LongType()),
])
SURVEYS_SCHEMA = T.StructType([
    T.StructField("survey_id", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("papers", T.ArrayType(PAPER)),
])


def _vocab(rng: random.Random, n: int = 602) -> list[str]:
    """Random words whose lengths (3 to 9 letters, evenly) do not depend
    on the seed, so neither do token counts and chunks per document."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(3 + i % 7)) for i in range(n)]


def _sentence(rng: random.Random, vocab: list[str], words: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(words)).capitalize() + "."


@dataclass(frozen=True)
class QADoc:
    doc_id: int
    context: str
    question: str
    key: str          # the planted answer


def qa_docs(rng: random.Random, first_id: int, n_docs: int,
            sentences: int = 150, facts: int = 3) -> list[QADoc]:
    """Long documents with one planted secret key per document, stated in
    ``facts`` sentences spread over the document so several chunks carry
    it (the collapse loop then has more than one answer to merge)."""
    vocab = _vocab(rng)
    out = []
    for doc_id in range(first_id, first_id + n_docs):
        lines = [_sentence(rng, vocab, 12) for _ in range(sentences)]
        key = f"SK-{rng.randrange(100000):05d}"
        span = sentences // facts
        for k in range(facts):
            lines[k * span + rng.randrange(span)] = (
                f"The secret key for document {doc_id} is {key}.")
        out.append(QADoc(doc_id, "\n".join(lines),
                         f"What is the secret key for document {doc_id}?", key))
    return out


def docs_frame(spark, docs: list[QADoc]):
    return spark.createDataFrame(
        [(d.doc_id, d.context, d.question) for d in docs], DOCS_SCHEMA)


def surveys(rng: random.Random, n_surveys: int, n_papers: int,
            paper_words: int = 300) -> list[tuple]:
    """``n_surveys`` topics of ``n_papers`` papers each, as SURVEYS_INPUT
    rows ``(survey_id, title, papers)``; bibkeys are unique per survey."""
    vocab = _vocab(rng)
    rows = []
    for s in range(n_surveys):
        topic = " ".join(rng.choice(vocab) for _ in range(2))
        papers = []
        for p in range(n_papers):
            words = [rng.choice(vocab) for _ in range(paper_words)]
            txt = " ".join(words)
            papers.append((f"{words[0]}_{s}_{p}", " ".join(words[1:5]).title(),
                           txt[:200], txt, f"https://example.org/{s}/{p}", None))
        rows.append((f"survey{s}", f"Survey of {topic}", sorted(papers)))
    return rows


def surveys_frame(spark, rows: list[tuple]):
    return spark.createDataFrame(rows, SURVEYS_SCHEMA)
