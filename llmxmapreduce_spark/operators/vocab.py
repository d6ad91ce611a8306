"""Vocabulary build + token-id encoding (scale extension).

The last step of a training-data pipeline turns packed text into the
integer token ids the trainer actually consumes.  Real deployments use
a fixed BPE vocabulary (plug one in through
``packing.resolve_token_counter``'s ``tiktoken:``/``hf:`` specs); this
module provides the self-contained word-level equivalent so the whole
text → ids → shards path exists and is values-gated end-to-end:

- :func:`build_vocab` — top-``vocab_size`` tokens by corpus frequency
  (two aggregates; deterministic ties by (count desc, token asc) so the
  id assignment is reproducible); id 0 is reserved for OOV/<unk>.
- :func:`encode_ids` — posexplode words → broadcast-join the vocab →
  per-doc ordered id array.  The shuffle carries (doc, pos, id) integer
  triples, never text; the vocab table broadcasts (a 65k-row vocab is
  ~2 MB).
- :func:`decode_ids` — the inverse (id join + re-join words), used by
  the roundtrip gate.

100 TB framing: the vocab build is a word groupBy (Zipf-bounded
distinct) with a driver-side top-V cut via ``TakeOrdered`` — no global
sort; encoding is one projected scan + broadcast join + one doc-keyed
aggregation, the decontaminate plan shape.  The ordered-array rebuild
aggregates ``sort_array(collect_list(struct(pos, id)))`` — positions
are ints, so the per-doc state is 8 bytes/token.

Values gate: exact DuckDB twin + OOV/roundtrip/determinism fixtures in
tests/test_vocab.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from llmxmapreduce_spark.operators.text_stats import lower_ws_tokens

OOV_ID = 0


def _words(text_col: str):
    return lower_ws_tokens(F.col(text_col))


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 65_536,
    min_count: int = 1,
) -> DataFrame:
    """→ (token, token_id, count) for the top-``vocab_size`` tokens;
    ids are 1..V dense in (count desc, token asc) order — id 0 is the
    implicit OOV.  Deterministic for fixed data (ties broken by token
    text, not partition order)."""
    counts = (
        df.select(F.explode(_words(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token").agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    top = counts.orderBy(F.col("count").desc(), F.col("token").asc()) \
        .limit(vocab_size)
    w = Window.orderBy(F.col("count").desc(), F.col("token").asc())
    # the window runs on the ≤vocab_size-row top table only — a single
    # in-memory partition of the already-cut result, not a global sort
    # of the corpus vocabulary
    return top.withColumn("token_id", F.row_number().over(w)) \
        .select("token", "token_id", "count") \
        .localCheckpoint(eager=True)


def encode_ids(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (id_col, token_ids array<int>, n_tokens, n_oov) per document,
    order-preserving; unknown words map to ``OOV_ID``.  Null/empty text
    yields an empty array (0 tokens)."""
    # posexplode (not _outer): null/empty texts emit no token rows and
    # are restored as empty arrays by the final left join — an outer
    # explode would thread a struct-of-nulls through collect_list
    pos = df.select(
        F.col(id_col),
        F.posexplode(_words(text_col)).alias("pos", "token"),
    ).filter(F.col("token") != "")
    joined = pos.join(
        F.broadcast(vocab.select("token", "token_id")), "token", "left"
    ).select(
        id_col, "pos",
        F.coalesce("token_id", F.lit(OOV_ID)).alias("tid"),
    )
    agg = joined.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda s: s["tid"],
        ).alias("token_ids"),
    )
    return (
        df.select(id_col).join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("token_ids", F.array().cast("array<int>"))
            .alias("token_ids"),
            F.size(F.coalesce("token_ids", F.array().cast("array<int>")))
            .cast("long").alias("n_tokens"),
            F.size(F.filter(
                F.coalesce("token_ids", F.array().cast("array<int>")),
                lambda t: t == OOV_ID)).cast("long").alias("n_oov"),
        )
    )


def decode_ids(
    encoded: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
) -> DataFrame:
    """Inverse of :func:`encode_ids` → (id_col, text); OOV ids render as
    ``<unk>``.  Lossy exactly where encoding was (case folding,
    whitespace normalization, OOV) — the roundtrip gate encodes a
    known-vocab corpus where it must be exact."""
    pos = encoded.select(
        F.col(id_col),
        F.posexplode(F.col(ids_col)).alias("pos", "tid"))
    joined = pos.join(
        F.broadcast(vocab.select(F.col("token_id").alias("tid"), "token")),
        "tid", "left"
    ).select(
        id_col, "pos",
        F.coalesce("token", F.lit("<unk>")).alias("w"),
    )
    agg = joined.groupBy(id_col).agg(
        F.concat_ws(" ", F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "w"))),
            lambda s: s["w"])).alias("text"))
    return encoded.select(id_col).join(agg, id_col, "left") \
        .select(id_col, F.coalesce("text", F.lit("")).alias("text"))


def train_bpe(
    df: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    max_words: int = 50_000,
    min_count: int = 2,
) -> list:
    """Distributed BPE tokenizer training (Sennrich arXiv:1508.07909):
    ONE corpus-wide pass — the word-count aggregation (the build_vocab
    plan shape: explode → partial-agg groupBy on word) — then the greedy
    merge loop runs driver-side on the top-``max_words`` ``(word,
    count)`` table via :func:`functions.minibpe.learn_merges`.  This is
    the SentencePiece/subword-nmt practice: BPE trains on the word
    INVENTORY (Zipf-bounded, cut deterministically by (count desc, word
    asc) TakeOrdered), never the raw corpus, so the driver-side state is
    ``max_words`` rows regardless of corpus size.

    Returns the merges list — feed it to ``minibpe.MiniBPE`` directly
    or ``minibpe.save_merges`` + the ``"minibpe:<path>"`` tokenizer
    spec, closing the train → encode → pack loop in-container
    (tests/test_minibpe.py).  Tokenization is CASE-SENSITIVE whitespace
    words to match ``MiniBPE.encode``; the count pass splits on Java
    ``\\s`` (ASCII) while the encoder's ``str.split()`` is Unicode —
    an NBSP-joined pair weights counts as one word but encodes as two,
    a count-weight wobble only, never a correctness issue."""
    from llmxmapreduce_spark.functions.minibpe import learn_merges

    counts = (
        df.select(F.explode(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))),
                    r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(max_words)
    )
    rows = counts.collect()
    return learn_merges([(r["w"], r["c"]) for r in rows], n_merges)
