"""Benchmark decontamination: flag training documents that overlap an
evaluation set (scale extension).

Standard practice since GPT-3 (Brown et al., arXiv:2005.14165, App. C;
same scheme in PaLM/Llama): a training document is CONTAMINATED if it
shares any n-gram (n≈13 words) with a benchmark example; contaminated
docs are dropped or the overlapping spans are masked before training.

Spark formulation:

- benchmark side: explode to n-gram **hashes** once — this side is small
  (eval sets are thousands of examples) and broadcast;
- corpus side: explode each document to its n-gram hashes (string-free
  multi-arg xxhash64 windows, ``_window_hash_array``) and
  **broadcast-semi-join** against the benchmark set — no shuffle of the
  corpus at all: the only wide op is the final per-doc aggregation of
  matched-gram counts, keyed by doc id;
- output keeps the EVIDENCE (n matched grams, example ids hit), so the
  drop-vs-mask decision is tunable without re-scanning.

100 TB framing: corpus text never shuffles (grams are hashed to 8 bytes
before any join; the semi-join is broadcast); benchmark n-gram sets of
even 10M grams are ~80 MB broadcast — within executor budgets, and the
docstring contract says to raise ``n`` or split the benchmark into
passes beyond that.

Values gate: exact DuckDB twin + planted-overlap fixtures in
tests/test_decontamination.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _lower_words(text: Column) -> Column:
    """The gram tokenizer (lowercase whitespace split, ngram_shingles
    contract).  Call sites MUST project this as its own column and pass
    the attribute into the window helpers below: the transform lambdas
    reference the words array once per try_element_at, and a captured
    expression TREE would re-run the split per reference (measured 7×
    blow-up), where a captured attribute is a row-field read."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def _window_hash_array(words: Column, n: int) -> Column:
    """xxhash64 per word n-gram window over a PRE-PROJECTED ``words``
    attribute (see :func:`_lower_words`), NO gram strings: window i
    hashes its n word COLUMNS via multi-argument xxhash64 (each word
    length-delimited by the hash, so equivalence classes equal gram-text
    equality; words contain no whitespace).  Shorter texts yield their
    single partial gram — tail positions are null via try_element_at and
    Spark's hash functions SKIP null arguments, so a k-word partial
    hashes exactly like a full k-arity window (probe-verified) — the
    property that keeps the short-benchmark ℓ-gram rule consistent
    across lengths.  Null text → null words → null (explode drops it),
    matching the former ngram_shingles edge contract.

    r13: this replaced xxhash64 over ngram_shingles' zip_with window-
    string chain — the per-gram string build was O(len·n²) bytes at
    n=13 and dominated the corpus scan; only gram EQUALITY ever reaches
    a consumer (counts, joins, positions), never gram text."""
    m = F.greatest(F.size(words) - (n - 1), F.lit(1))
    return F.when(
        words.isNotNull(),
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.xxhash64(
                *[F.try_element_at(words, i + F.lit(j)) for j in range(n)]),
        ),
    )


def _gram_hashes(words: Column, n: int) -> Column:
    """Distinct window hashes of word n-grams over a pre-projected words
    attribute; shorter texts yield their single partial gram (see
    :func:`_window_hash_array`)."""
    return F.array_distinct(_window_hash_array(words, n))


def _short_lengths(benchmark: DataFrame, n: int, text_col: str) -> list[int]:
    """Distinct word counts of benchmark examples SHORTER than ``n`` —
    GPT-3 App. C matches on min(13, example length) grams, so a 7-word
    eval answer must be matchable as a 7-gram inside a long training doc.
    The corpus side therefore also generates ℓ-grams for each such ℓ
    (a bounded set: at most n−1 extra lengths, usually zero or one).
    One tiny aggregate over the (small) benchmark side."""
    rows = (
        benchmark.select(
            F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("wc"))
        .filter((F.col("wc") > 0) & (F.col("wc") < n))
        .distinct().collect()
    )
    return sorted(r["wc"] for r in rows)


def _corpus_gram_hashes(words: Column, n: int,
                        short_lengths: list[int]) -> Column:
    """Corpus-side gram hash set: full n-grams plus ℓ-grams for each short
    benchmark length, so no benchmark example is unmatchable (the false-
    negative class a plain n-only gram set silently has).  ``words`` must
    be a pre-projected attribute (see :func:`_lower_words`)."""
    arrs = [_gram_hashes(words, n)]
    arrs += [_gram_hashes(words, l) for l in short_lengths]
    if len(arrs) == 1:
        return arrs[0]
    # concat, not array_union: cross-length duplicates are only the
    # degenerate partial-gram case and every consumer dedups (the agg
    # paths via countDistinct/collect_set) — union's sort-dedup would
    # cost more than the duplicates it removes
    return F.concat(*arrs)


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    broadcast_bench: bool = True,
) -> DataFrame:
    """→ (id_col, n_matched_grams, n_bench_examples, bench_ids) for every
    CONTAMINATED corpus document (clean docs are absent — join the result
    back or use :func:`decontaminate` for the filtered corpus).

    ``bench_ids`` holds up to 20 offending benchmark example ids — enough
    evidence to audit a hit without carrying unbounded arrays.

    ``broadcast_bench``: the default assumes an EVAL-SET-sized benchmark
    (the module-docstring broadcast contract).  Pass ``False`` when the
    reference side is itself corpus-scale — e.g. scrubbing the train
    split against a 1% held-out split of a 100 TB corpus, whose gram set
    is billions of keys — and the semi-join becomes a shuffle join on
    the 8-byte gram hashes (ints only on the wire; the corpus TEXT still
    never shuffles).  Matching semantics are identical.

    Benchmark examples shorter than ``n`` words match on their FULL text
    (GPT-3's min(n, example length) rule): the corpus side generates
    ℓ-grams for each distinct short example length, so short eval answers
    embedded in long documents are still caught."""
    bench = (
        benchmark.select(
            F.col(bench_id_col).alias("bench_id"),
            _lower_words(F.col(bench_text_col)).alias("__bw"))
        .select("bench_id",
                F.explode(_gram_hashes(F.col("__bw"), n)).alias("g"))
        .distinct()
    )
    shorts = _short_lengths(benchmark, n, bench_text_col)
    grams = corpus.select(
        F.col(id_col), _lower_words(F.col(text_col)).alias("__cw")
    ).select(
        F.col(id_col),
        F.explode(_corpus_gram_hashes(F.col("__cw"), n, shorts))
        .alias("g"))
    hits = grams.join(F.broadcast(bench) if broadcast_bench else bench, "g")
    return (
        hits.groupBy(id_col)
        .agg(
            F.countDistinct("g").alias("n_matched_grams"),
            F.countDistinct("bench_id").alias("n_bench_examples"),
            F.slice(F.array_sort(F.collect_set("bench_id")), 1, 20)
            .alias("bench_ids"),
        )
    )


def _poly_gram_hashes(word_hashes, length):
    """Vectorized polynomial gram hashes over a word-hash array: for each
    start i, H = Σ_j h[i+j]·B^(ℓ-1-j) in natural uint64 wraparound — ℓ
    fused numpy ops of O(words) instead of per-gram string building.
    Texts shorter than ``length`` yield their single partial gram (the
    same edge contract as ngram_shingles)."""
    import numpy as np

    B = np.uint64(0x100000001B3)           # FNV prime — odd, well-mixed
    h = word_hashes
    if len(h) < length:
        out = np.zeros(1, dtype=np.uint64)
        for j in range(len(h)):
            out = out * B + h[j:j + 1]
        return out
    m = len(h) - length + 1
    out = np.zeros(m, dtype=np.uint64)
    for j in range(length):
        out = out * B + h[j:j + m]
    return out


_JAVA_WS = None  # compiled lazily: Java/Catalyst \s+, ASCII-only


def _split_words(text: str) -> list[str]:
    """Tokenize EXACTLY like the Catalyst path's
    ``split(trim(lower(text)), '\\s+')``: Java ``\\s`` is ASCII-only
    ([ \\t\\n\\x0b\\f\\r]) and ``trim`` strips spaces only — Python's
    ``str.split()`` splits on Unicode whitespace (NBSP, thin space, …)
    and would make the fast twin disagree with the exact path on
    web-scraped text (found by review repro)."""
    import re

    global _JAVA_WS
    if _JAVA_WS is None:
        _JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
    return _JAVA_WS.split(text.lower().strip(" "))


def _word_hashes(text: str, cache: dict | None = None):
    """Per-word 64-bit hashes (blake2b-8) for the fast gram path — Python
    hash() is process-seeded and unusable; blake2b is stable.  ``cache``
    memoizes word → hash across documents: corpora are Zipf-distributed,
    so distinct words are ~1-2 orders of magnitude rarer than tokens and
    the digest cost drops accordingly."""
    import hashlib

    import numpy as np

    ws = _split_words(text)
    if not ws:
        ws = [""]
    if cache is None:
        cache = {}

    def h(w: str) -> int:
        v = cache.get(w)
        if v is None:
            v = int.from_bytes(
                hashlib.blake2b(w.encode(), digest_size=8).digest(), "big")
            cache[w] = v
        return v

    return np.array([h(w) for w in ws], dtype=np.uint64)


def contamination_flags_fast(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    min_parallelism: int | None = None,
) -> DataFrame:
    """Arrow/numpy production twin of :func:`contamination_flags` →
    (id_col, n_matched_grams).  Same matching semantics (n-grams +
    min(n, example length) short rule, null texts ignored); the gram
    hash is a vectorized polynomial over memoized per-word hashes
    instead of Catalyst's chained ``zip_with`` string concatenation —
    the concat is interpreted per element and its cost multiplies by the
    number of gram LENGTHS the short rule requires (6.7× at sf0.1 with
    two short lengths, test-pinned equivalent on planted corpora).

    The benchmark side is collected (the same small-side contract as the
    broadcast join) into one SORTED uint64 array — membership via
    ``np.searchsorted`` per document (O(|doc grams| log |bench|)); a
    10M-gram set is 80 MB in the closure, the same budget as the exact
    broadcast.

    ``min_parallelism``: Python scan throughput is bound by the INPUT
    partition count (mapInPandas gets no intra-partition parallelism) —
    a corpus read from few large files idles most cores.  Setting this
    repartitions up to the given width first, trading one text shuffle
    for full-width scanning (4.8× at sf5 locally); at real scale the
    file count already exceeds the cluster width and the default (no
    repartition) is right."""
    import numpy as np
    import pandas as pd

    brows = benchmark.select(bench_text_col).collect()
    shorts_set: set[int] = set()
    bench_lists = []
    for r in brows:
        if r[0] is None:        # exact path: explode(null grams) emits nothing
            continue
        wh = _word_hashes(r[0])
        if 0 < len(wh) < n:
            shorts_set.add(len(wh))
        bench_lists.append(_poly_gram_hashes(wh, n))
    bench_arr = np.unique(np.concatenate(bench_lists)) if bench_lists \
        else np.array([], dtype=np.uint64)
    lengths = [n] + sorted(shorts_set)

    id_t = dict(corpus.dtypes)[id_col]
    schema = f"{id_col} {id_t}, n_matched_grams bigint"

    def scan(batches):
        cache: dict = {}
        for pdf in batches:
            if len(cache) > 2_000_000:   # heavy distinct-token tail
                cache.clear()            # (typos/urls/ids): bound memory
            out_id, out_n = [], []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:   # exact path: null text has no grams
                    continue
                wh = _word_hashes(text, cache)
                gs = np.unique(np.concatenate(
                    [_poly_gram_hashes(wh, l) for l in lengths]))
                # searchsorted on the pre-sorted bench array: O(|gs| log
                # |bench|) per doc — np.isin would re-sort BOTH arrays
                # on every call
                if len(bench_arr):
                    idx = np.searchsorted(bench_arr, gs)
                    idx[idx == len(bench_arr)] = len(bench_arr) - 1
                    n_hit = int((bench_arr[idx] == gs).sum())
                else:
                    n_hit = 0
                if n_hit:
                    out_id.append(_id)
                    out_n.append(n_hit)
            yield pd.DataFrame({id_col: out_id, "n_matched_grams": out_n})

    src = corpus.select(id_col, text_col)
    if min_parallelism and src.rdd.getNumPartitions() < min_parallelism:
        src = src.repartition(min_parallelism)
    return src.mapInPandas(scan, schema)


def _gram_hash_rows(df: DataFrame, lengths: list[int], id_col: str,
                    text_col: str, out_id: str,
                    min_parallelism: int | None = None) -> DataFrame:
    """(id, text) → one (out_id, g) row per DISTINCT poly-hash gram of
    the document — the exploded form of the fast path's per-doc gram
    set, for joins where neither side fits a closure.  Null texts emit
    nothing (the exact path's explode-of-null contract)."""
    import numpy as np
    import pandas as pd

    id_t = dict(df.dtypes)[id_col]
    schema = f"{out_id} {id_t}, g bigint"

    def scan(batches):
        cache: dict = {}
        for pdf in batches:
            if len(cache) > 2_000_000:
                cache.clear()
            ids, gs = [], []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                wh = _word_hashes(text, cache)
                u = np.unique(np.concatenate(
                    [_poly_gram_hashes(wh, l) for l in lengths]))
                ids.append(np.full(len(u), _id))
                gs.append(u)
            if ids:
                yield pd.DataFrame({
                    out_id: np.concatenate(ids),
                    "g": np.concatenate(gs).view(np.int64)})

    src = df.select(id_col, text_col)
    if min_parallelism and src.rdd.getNumPartitions() < min_parallelism:
        src = src.repartition(min_parallelism)
    return src.mapInPandas(scan, schema)


def contamination_flags_shuffled(
    corpus: DataFrame,
    reference: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: str = "doc_id",
    ref_text_col: str = "text",
    min_parallelism: int | None = None,
) -> DataFrame:
    """Production path for overlap flags when the REFERENCE side is
    itself corpus-scale (train-vs-heldout scrub: heldout_frac of 100 TB
    is neither broadcastable nor collectable) →
    (id_col, n_matched_grams, n_bench_examples, bench_ids).

    Combines the two existing formulations' scale halves: gram hashing
    is the fast path's vectorized polynomial over memoized word hashes
    (one O(words) numpy pass per doc — not Catalyst's per-length
    ``zip_with`` string chain, and not ``contamination_flags_fast``'s
    driver-side reference collect), and matching is ONE shuffle join of
    the two (id, 8-byte gram hash) exploded sides + a per-doc count agg
    — ints only on the wire, neither side's text shuffles.  Same
    matching semantics as :func:`contamination_flags` (n-grams +
    min(n, example length) short rule, null texts ignored), test-pinned
    flag-equal on planted corpora; gram hashes use the fast path's
    family, so only the opaque hash VALUES differ."""
    shorts = _short_lengths(reference, n, ref_text_col)
    cg = _gram_hash_rows(corpus, [n] + sorted(shorts), id_col, text_col,
                         id_col, min_parallelism)
    # per-doc np.unique already dedups the reference rows — no distinct
    bg = _gram_hash_rows(reference, [n], ref_id_col, ref_text_col,
                         "bench_id", min_parallelism)
    return (
        cg.join(bg, "g")
        .groupBy(id_col)
        .agg(
            F.countDistinct("g").alias("n_matched_grams"),
            F.countDistinct("bench_id").alias("n_bench_examples"),
            F.slice(F.array_sort(F.collect_set("bench_id")), 1, 20)
            .alias("bench_ids"),
        )
    )


def mask_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """GPT-3's actual remedy (App. C): don't drop the document, REMOVE the
    overlapping windows.  → (id_col, clean_text, n_words, n_masked_words)
    for EVERY corpus row (clean docs pass through with 0 masked).

    A word is masked iff some matched n-gram covers it — the word-level
    analogue of span_dedup's sentence rule.  ``clean_text`` re-joins the
    surviving words with single spaces (original inter-word whitespace is
    not preserved — token content is what training cares about).  Mechanics: ``posexplode`` the
    corpus gram array (gram i covers words i..i+n-1), broadcast-join the
    benchmark gram hashes, aggregate matched positions per doc, and
    rebuild the text with a ``filter`` over word positions — the only wide
    ops are the broadcast join and a per-doc collect of matched INTEGER
    positions (never text)."""
    bench_grams = benchmark.select(
        _lower_words(F.col(bench_text_col)).alias("__bw")
    ).select(
        F.explode(_gram_hashes(F.col("__bw"), n)).alias("g")
    ).distinct()

    # ONE corpus scan for all gram lengths (n + each short bench length,
    # GPT-3's min(n, example length) rule): per length, a projected array
    # of (gpos, glen, g) structs, concatenated and exploded once — the
    # per-length posexplode+union formulation re-scanned the corpus text
    # k+1 times for k short lengths.  A match at (gpos, glen) masks words
    # gpos..gpos+glen-1.
    shorts = _short_lengths(benchmark, n, bench_text_col)

    def gram_structs(length: int) -> Column:
        return F.transform(
            _window_hash_array(F.col("__cw"), length),
            lambda g, i: F.struct(i.alias("gpos"),
                                  F.lit(length).alias("glen"),
                                  g.alias("g")))

    arrs = [gram_structs(length) for length in [n] + shorts]
    all_grams = arrs[0] if len(arrs) == 1 else F.concat(*arrs)
    pos = corpus.select(
        F.col(id_col), _lower_words(F.col(text_col)).alias("__cw")
    ).select(
        F.col(id_col), F.explode(all_grams).alias("s")
    ).select(id_col, "s.gpos", "s.glen", "s.g")
    matched = (
        pos.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.collect_set(F.struct("gpos", "glen")).alias("mpos"))
    )
    # original-case words for the rebuild; gram matching was lowercased.
    # Null text coalesces to an EMPTY word array (n_words 0, clean_text
    # ""), matching the flag paths' ignore-null contract — bare
    # size(split(null)) is -1.
    orig_words = F.coalesce(F.split(F.trim(F.col(text_col)), r"\s+"),
                            F.array().cast("array<string>"))
    out = (
        corpus.join(matched, id_col, "left")
        .withColumn("__mpos", F.coalesce(
            F.col("mpos"),
            F.array().cast("array<struct<gpos:int,glen:int>>")))
        .withColumn("__w", orig_words)
        .withColumn("__keep", F.filter(
            F.col("__w"),
            lambda w, i: ~F.exists(
                F.col("__mpos"),
                lambda p: (i >= p["gpos"]) & (i < p["gpos"] + p["glen"])),
        ))
    )
    return out.select(
        F.col(id_col),
        F.concat_ws(" ", F.col("__keep")).alias("clean_text"),
        F.size("__w").cast("long").alias("n_words"),
        (F.size("__w") - F.size("__keep")).cast("long")
        .alias("n_masked_words"),
    )


def _bloom_positions(h, m: int, k: int):
    """Kirsch-Mitzelmacher double hashing over the two 32-bit halves of a
    uint64 hash array: yields k int64 position arrays pos_i = (h1 + i·h2)
    mod m — one 64-bit hash per gram, k derived probes.  Shared by the
    Bloom build and probe so the bit positions cannot drift apart."""
    import numpy as np

    h1, h2 = h >> np.uint64(32), h & np.uint64(0xFFFFFFFF)
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)


def build_gram_bloom(
    benchmark: DataFrame,
    n: int = 13,
    bits_per_key: int = 10,
    n_hashes: int = 7,
    text_col: str = "text",
    distinct_cap_threshold: int = 1_000_000,
) -> tuple[bytes, int, int, list[int]]:
    """Distributed Bloom-filter build over the benchmark's n-gram hashes —
    the scale path for benchmark sets too large to broadcast exactly
    (~10 bits/key ≈ 1% false positives PER GRAM vs 64 bits/key for
    exact hashes; see :func:`contamination_flags_bloom` for why the
    DOC-level rate compounds by grams-per-doc and ``bits_per_key=24``
    is the recommended production setting).

    Gram hashes are the fast twin's vectorized polynomial hashes over
    memoized per-word blake2b hashes (:func:`_poly_gram_hashes`) — the
    SAME hash family :func:`contamination_flags_bloom` probes with, so
    build and probe agree by construction.  Null benchmark texts are
    skipped (the ignore-null contract all three paths share).

    Each Arrow batch sets its bits in a LOCAL bit array and emits one
    packed-bytes row; the driver ORs the (one-per-batch) rows — no
    per-gram collect.  ``m`` is sized from a one-aggregate UPPER BOUND on
    the gram count (a doc's gram count never exceeds its word count), so
    sizing costs one cheap Catalyst agg instead of a full distinct-gram
    generation pass; oversizing only pushes fpp below nominal.  On
    benchmarks with heavy cross-doc duplication the word-count bound
    inflates ``m`` by the duplication factor — and each build task
    allocates an m-byte bool array — so once the bound exceeds
    ``distinct_cap_threshold`` keys, one extra ``approx_count_distinct``
    aggregate over the Catalyst gram hashes caps ``m`` at 1.25× the
    estimated distinct-gram count (review finding).  The cap cannot
    create false negatives (Bloom sizing only moves fpp), and the 1.25
    margin dominates the estimator's ~2 % relative error.

    Returns ``(packed_bits, m_bits, n_hashes, short_lengths)`` for
    :func:`contamination_flags_bloom` — the short example lengths let the
    probe side generate matching ℓ-grams (min(n, example length) rule)."""
    import numpy as np
    import pandas as pd

    wc = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    n_keys = benchmark.select(
        F.coalesce(F.sum(F.when(wc > 0, wc)), F.lit(0))).collect()[0][0] or 1
    if int(n_keys) > distinct_cap_threshold:
        # Same gram definition as the build below (distinct lowercase
        # word n-grams incl. the single partial gram of short docs) —
        # only the hash family differs, which is irrelevant to a count.
        est = benchmark.filter(F.col(text_col).isNotNull()).select(
            _lower_words(F.col(text_col)).alias("__bw")
        ).select(
            F.explode(_gram_hashes(F.col("__bw"), n)).alias("__g")
        ).agg(F.approx_count_distinct("__g").alias("d")).collect()[0]["d"]
        n_keys = min(int(n_keys), max(int(est * 1.25), 1))
    m = max(64, int(n_keys) * bits_per_key)
    m -= m % 8

    def set_bits(batches):
        cache: dict = {}
        for pdf in batches:
            bits = np.zeros(m, dtype=bool)
            for text in pdf[text_col]:
                if text is None:       # null text has no grams (exact parity)
                    continue
                h = np.unique(_poly_gram_hashes(_word_hashes(text, cache), n))
                for pos in _bloom_positions(h, m, n_hashes):
                    bits[pos] = True
            yield pd.DataFrame({"packed": [np.packbits(bits).tobytes()]})

    rows = benchmark.select(text_col) \
        .mapInPandas(set_bits, "packed binary").collect()
    acc = np.zeros(m // 8, dtype=np.uint8)
    for r in rows:
        acc |= np.frombuffer(r["packed"], dtype=np.uint8)
    return acc.tobytes(), m, n_hashes, _short_lengths(benchmark, n, text_col)


def contamination_flags_bloom(
    corpus: DataFrame,
    bloom: tuple[bytes, int, int, list[int]],
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_parallelism: int | None = None,
) -> DataFrame:
    """→ (id_col, n_flagged_grams) for corpus docs with ≥1 gram whose k
    Bloom probes all hit.  NO false negatives (every truly contaminated
    doc is flagged — the Bloom guarantee); false positives over-flag
    clean docs, i.e. conservatively over-drop — the trade for an exact
    set that will not broadcast.

    **Size for the DOC-level false-positive rate, not the per-gram
    fpp**: a doc is over-flagged if ANY of its ~grams-per-doc probes
    false-positives, so doc_fpp ≈ grams_per_doc × gram_fpp.  The
    historical default ``bits_per_key=10`` (~0.8% per gram) over-flags
    a quarter of a 300-gram/doc corpus (measured live at sf0.1);
    ``bits_per_key=24`` puts gram_fpp ~1e-4 → sub-3% doc-level
    over-drop at 300 grams/doc while still 2.7× smaller than the exact
    8-byte hash set.  :func:`build_gram_bloom` docs carry the same
    warning.

    The probe reuses :func:`contamination_flags_fast`'s mechanics —
    memoized word hashes, vectorized polynomial grams per length, one
    np.unique — then tests membership against the PACKED bit array
    (bits[pos>>3] >> (7-(pos&7))): unpacking to a bool per bit would ship
    8× the bytes in the task closure, i.e. MORE than the exact hash set
    this filter exists to undercut.  Null corpus texts are skipped.
    ``min_parallelism`` has the same input-partition-width contract as
    the fast twin."""
    import numpy as np
    import pandas as pd

    packed, m, k, *rest = bloom
    shorts = rest[0] if rest else []
    lengths = [n] + list(shorts)
    bits = np.frombuffer(packed, dtype=np.uint8)
    id_t = dict(corpus.dtypes)[id_col]
    schema = f"{id_col} {id_t}, n_flagged_grams bigint"

    def probe(batches):
        cache: dict = {}
        for pdf in batches:
            if len(cache) > 2_000_000:   # bound the distinct-token memo
                cache.clear()
            out_id, out_n = [], []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:   # null text has no grams (exact parity)
                    continue
                wh = _word_hashes(text, cache)
                gs = np.unique(np.concatenate(
                    [_poly_gram_hashes(wh, l) for l in lengths]))
                hit = np.ones(len(gs), dtype=bool)
                for pos in _bloom_positions(gs, m, k):
                    # np.packbits is big-endian within a byte: bit 0 → MSB
                    hit &= ((bits[pos >> 3] >> (7 - (pos & 7))) & 1) \
                        .astype(bool)
                n_hit = int(hit.sum())
                if n_hit:
                    out_id.append(_id)
                    out_n.append(n_hit)
            yield pd.DataFrame({id_col: out_id, "n_flagged_grams": out_n})

    src = corpus.select(id_col, text_col)
    if min_parallelism and src.rdd.getNumPartitions() < min_parallelism:
        src = src.repartition(min_parallelism)
    return src.mapInPandas(probe, schema)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_matched_grams: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Drop contaminated documents (≥ ``min_matched_grams`` shared
    n-grams); returns the surviving corpus rows with original schema.
    The anti-join key is the id column only — text stays put."""
    flagged = contamination_flags(corpus, benchmark, n, id_col, text_col,
                                  **kwargs) \
        .filter(F.col("n_matched_grams") >= min_matched_grams) \
        .select(id_col)
    return corpus.join(flagged, id_col, "left_anti")
