"""Deduplication operators (scale extensions, SURVEY.md §7 step 9).

Four families, each designed for the 100 TB case:

- exact       — content-hash groupBy (one shuffle on a 32-byte key, never on
                the text itself)
- MinHash+LSH — shingle → minhash signature → banded bucket join.  Candidate
                generation is a self-join on (band_id, band_hash) buckets,
                NEVER an all-pairs cartesian; verification (true Jaccard)
                runs only on bucket collisions.
- SimHash     — bit-vote fingerprint; near-dups collide on fingerprint
                (optionally with rotated bands for 1-2 bit tolerance)
- n-gram Jaccard — exact verifier used after LSH candidate generation

Three hash families are provided (see ``minhash_dedup_pairs``): the
historical *portable* md5 family (bit-identical in DuckDB), the *fast*
xxhash64 family for production (JVM-side, no md5 string churn), and the
r14 *int60* family — ALSO DuckDB-portable but at ~1/num_hashes of the
md5 family's hash work (one md5 per word, integer shingle folds, affine
permutations; the family a DuckDB oracle can replay).  All share the
same plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from llmxmapreduce_spark.retention import checkpoint

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                normalize: bool = True) -> DataFrame:
    """Keep one representative row (min id) per distinct text.

    The shuffle key is ``md5(text)`` — constant width regardless of document
    size, so the exchange moves 32-byte keys + ids, not 100 TB of text.
    """
    t = F.col(text_col)
    if normalize:
        t = F.lower(F.trim(F.regexp_replace(t, r"\s+", " ")))
    w = Window.partitionBy(F.md5(t)).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of ``text`` (whitespace tokenized).

    Grams are built with ``zip_with`` over shifted slices — one pass over
    the token array instead of per-index ``get`` chains (~10× less
    expression work on long documents; same output).  (r13: a per-index
    slice+array_join formulation measured ~1.5-3× slower — keep the
    chain.  Gram STRINGS are required here: the md5 minhash signatures
    must replay bit-identically in the DuckDB oracle.)"""
    words = F.split(F.trim(text), r"\s+")
    g = words
    for j in range(1, n):
        g = F.zip_with(
            g,
            F.slice(words, j + 1, F.greatest(F.size(words) - j, F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    grams = F.slice(g, 1, F.greatest(F.size(words) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.when(F.size(words) >= n, grams).otherwise(F.array(F.concat_ws(" ", words)))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (portable md5 variant — oracle-checkable)
# ---------------------------------------------------------------------------


def minhash_signature(shingles: Column, num_hashes: int = 12) -> Column:
    """MinHash via keyed md5: signature[i] = min over shingles of
    md5(i || ':' || shingle).  Lexicographic min of a uniform hash is a valid
    min-wise permutation; md5 keeps Spark and DuckDB bit-identical."""
    return F.array(*[
        F.array_min(
            F.transform(shingles, lambda s: F.md5(F.concat(F.lit(f"{i}:"), s)))
        )
        for i in range(num_hashes)
    ])


def minhash_signature_fast(shingles: Column, num_hashes: int = 12) -> Column:
    """Production variant: xxhash64 with per-permutation seeds — stays in
    whole-stage codegen, no md5 string allocation."""
    return F.array(*[
        F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i))))
        for i in range(num_hashes)
    ])


# --- portable integer family (r14) -----------------------------------------
#
# The md5 family pays num_hashes md5 STRING hashes per shingle (plus an
# md5 per band) purely so DuckDB can replay it.  This family keeps the
# bit-for-bit DuckDB replay with ONE md5 per shingle: the shingle's
# 60-bit integer slice (the probe-verified engine-parity building block
# from the verify harness: Spark conv(substr(md5(s),1,15),16,10) ≡
# DuckDB CAST('0x'||substr(md5(s),1,15) AS UBIGINT)) is permuted by
# num_hashes affine maps (a·h + b) mod p over p = 2^31−1.  Every
# intermediate stays below 2^62, so the arithmetic is exact signed-64 in
# BOTH engines (Spark 4 runs ANSI; DuckDB BIGINT ops raise on overflow —
# the bound is load-bearing, not cosmetic).  Affine maps over a prime
# field are the classical universal-hash min-wise family; like the
# md5↔xxhash64 pair, md5-lex-min and affine-mod-min are DIFFERENT valid
# permutation families, so only borderline-Jaccard candidate pairs can
# differ between them.

MINHASH_P31 = 2_147_483_647          # 2^31 − 1 (Mersenne prime)
MINHASH_K = 32749                    # odd fold multiplier (< 2^15)
MINHASH_M45 = 1 << 45                # shingle-hash modulus: (M−1)·K + M
                                     # < 2^61, so the fold is exact
                                     # signed-64 in both engines


def minhash_affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a in [1, p), b in [0, p) — a fixed
    splitmix-style derivation shared verbatim by the Spark expressions
    and the DuckDB oracle generator (the constants ARE the contract)."""
    out: list[tuple[int, int]] = []
    x = 0x9E3779B97F4A7C15
    for _ in range(num_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = 1 + (x >> 33) % (MINHASH_P31 - 1)
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (x >> 33) % MINHASH_P31
        out.append((a, b))
    return out


def shingle_hash60(s: Column) -> Column:
    """60-bit integer slice of md5 — the engine-portable string hash."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def shingle_hashes_int(words_col: Column, n: int = 3) -> Column:
    """Distinct n-gram shingle hashes WITHOUT materializing gram strings
    (the r13 decontamination lesson applied portably): each word is
    hashed once (md5 60-bit slice mod 2^45), and a shingle's hash is the
    base-K polynomial fold of its word hashes mod 2^45 — one md5 per
    WORD instead of one per gram string over 3× the bytes, zero concat
    allocation, and DuckDB replays the identical fold (list_reduce /
    list comprehension).  ``words_col`` MUST be a projected column
    holding the per-word hashes (see the int60 branch of
    minhash_dedup_pairs) — a lambda capturing the hash expression tree
    would re-evaluate the md5 pass once per zip_with reference (the
    measured 7× blow-up class from r13).

    Docs shorter than ``n`` words fold ALL their word hashes into one
    shingle (= the md5-family rule of one whole-text shingle), and the
    n-gram fold starting from the first word hash equals the same fold
    seeded with 0, so both engines' short/long paths share one
    formula."""
    wh = words_col
    k, m = F.lit(MINHASH_K), F.lit(MINHASH_M45)
    g = wh
    for j in range(1, n):
        g = F.zip_with(
            g,
            F.slice(wh, j + 1, F.greatest(F.size(wh) - j, F.lit(1))),
            lambda a, b: (a * k + b) % m,
        )
    grams = F.slice(g, 1, F.greatest(F.size(wh) - (n - 1), F.lit(1)))
    whole = F.array(F.aggregate(
        wh, F.lit(0).cast("long"), lambda acc, x: (acc * k + x) % m))
    return F.array_distinct(
        F.when(F.size(wh) >= n, grams).otherwise(whole))


def minhash_signature_int(hashes60: Column, num_hashes: int = 12) -> Column:
    """Portable integer MinHash over pre-hashed shingles:
    signature[i] = min over h of (a_i·(h mod p) + b_i) mod p."""
    p = F.lit(MINHASH_P31)

    def perm(a: int, b: int):
        # closure factory: a bare 1-arg lambda is required — extra
        # default-arg parameters trip PySpark's higher-order-function
        # arity detection
        return lambda h: (F.lit(a) * (h % p) + F.lit(b)) % p

    return F.array(*[
        F.array_min(F.transform(hashes60, perm(a, b)))
        for a, b in minhash_affine_params(num_hashes)
    ])


def _band_hash_int(sig: Column, idxs: list[int]) -> Column:
    """Integer band key over signature positions ``idxs`` (values < p).
    Two rows per band combine INJECTIVELY as s0·p + s1 (< 2^62); wider
    bands fold mod p (collisions only create extra candidates, which the
    verify pass filters — and the fold is identical in both engines)."""
    p = F.lit(MINHASH_P31)
    acc = F.get(sig, idxs[0])
    if len(idxs) == 2:
        return acc * p + F.get(sig, idxs[1])
    for j in idxs[1:]:
        acc = (acc * F.lit(131) + F.get(sig, j)) % p
    return acc


def lsh_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "signature",
    bands: int = 4,
    rows_per_band: int = 3,
    int_bands: bool = False,
) -> DataFrame:
    """(id, band_id, band_hash) bucket entries — one row per band per doc.

    ``int_bands=True`` (the int60 family) keys each band with the exact
    integer combine from :func:`_band_hash_int` — the join key is an
    8-byte long instead of a 32-char md5 string."""
    if int_bands:
        sig = F.col(sig_col)
        band_entries = F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    _band_hash_int(
                        sig, [b * rows_per_band + r
                              for r in range(rows_per_band)]
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ])
        )
    else:
        band_entries = F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.md5(F.concat_ws(
                        "|", *[F.get(F.col(sig_col).cast("array<string>"),
                                     b * rows_per_band + r)
                               for r in range(rows_per_band)]
                    )).alias("band_hash"),
                )
                for b in range(bands)
            ])
        )
    return df.select(F.col(id_col).alias("id"), band_entries.alias("b")) \
             .select("id", "b.band_id", "b.band_hash")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "signature",
    bands: int = 4,
    rows_per_band: int = 3,
    int_bands: bool = False,
) -> DataFrame:
    """Banded LSH: hash each band of the signature; docs sharing any band
    hash become a candidate pair.  Plan: explode to (band_id, band_hash,
    id) → self-join on the band key (equi-join, shuffle on band_hash) →
    distinct (a, b) with a < b.  No cartesian product at any scale."""
    buckets = lsh_buckets(df, id_col, sig_col, bands, rows_per_band,
                          int_bands)
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        # dedup behind an id_a hash exchange instead of a plain
        # .distinct(): hashpartitioning(id_a) satisfies the
        # dropDuplicates aggregate's ClusteredDistribution([id_a, id_b])
        # AND is exactly the partitioning the verify join on id_a needs,
        # so the pairs frame crosses ONE exchange instead of two on the
        # verify path (r14; the labelprop r13 shared-exchange pattern).
        # Same rows — only the exchange key changes.
        .repartition("id_a")
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard_verify(
    pairs: DataFrame,
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    threshold: float = 0.7,
    shingle_df_b: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (id_a, id_b, jaccard).

    Join is on ids (narrow compared to the corpus); the set operations run
    on the two shingle arrays JVM-side.  ``shingle_df_b`` resolves the
    ``id_b`` side when the pair sides come from different tables
    (incremental new-batch × corpus); defaults to ``shingle_df``."""
    a = shingle_df.select(F.col(id_col).alias("id_a"),
                          F.col(shingles_col).alias("sh_a"))
    b = (shingle_df_b if shingle_df_b is not None else shingle_df).select(
        F.col(id_col).alias("id_b"), F.col(shingles_col).alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # SHUFFLE_HASH, never broadcast: the shingle frame is CORPUS-sized
    # by definition (one array per document), but its cached-relation
    # size ESTIMATE can look broadcastable — at sf5 Spark picked a
    # BroadcastHashJoin here and the driver-side build OOM'd
    # ('Not enough memory to build and broadcast', fresh-session
    # repro).  A shuffled hash join holds only one partition of
    # arrays per task and needs no sort on the array column.
    return (
        pairs.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def signature_jaccard(
    pairs: DataFrame,
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "signature",
    threshold: float = 0.7,
    sig_df_b: DataFrame | None = None,
) -> DataFrame:
    """MinHash ESTIMATE of Jaccard on candidate pairs: fraction of equal
    signature components (an unbiased estimator of the true Jaccard).

    This is the 100 TB verify path: the join ships ``num_hashes`` hash
    values per side (~100 bytes) instead of the full shingle array
    (kilobytes).  At sf5 the exact verify's shuffle is ~40× heavier —
    candidate-pair count × shingle-array width — and becomes THE bottleneck
    of the whole dedup; the estimate keeps the shuffle proportional to
    pairs × signature width.  Estimator std-dev is
    sqrt(j(1-j)/num_hashes) — raise ``num_hashes`` for tighter thresholds.
    """
    a = sig_df.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias("sg_a"))
    b = (sig_df_b if sig_df_b is not None else sig_df).select(
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("sg_b"))
    est = (
        F.size(F.filter(F.zip_with("sg_a", "sg_b", lambda x, y: x == y),
                        lambda t: t))
        / F.size(F.col("sg_a"))
    )
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", est)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.7,
    fast: bool = False,
    materialize: bool = True,
    verify: str = "exact",
    family: str | None = None,
) -> DataFrame:
    """End-to-end near-dup pair detection: shingle → minhash → LSH buckets →
    Jaccard verify.  Returns (id_a, id_b, jaccard >= threshold).

    ``family`` picks the min-wise permutation family (None derives it
    from ``fast`` for backward compatibility):

    - ``"md5"`` (= ``fast=False``) — num_hashes keyed md5 string hashes
      per shingle; the historical oracle-portable family.
    - ``"xxh64"`` (= ``fast=True``) — seeded xxhash64, production.
    - ``"int60"`` — the r14 portable integer family: ONE md5 per WORD
      (60-bit slice mod 2^45), shingle hashes by polynomial fold of the
      word hashes (no gram strings anywhere), num_hashes affine
      permutations mod 2^31−1, integer band keys, and the verify pass
      running set ops over the 8-byte shingle hashes.  Replays
      bit-for-bit in DuckDB (see the family block above) at ~1/num_hashes
      of the md5 family's hash work over ~1/n of the bytes.  All three
      are valid min-wise families; only borderline-Jaccard candidate
      pairs differ.

    ``verify`` picks the confirmation pass over bucket-collision candidates:

    - ``"exact"`` (default, oracle-checkable) — true n-gram Jaccard via the
      shingle arrays.  Shuffle cost: pairs × shingle-array width, fine up
      to ~1M pairs; it dominates the job once bucket collisions explode
      (sf5's planted 50-copy clusters → ~28M pairs → hundreds of GB).
    - ``"exact_hashed"`` — the SAME exact Jaccard, but the verify join
      ships ``xxhash64(shingle)`` arrays instead of the shingle strings:
      set intersections/unions over 64-bit hashes have identical sizes
      (hashing distinct strings is injective up to a ~n²/2⁶⁵ collision
      chance), so the VALUES equal the exact mode's while the shuffle
      drops to 8 bytes per shingle (~2.5×) and the array intersect runs
      on longs, not strings.  The exact-verify-at-scale choice: measured
      at sf5 where plain ``"exact"`` does not finish.
    - ``"estimate"`` — signature-agreement estimate
      (:func:`signature_jaccard`); shuffle carries only the num_hashes-long
      signatures.  The production choice at scale.
    - ``"none"`` — trust the bands (the common large-corpus practice:
      tune bands/rows so a bucket collision IS the decision); returns
      candidates with jaccard = null.

    ``materialize=True`` (default) computes the pairs eagerly and releases
    the signature cache; pass False to get the lazy plan (the signature
    DataFrame then stays persisted and is the caller's to release)."""
    if family is None:
        family = "xxh64" if fast else "md5"
    if family not in ("md5", "xxh64", "int60"):
        raise ValueError(f"unknown minhash family: {family!r}")
    rows_per_band = num_hashes // bands
    # Shingling + signatures feed BOTH the bucket join (twice, as left and
    # right) and the verify join — persist so the expensive md5/xxhash pass
    # over the full corpus runs once, not four times.  The cache is released
    # before returning (the result is materialized via a checkpoint, so
    # repeated calls don't pin corpus-sized blocks for the session's life).
    if family == "int60":
        # no gram strings at all: one portable md5 per WORD, shingle
        # hashes by polynomial fold (shingle_hashes_int).  The per-word
        # hash array is PROJECTED before the fold so the md5 pass runs
        # once, not once per zip_with reference (r13 lesson).
        base = df.select(
            F.col(id_col),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("__ws"),
        ).select(
            F.col(id_col),
            F.transform(
                "__ws", lambda w: shingle_hash60(w) % F.lit(MINHASH_M45)
            ).alias("__wh"),
        ).select(
            F.col(id_col),
            shingle_hashes_int(F.col("__wh"), n).alias("sh_h"),
        ).withColumn(
            "signature", minhash_signature_int(F.col("sh_h"), num_hashes))
    else:
        sig_fn = minhash_signature_fast if family == "xxh64" \
            else minhash_signature
        base = df.select(
            F.col(id_col), word_shingles(F.col(text_col), n).alias("shingles")
        ).withColumn(
            "signature", sig_fn(F.col("shingles"), num_hashes))
    if verify == "exact_hashed" and family != "int60":
        # hash the shingles BEFORE the persist and drop the strings: the
        # cache then holds 8-byte longs, and so does the verify shuffle
        base = base.withColumn(
            "sh_h", F.transform("shingles", lambda s: F.xxhash64(s))
        ).drop("shingles")
    base = base.persist()
    # Fill the cache before planning the pairs: an unfilled cache is sized
    # from its input's estimate, so AQE turns the joins into broadcasts
    # only as its cache stages finish, and whether a shuffle job runs
    # first then depends on task timing.
    base.count()
    cands = lsh_candidate_pairs(base, id_col, "signature", bands,
                                rows_per_band, int_bands=family == "int60")
    if verify == "exact" and family == "int60":
        # int60's exact verify IS the hashed-set jaccard: the oracle
        # replays the identical hashed lists, so the comparison is exact
        # by construction, not probabilistic
        pairs = jaccard_verify(cands, base, id_col, "sh_h", threshold)
    elif verify == "exact":
        pairs = jaccard_verify(cands, base, id_col, "shingles", threshold)
    elif verify == "exact_hashed":
        pairs = jaccard_verify(cands, base, id_col, "sh_h", threshold)
    elif verify == "estimate":
        pairs = signature_jaccard(cands, base, id_col, "signature", threshold)
    elif verify == "none":
        pairs = cands.withColumn("jaccard", F.lit(None).cast("double"))
    else:
        raise ValueError(f"unknown verify mode: {verify!r}")
    if not materialize:
        return pairs
    try:
        return checkpoint(pairs)
    finally:
        base.unpersist()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_ODD_HEX = "13579bdf"


def simhash16(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              out_col: str = "simhash") -> DataFrame:
    """Portable 16-bit SimHash: per-token md5, bit j votes ±1 by the parity
    of hex digit j; fingerprint bit j = (vote > 0).

    Plan: explode tokens → 16 conditional sums in ONE aggregation pass →
    fingerprint assembly.  One shuffle on id; identical SQL runs in DuckDB.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    tok = df.select(F.col(id_col), F.explode(words).alias("w")) \
            .withColumn("h", F.md5("w"))
    votes = tok.groupBy(id_col).agg(*[
        F.sum(
            F.when(F.instr(F.lit(_ODD_HEX), F.substring("h", j + 1, 1)) > 0, 1)
            .otherwise(-1)
        ).alias(f"b{j}")
        for j in range(16)
    ])
    fingerprint = sum(
        F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(16)
    )
    return votes.select(F.col(id_col), fingerprint.cast("long").alias(out_col))


def simhash64_fast(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", out_col: str = "simhash") -> DataFrame:
    """Production 64-bit SimHash on xxhash64 — JVM-side bit ops only."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    tok = df.select(F.col(id_col), F.explode(words).alias("w")) \
            .withColumn("h", F.xxhash64("w"))
    votes = tok.groupBy(id_col).agg(*[
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ])
    # bit 63 overflows a py4j literal — shift JVM-side instead.
    fingerprint = sum(
        F.when(F.col(f"b{j}") > 0,
               F.shiftleft(F.lit(1).cast("long"), j)).otherwise(F.lit(0).cast("long"))
        for j in range(64)
    )
    return votes.select(F.col(id_col), fingerprint.cast("long").alias(out_col))


# ---------------------------------------------------------------------------
# incremental dedup (new shard vs kept corpus)
# ---------------------------------------------------------------------------


def minhash_dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.7,
    fast: bool = False,
    verify: str = "estimate",
) -> DataFrame:
    """The production ingestion pattern: dedup a NEW shard against the
    already-kept corpus AND within itself, returning the surviving new
    rows (schema of ``new_df``).

    A 100 TB pipeline never re-self-joins the full corpus per shard — the
    corpus contributes only its LSH bucket entries (plus signatures for
    the verify join), so the candidate join is new-buckets × corpus-buckets
    on the band key: cost scales with the SHARD, not the corpus².  A new
    doc is dropped if it near-matches any corpus doc, or loses its
    within-shard cluster (connected components, min-id canonical — the
    same transitivity the batch path uses).

    ``verify`` as in :func:`minhash_dedup_pairs`; default ``"estimate"``
    (the scale path).  In a real deployment the corpus signatures/buckets
    would be persisted as incremental state alongside the kept corpus
    (computed once per doc at admission, the same bookkeeping as the crawl
    state in sources/crawl.py) — here they are derived on the fly and the
    corpus side is scanned twice (buckets + verify).
    """
    from llmxmapreduce_spark.operators.components import connected_components

    sig_fn = minhash_signature_fast if fast else minhash_signature
    rows_per_band = num_hashes // bands

    def base_of(d: DataFrame) -> DataFrame:
        out = d.select(
            F.col(id_col), word_shingles(F.col(text_col), n).alias("shingles")
        ).withColumn("signature", sig_fn(F.col("shingles"), num_hashes))
        if verify == "exact_hashed":
            out = out.withColumn(
                "sh_h", F.transform("shingles", lambda s: F.xxhash64(s))
            ).drop("shingles")
        return out

    new_base = base_of(new_df).persist()
    corpus_base = base_of(corpus_df).persist()
    try:
        nb = lsh_buckets(new_base, id_col, "signature", bands, rows_per_band)
        cb = lsh_buckets(corpus_base, id_col, "signature", bands, rows_per_band)
        cross = (
            nb.alias("l").join(
                cb.alias("r"),
                (F.col("l.band_id") == F.col("r.band_id"))
                & (F.col("l.band_hash") == F.col("r.band_hash")),
            )
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct()
        )
        if verify == "exact":
            matched = jaccard_verify(cross, new_base, id_col, "shingles",
                                     threshold, shingle_df_b=corpus_base)
        elif verify == "exact_hashed":
            matched = jaccard_verify(cross, new_base, id_col, "sh_h",
                                     threshold, shingle_df_b=corpus_base)
        elif verify == "estimate":
            matched = signature_jaccard(cross, new_base, id_col, "signature",
                                        threshold, sig_df_b=corpus_base)
        elif verify == "none":
            matched = cross
        else:
            raise ValueError(f"unknown verify mode: {verify!r}")
        vs_corpus = matched.select(F.col("id_a").alias(id_col)).distinct()

        within = minhash_dedup_pairs(
            new_df, text_col, id_col, n, num_hashes, bands, threshold,
            fast=fast, materialize=False, verify=verify,
        )
        comp = connected_components(within)
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        drop = checkpoint(vs_corpus.unionByName(losers).distinct())
    finally:
        new_base.unpersist()
        corpus_base.unpersist()
    return new_df.join(drop, id_col, "left_anti")
