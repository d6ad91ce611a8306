"""Media curation pipeline: the ``corpus_prep`` mirror for binary
assets — metadata gates → exact dedup → decode-once perceptual hashing
→ near-dedup → canonical survivors, with the same StageMetrics /
localCheckpoint stage discipline.

Stage order is the cost ladder a 100 TB media corpus forces:

1. **Metadata gates first** (size bounds, media-type allowlist,
   optionally :func:`multimodal.probe_media`-backfilled dimensions) —
   pure Catalyst over catalog columns, drops the bulk of junk before
   any byte of payload is decoded (the curate-by-metadata-before-
   decoding rule from the MP4-probe work).
2. **Exact dedup** next — ``dedup.exact_dedup`` applied verbatim to
   the payload bytes (md5 shuffle key, min-id representative,
   ``normalize=False``).  Byte-identical copies are the cheapest
   duplicates to kill and every one killed is a decode saved.
3. **Decode + perceptual hash ONCE** (``media_dedup.image_hashes``
   through the injectable decoder seam) — the only stage that touches
   pixels; its output (8-byte hashes) is all that later stages
   shuffle.  The returned frame carries ``dhash``/``ahash`` so a
   downstream incremental ingest can reuse them as admission state.
4. **Near-dedup** (banded Hamming → connected components → min-id or
   best-``keep_by`` representative).

Decode failures follow the D8 sentinel contract: quarantined from the
kept output by default (they can't be near-deduped), surfaced in the
returned report instead of silently dropped; ``admit_undecodable=True``
keeps them with null hashes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llmxmapreduce_spark.operators import media_dedup
from llmxmapreduce_spark.operators.components import dedup_by_components
from llmxmapreduce_spark.operators.dedup import exact_dedup
from llmxmapreduce_spark.operators.stage_metrics import StageMetrics
from llmxmapreduce_spark.retention import pinned_ids, release


@dataclass
class MediaPrepConfig:
    decoder: object = None                   # default: auto_image_decoder
    min_bytes: int = 1
    max_bytes: int | None = None
    media_types: list[str] | None = None     # None = no type gate
    min_width: int | None = None             # catalog-column gates (LAION
    min_height: int | None = None            # drops tiny images pre-decode)
    exact_dedup: bool = True
    neardup: bool = True
    bands: int = 4
    max_distance: int = 3
    max_bucket: int | None = 100_000
    keep_by: str | None = None               # near-dup representative policy
    admit_undecodable: bool = False
    hash_w: int = 8
    hash_h: int = 8
    # False skips every inter-stage localCheckpoint cut — ONLY for plan
    # auditing (explain() then shows the full lazy pipeline;
    # checkpointed stages collapse to Scan ExistingRDD) or tiny inputs.
    checkpoint: bool = True
    extra: dict = field(default_factory=dict)


def _cut(sm: StageMetrics | None, name: str, df: DataFrame,
         checkpoint: bool = True) -> DataFrame:
    if sm is not None:
        df = sm.observe(name, df)
    if checkpoint:
        df = df.localCheckpoint(eager=True)
        if sm is not None:
            sm.materialized(name)
    return df


def run_media_prep(
    assets: DataFrame,
    config: MediaPrepConfig | None = None,
    stage_metrics: StageMetrics | None = None,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> tuple[DataFrame, DataFrame]:
    """Curate a media-asset table; returns ``(kept, quarantined)``.

    ``kept`` is the surviving assets WITH their ``dhash``/``ahash``
    columns (decode-once admission state — feed it to
    ``streaming.ingest.run_incremental_media_ingest``'s kept corpus or
    persist it bucketed by hash for co-located incremental joins);
    ``quarantined`` ALWAYS lists the decode-failure rows with their
    error strings (the dead-letter report).  With
    ``admit_undecodable=True`` those rows additionally stay in ``kept``
    with null hashes — ``quarantined`` is a report, not a partition, so
    don't union it back into ``kept``.
    """
    cfg = config or MediaPrepConfig()
    decoder = cfg.decoder or media_dedup.auto_image_decoder

    # 1. metadata gates — no payload bytes touched
    gated = assets.filter(F.length(F.col(payload_col)) >= cfg.min_bytes)
    if cfg.max_bytes is not None:
        gated = gated.filter(
            F.length(F.col(payload_col)) <= cfg.max_bytes)
    if cfg.media_types is not None:
        if "media_type" not in assets.columns:
            raise ValueError(
                "MediaPrepConfig.media_types is set but the input has no "
                "media_type column — a silently skipped allowlist would "
                "let every payload type into the decode stage")
        gated = gated.filter(F.col("media_type").isin(cfg.media_types))
    for bound, col in ((cfg.min_width, "width"),
                       (cfg.min_height, "height")):
        if bound is not None:
            if col not in assets.columns:
                raise ValueError(
                    f"MediaPrepConfig.min_{col} is set but the input has "
                    f"no {col} column — run multimodal.probe_media first "
                    f"or drop the bound")
            # null dimensions fail the gate: an unprobed asset can't
            # prove it meets the bound
            gated = gated.filter(F.col(col) >= bound)
    gated = _cut(stage_metrics, "metadata_gate", gated, cfg.checkpoint)
    # Release bookkeeping (r13 ADVICE fix): accumulate the ids THIS
    # call pins via snapshot diffs around each stage, and at the end
    # release only that set — never a subtraction from the global
    # registry, which would sweep caches/checkpoints a concurrent
    # driver thread registered anywhere inside the whole call window.
    # The metadata_gate cut above is deliberately NOT tracked: its diff
    # would contain the caller's lazily-registering input caches (the
    # r12 shield invariant).  Inside a tracked window a concurrent
    # registration can still be mis-attributed — retention.py documents
    # the single-driver-thread assumption all these call sites share.
    sc = assets.sparkSession.sparkContext
    created: set = set()
    kept_ids: set = set()   # set before try: the final 'neardup' cut and
    q_ids: set = set()      # quarantine checkpoint pin after the last
    try:                    # `created` update, so the except must see them
        # 2. exact dedup on payload bytes — the text operator verbatim
        # (md5 key, min-id representative); normalize=False because byte
        # payloads have no whitespace/case to fold
        if cfg.exact_dedup:
            snap = pinned_ids(sc) if cfg.checkpoint else set()
            gated = exact_dedup(gated, text_col=payload_col, id_col=id_col,
                                normalize=False)
            gated = _cut(stage_metrics, "exact_dedup", gated, cfg.checkpoint)
            if cfg.checkpoint:
                created |= pinned_ids(sc) - snap

        # 3. decode + hash once
        snap = pinned_ids(sc) if cfg.checkpoint else set()
        hashes = media_dedup.image_hashes(
            gated, decoder, id_col=id_col, payload_col=payload_col,
            hash_w=cfg.hash_w, hash_h=cfg.hash_h)
        hashes = _cut(stage_metrics, "perceptual_hash", hashes,
                      cfg.checkpoint)
        if cfg.checkpoint:
            created |= pinned_ids(sc) - snap
        enriched = gated.join(
            hashes.select(F.col("asset_id").alias(id_col), "dhash", "ahash",
                          "decode_ok", "decode_error"), id_col)
        quarantined = enriched.filter(~F.col("decode_ok")) \
            .select(id_col, "decode_error")
        if not cfg.admit_undecodable:
            enriched = enriched.filter(F.col("decode_ok"))
        enriched = enriched.drop("decode_ok", "decode_error")

        # 4. perceptual near-dedup → canonical survivors (the component
        # loop inside dedup_by_components checkpoints eagerly at call
        # time, so its residue lands in this tracked window)
        if cfg.neardup:
            snap = pinned_ids(sc) if cfg.checkpoint else set()
            pairs = media_dedup.hamming_neardup_pairs(
                enriched, id_col=id_col, hash_col="dhash", bands=cfg.bands,
                max_distance=cfg.max_distance, max_bucket=cfg.max_bucket)
            enriched = dedup_by_components(
                enriched, pairs, id_col=id_col, keep_by=cfg.keep_by)
            if cfg.checkpoint:
                created |= pinned_ids(sc) - snap
        if not cfg.checkpoint:
            return (_cut(stage_metrics, "neardup", enriched, False),
                    quarantined)

    # Supersede-release (r12 audit): checkpoint the (small — decode
    # failures only) quarantine report so nothing returned is lazy over
    # the mid-pipeline cuts, then release exactly the tracked `created`
    # set minus the two returned frames' own blocks.  The exact_dedup
    # and perceptual_hash cuts — one corpus-sized, one hash-per-asset —
    # plus any dedup-internal checkpoints had their last read when the
    # returned frames materialized.  On an error path the finally block
    # still releases what was tracked, so an exception mid-pipeline
    # can't leave corpus-sized cuts pinned for the session (r13 ADVICE).
        snap = pinned_ids(sc)
        kept = _cut(stage_metrics, "neardup", enriched, True)
        kept_ids = pinned_ids(sc) - snap
        snap = pinned_ids(sc)
        quarantined = quarantined.localCheckpoint(eager=True)
        q_ids = pinned_ids(sc) - snap
    except BaseException:
        # r13 ADVICE error path: nothing is returned, so every tracked
        # id is releasable — including the final kept/quarantine cuts
        # (a quarantine-checkpoint failure would otherwise leak the
        # corpus-sized kept frame; r13 review finding).  A failure
        # INSIDE a tracked window can still leak that window's partial
        # ids (they were never attributed) — a bounded ≤1-region
        # residue, preferable to sweeping the global registry (see
        # retention.py's concurrency caveat).
        release(sc, created | kept_ids | q_ids)
        raise
    release(sc, created - kept_ids - q_ids)
    return kept, quarantined
