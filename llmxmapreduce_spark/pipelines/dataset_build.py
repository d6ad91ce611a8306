"""End-to-end dataset release builder (scale extension).

The last mile a training-data platform actually ships: curated corpus →
a RELEASE — train + held-out packed shards with manifests, plus the
datasheet every dataset paper publishes (The Pile §2, RefinedWeb §4,
"Datasheets for Datasets" Gebru et al. CACM'21).  This module composes
the existing halves in the one order that is leakage-safe:

    prep_documents (URL curation → quality/PII → dedup ladder →
                    decontamination → mixing)          [corpus-WIDE]
      → holdout_split by grouping key                  [pure projection]
      → optional train-vs-heldout n-gram scrub         [shuffle semi-join
                                                        on gram hashes]
      → pack_corpus per side (+ deterministic shuffle on train)
      → write_training_shards per side (+ _manifest.json)
      → corpus_report datasheet over the curated docs  [one scan]

Ordering rationale: dedup must run CORPUS-WIDE before the split — if
each side deduped separately, near-duplicate pairs straddling the
boundary would survive and the held-out set would score text the model
effectively trained on (Lee et al. 2107.06499 §6.2, the exact leak the
split exists to prevent).  The split itself is splits.holdout_split:
keyed, stable under growth, Exchange-free.  Packing runs per side so no
training sequence ever mixes train and held-out text.

100 TB framing: every stage here is one of the audited plan shapes;
this pipeline adds no new shuffles — the split is a
projection, the per-side packing partitions by the same bucket id it
always did, and the datasheet is the single-scan rollup.  The only
driver-side artifacts are the manifests and the datasheet rows (bounded
by shard count and stratum cardinality).

Values gates: e2e test over planted corpus (tests/test_dataset_build.py)
— key cohesion across sides, packed-text disjointness, manifest/
datasheet consistency, determinism.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llmxmapreduce_spark.operators.report import corpus_report
from llmxmapreduce_spark.operators.splits import holdout_split
from llmxmapreduce_spark.operators.stage_metrics import StageMetrics
from llmxmapreduce_spark.pipelines.corpus_prep import (
    CorpusPrepConfig, pack_corpus, prep_documents)
from llmxmapreduce_spark.sources.shards import (
    _write_text, write_training_shards)


@dataclass
class DatasetBuildConfig:
    prep: CorpusPrepConfig = field(default_factory=CorpusPrepConfig)
    heldout_frac: float = 0.01
    split_key: str = "source"        # leakage-safe grouping key: domain,
                                     # canonical URL, or dedup-cluster rep
    rows_per_shard: int = 100_000
    datasheet_strata: tuple = ("source", "lang")
    shuffle_train: bool = True       # deterministic train_pos on the
                                     # train side (heldout order is
                                     # irrelevant — eval is order-free)
    seed: int = 42
    # n-gram overlap scrub of the TRAIN side against the held-out side
    # (GPT-3 App. C applied to the release's own eval split; Lee et al.
    # §6.2).  The corpus-wide dedup above already collapses doc-level
    # (near-)duplicates before the split, so what this catches is the
    # SUB-document leak class dedup thresholds pass: a train doc quoting
    # a ≥ scrub_n-word passage of a held-out doc.  Off by default — it
    # is a policy choice that shrinks train.
    scrub_train_overlap: bool = False
    scrub_n: int = 13
    scrub_min_grams: int = 1


def build_dataset(
    docs: DataFrame,
    out_dir: str,
    cfg: DatasetBuildConfig | None = None,
    stage_metrics: StageMetrics | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Build a release under ``out_dir``: ``train/`` and ``heldout/``
    packed parquet shards (each with ``_manifest.json``) plus
    ``datasheet.json`` (the curated-corpus rollup) and a returned
    summary dict.  ``out_dir`` may be any Hadoop-FS scheme."""
    cfg = cfg or DatasetBuildConfig()
    if not 0.0 < cfg.heldout_frac < 1.0:
        raise ValueError(
            f"heldout_frac must be in (0,1) for a release with both "
            f"sides, got {cfg.heldout_frac}")

    d = prep_documents(docs, cfg.prep, stage_metrics, id_col, text_col)
    if cfg.split_key not in d.columns:
        raise TypeError(
            f"build_dataset: split_key {cfg.split_key!r} is absent from "
            f"the curated documents ({d.columns})")
    d = holdout_split(d, cfg.heldout_frac, key_col=cfg.split_key,
                      seed=cfg.seed)
    # one materialization of the curated+split docs: both side packings
    # and the datasheet plan against it (prep already checkpoints its
    # stage outputs; this pins the split projection on top)
    d = d.localCheckpoint(eager=True)

    if cfg.scrub_train_overlap:
        # the held-out side scale-grows with the corpus (heldout_frac of
        # 100 TB is not an eval set), so the production path hashes
        # grams vectorized per side and joins them NON-broadcast — 8-byte
        # ints only on the wire, neither side's text moves (the Catalyst
        # twin is contamination_flags(broadcast_bench=False); flag
        # equality is test-pinned)
        from llmxmapreduce_spark.operators.decontamination import (
            contamination_flags_shuffled)

        flagged = (
            contamination_flags_shuffled(
                d.filter(F.col("split") == "train"),
                d.filter(F.col("split") == "heldout"),
                n=cfg.scrub_n, id_col=id_col, text_col=text_col,
                ref_id_col=id_col, ref_text_col=text_col)
            .filter(F.col("n_matched_grams") >= cfg.scrub_min_grams)
            .select(id_col))
        d = d.join(flagged, id_col, "left_anti")
        if stage_metrics is not None:
            d = stage_metrics.observe("train_scrub", d)
        d = d.localCheckpoint(eager=True)
        if stage_metrics is not None:
            stage_metrics.materialized("train_scrub")

    out = out_dir.rstrip("/")
    manifests = {}
    for side in ("train", "heldout"):
        side_cfg = cfg.prep
        if side == "heldout" and cfg.prep.shuffle_output:
            # heldout order is irrelevant; don't pay the position pass
            from dataclasses import replace
            side_cfg = replace(cfg.prep, shuffle_output=False)
        elif side == "train" and cfg.shuffle_train \
                and not cfg.prep.shuffle_output:
            from dataclasses import replace
            side_cfg = replace(cfg.prep, shuffle_output=True)
        packed = pack_corpus(d.filter(F.col("split") == side)
                             .drop("split"),
                             side_cfg, stage_metrics, id_col, text_col)
        manifests[side] = write_training_shards(
            packed, f"{out}/{side}", rows_per_shard=cfg.rows_per_shard)

    strata = tuple(c for c in cfg.datasheet_strata if c in d.columns)
    datasheet_rows = []
    if strata:
        datasheet_rows = [
            r.asDict() for r in
            corpus_report(d, strata=strata, text_col=text_col)
            .orderBy("level", *strata).collect()]
    summary = {
        "split_key": cfg.split_key,
        "heldout_frac": cfg.heldout_frac,
        "seed": cfg.seed,
        "scrub_train_overlap": cfg.scrub_train_overlap,
        "sides": {s: {k: m[k] for k in ("n_files", "n_rows")
                      } | ({"n_tokens": m["n_tokens"]}
                           if "n_tokens" in m else {})
                  for s, m in manifests.items()},
        "datasheet_strata": list(strata),
        "datasheet": datasheet_rows,
    }
    _write_text(d.sparkSession, f"{out}/datasheet.json",
                json.dumps(summary, indent=1, default=str))
    return summary
