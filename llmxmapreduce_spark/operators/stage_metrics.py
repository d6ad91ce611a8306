"""Per-stage runtime report (D10 — reference
``async_d/analyser/pipeline_analyser.py:64-124``).

The reference prints a 60-second table per pipeline node: queue depth,
processed count, throughput.  The Spark-native equivalent is per-STAGE
telemetry with zero extra jobs:

- **rows out** via ``DataFrame.observe`` + :class:`pyspark.sql.Observation`
  (Catalyst's ``CollectMetrics`` operator — metrics ride the existing
  action, no second count job);
- **LLM calls / failures / token estimates** via the
  :class:`~llmxmapreduce_spark.operators.llm_op.LLMMetrics` accumulators,
  one instance per tracked stage;
- **wall time** for eagerly-materialized stages (the pipelines'
  ``localCheckpoint`` boundaries): each ``materialized()`` call adds the
  interval since the previous one to its stage, so the stage times tile
  the run, and a stage cut several times (V2's ``digest``, cut once per
  block cycle and once before decode) sums its intervals.

Queue depth has no analog — Spark stages don't queue between operators;
the scheduler's task backlog is visible in the Spark UI — so the report
focuses on what the reference's table is actually used for: finding the
stage that dominates rows, time, or LLM spend.

Usage::

    sm = StageMetrics(spark)
    df = sm.observe("map", df)                 # rows_out via CollectMetrics
    mapped = llm_stage(..., metrics=sm.llm("map"))
    ...run actions...
    sm.report()      # list of per-stage dicts
    sm.report_df()   # same as a DataFrame (S8-style sink-able)
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from llmxmapreduce_spark.operators.llm_op import LLMMetrics
from llmxmapreduce_spark.retention import checkpoint, frame_id, owned, release

_REPORT_COLS = ["stage", "rows_out", "wall_s", "llm_calls", "llm_failures",
                "est_prompt_tokens", "est_reply_tokens"]


class StageMetrics:
    """Collects per-stage telemetry for one pipeline run."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._order: list[str] = []
        self._obs: dict[str, Observation] = {}
        self._n_obs = 0          # observation names must stay unique
        self._llm: dict[str, LLMMetrics] = {}
        self._wall: dict[str, float] = {}
        self._mark = time.perf_counter()   # start of the current interval
        self._layers: list[dict[str, Any]] = []

    def _ensure(self, name: str) -> None:
        if name not in self._order:
            self._order.append(name)

    def observe(self, name: str, df: DataFrame) -> DataFrame:
        """Attach a rows-out observation to ``df`` (no extra job; the
        metric materializes with whatever action consumes the plan)."""
        self._ensure(name)
        obs = Observation(f"stage:{name}:{self._n_obs}")
        self._n_obs += 1
        self._obs[name] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows_out"))

    def llm(self, name: str) -> LLMMetrics:
        """The stage's LLMMetrics accumulator set (pass to ``llm_stage``).
        Re-using a name accumulates into the same counters (e.g. both of
        V2's digest passes under one "digest" stage)."""
        self._ensure(name)
        if name not in self._llm:
            self._llm[name] = LLMMetrics(self._spark)
        return self._llm[name]

    def materialized(self, name: str) -> None:
        """Mark ``name`` as materialized NOW: its wall time grows by the
        interval since the previous ``materialized()`` call (the first
        interval starts when the collector is made, or when a
        :class:`StageRun` is entered).  Call once right after each eager
        boundary (localCheckpoint / action), in the order they happen."""
        self._ensure(name)
        now = time.perf_counter()
        self._wall[name] = self._wall.get(name, 0.0) + now - self._mark
        self._mark = now

    @staticmethod
    def _probe_rows(obs: Observation) -> int | None:
        """Best-effort NON-blocking read of an observation's ``rows_out``.

        The public ``Observation.get`` blocks until the first action on the
        observed plan finishes — unusable for a mid-run report — so this
        probes the JVM handle.  Two Spark 4.1 facts the naive probe trips
        over (both pinned by tests/test_stage_metrics.py):

        - before any action, ``getOrEmpty`` itself raises (the backing row
          is an empty ``Row`` with a null schema) → treated as
          not-yet-materialized;
        - after the action, the Scala ``Map.get`` returns a py4j-wrapped
          ``scala.Option`` which must be unwrapped via
          ``isDefined``/``get`` — ``int()`` on the bare Option raises
          TypeError.
        """
        jo = getattr(obs, "_jo", None)
        if jo is None:          # observe() never attached to a DataFrame
            return None
        try:
            vals = jo.getOrEmpty()
            if vals.isEmpty():
                return None
            opt = vals.get("rows_out")
            if hasattr(opt, "isDefined"):
                opt = opt.get() if opt.isDefined() else None
            return None if opt is None else int(opt)
        except Exception:
            # pre-action NPE (above) or private-API drift in a future
            # Spark: degrade to "not materialized", never crash the report.
            return None

    def report(self) -> list[dict[str, Any]]:
        """One dict per tracked stage, in attachment order.  ``rows_out``
        is None until an action has consumed the observed plan."""
        out = []
        for name in self._order:
            obs = self._obs.get(name)
            rows = None
            if obs is not None:
                if name in self._wall:
                    # materialized() was called → the action is done, so the
                    # PUBLIC blocking accessor returns immediately; prefer it
                    # over the private probe.
                    rows = obs.get.get("rows_out")
                    rows = None if rows is None else int(rows)
                else:
                    rows = self._probe_rows(obs)
            llm = self._llm[name].snapshot() if name in self._llm else {}
            out.append({
                "stage": name,
                "rows_out": int(rows) if rows is not None else None,
                "wall_s": round(self._wall[name], 3) if name in self._wall else None,
                "llm_calls": llm.get("calls"),
                "llm_failures": llm.get("failures"),
                "est_prompt_tokens": llm.get("est_prompt_tokens"),
                "est_reply_tokens": llm.get("est_reply_tokens"),
            })
        return out

    def report_df(self) -> DataFrame:
        """The report as a DataFrame (sink it like any S8/S9 table)."""
        rows = [tuple(r[c] for c in _REPORT_COLS) for r in self.report()]
        return self._spark.createDataFrame(
            rows, "stage string, rows_out long, wall_s double, "
                  "llm_calls long, llm_failures long, "
                  "est_prompt_tokens long, est_reply_tokens long")

    def record_v2_layers(self, out_rows: list[dict]) -> list[dict[str, Any]]:
        """Fold collected V2 output rows (:func:`v2_stage_report`) into this
        collector; returns and retains the per-(survey, cycle, layer) rows —
        the reference analyser's per-node detail next to the per-stage
        totals (``report()``)."""
        self._layers = v2_stage_report(out_rows)
        return self._layers

    def layer_report_df(self) -> DataFrame:
        """The ``record_v2_layers`` detail as a DataFrame (empty until
        ``record_v2_layers`` has been called)."""
        rows = [(r["survey_id"], r["block_cycle"], r["conv_layer"],
                 r["pool_size"], r["avg_score"])
                for r in self._layers]
        return self._spark.createDataFrame(
            rows, "survey_id string, block_cycle int, conv_layer int, "
                  "pool_size int, avg_score double")

    def pretty(self) -> str:
        """The reference's analyser-table shape (pipeline_analyser.py:64-124),
        one line per stage."""
        lines = [f"{'stage':<14} {'rows':>8} {'wall_s':>8} {'calls':>7} "
                 f"{'fail':>5} {'tok_in':>9} {'tok_out':>8}"]
        for r in self.report():
            lines.append(
                f"{r['stage']:<14} {r['rows_out'] if r['rows_out'] is not None else '-':>8} "
                f"{r['wall_s'] if r['wall_s'] is not None else '-':>8} "
                f"{r['llm_calls'] if r['llm_calls'] is not None else '-':>7} "
                f"{r['llm_failures'] if r['llm_failures'] is not None else '-':>5} "
                f"{r['est_prompt_tokens'] if r['est_prompt_tokens'] is not None else '-':>9} "
                f"{r['est_reply_tokens'] if r['est_reply_tokens'] is not None else '-':>8}")
        return "\n".join(lines)


class StageRun:
    """The stage boundaries of one pipeline call: eager cuts, their
    release and the stage report::

        with StageRun(spark, stage_metrics) as run:
            state = run.cut("map", mapped)
            state = run.cut("collapse", merged, supersedes=(state,))
            return run.result("reduce", answers)

    The run owns every checkpoint cut on its thread while it is open.  A
    cut made while a stage is built (``llm_stage_cached``'s frame) is
    released once that stage's cut exists, and so are the earlier cuts of
    this run the new cut ``supersedes`` (other frames, such as a lazy
    initial state, are ignored).  On exit the run
    releases the rest, except the :meth:`result` it handed to the caller.
    With a :class:`StageMetrics`, each cut observes its rows out and is
    stamped ``materialized``, so the stage times tile the call.
    """

    def __init__(self, spark: SparkSession, stage_metrics: StageMetrics | None):
        self._sc = spark.sparkContext
        self._sm = stage_metrics
        self._cuts: list[tuple[DataFrame, int]] = []   # live stage cuts

    def __enter__(self) -> StageRun:
        self._scope = owned()
        self._ids = self._scope.__enter__()   # this run's unreleased cuts
        if self._sm is not None:
            self._sm._mark = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            release(self._sc, self._ids)
        finally:
            self._scope.__exit__(None, None, None)

    def llm(self, name: str) -> LLMMetrics | None:
        """The stage's LLM accumulators, or None without a report."""
        return self._sm.llm(name) if self._sm is not None else None

    def rows(self, name: str, df: DataFrame) -> DataFrame:
        """Report the rows out of a stage that has no cut of its own."""
        return self._sm.observe(name, df) if self._sm is not None else df

    def cut(self, name: str, df: DataFrame,
            supersedes: tuple[DataFrame, ...] = ()) -> DataFrame:
        """Eagerly checkpoint ``df`` as the end of stage ``name``."""
        nested = self._ids - {rid for _, rid in self._cuts}
        cp = checkpoint(self.rows(name, df))
        gone = nested | {rid for f, rid in self._cuts
                         if any(f is s for s in supersedes)}
        release(self._sc, gone)
        self._ids.difference_update(gone)
        self._cuts = [(f, rid) for f, rid in self._cuts if rid not in gone]
        self._cuts.append((cp, frame_id(cp)))
        if self._sm is not None:
            self._sm.materialized(name)
        return cp

    def result(self, name: str, df: DataFrame) -> DataFrame:
        """The call's final cut, handed to the caller: the one frame the
        run leaves pinned."""
        cp = self.cut(name, df)
        self._ids.discard(frame_id(cp))
        return cp


def v2_stage_report(out_rows: list[dict]) -> list[dict[str, Any]]:
    """Fold the V2 pipeline's per-survey telemetry columns
    (``conv_pool_sizes`` pool trajectories + ``block_avg_score`` layer
    averages — v2_survey.py) into per-stage rows: one row per
    (survey, block cycle, conv layer) with pool size and average score —
    the convolution analog of the reference's per-node table.

    ``conv_layer`` is the layer whose OUTPUT the pool size describes, so it
    runs from ``-1`` (the initial suggestion pool, before any layer) to
    ``conv_layers - 1``.  Example: ``conv_pool_sizes=[[32, 11, 6]]`` (one
    block cycle, two layers) folds to::

        {"block_cycle": 0, "conv_layer": -1, "pool_size": 32, ...}  # initial
        {"block_cycle": 0, "conv_layer":  0, "pool_size": 11, ...}  # layer 0
        {"block_cycle": 0, "conv_layer":  1, "pool_size":  6, ...}  # layer 1
    """
    report = []
    for r in out_rows:
        sizes_cycles = r.get("conv_pool_sizes") or []
        score_cycles = r.get("block_avg_score") or []
        for cycle, sizes in enumerate(sizes_cycles):
            scores = score_cycles[cycle] if cycle < len(score_cycles) else []
            for layer, size in enumerate(sizes):
                report.append({
                    "survey_id": r["survey_id"],
                    "block_cycle": cycle,
                    "conv_layer": layer - 1,   # -1 = initial pool
                    "pool_size": int(size),
                    "avg_score": float(scores[layer])
                    if layer < len(scores) else None,
                })
    return report
