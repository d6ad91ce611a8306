#!/usr/bin/env python3
"""Benchmark of record for the LLM x MapReduce pipelines.

    python3 perfbench/run.py --workload qa_refresh --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  One invocation starts one Spark driver
on ``local[nproc]`` (with ``nproc`` shuffle partitions, set explicitly
because the session factory otherwise assumes 32 cores), builds the
workload's inputs from ``--seed``, warms up, then sends requests one
after another (a closed loop, one client) and checks every output.  It
starts no request that would end past ``--seconds`` (judged by the last
one), but always makes one, and two when tracing.  The warm-up ends with
a pass shaped like a request, so the checks that compare requests
(retention does not grow, the survey output is identical) compare each
request with that pass and hold with one.  The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
per-layer metrics (``--trace 1``).

``--trace 1`` alternates untraced and traced requests: traced requests
carry a stage-stamping StageMetrics, spans around every layer call, and
extra standalone calls into the chunker.  The per-layer table (self time
per span name) and all spans go to ``perfbench/results/``; the tracing
overhead is traced minus untraced items per second.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, "perfbench", "results")
WORK = os.path.join(ROOT, "perfbench", "work")
WORKLOAD_NAMES = ("qa_refresh", "survey_refdefaults")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def start_session(workdir: str):
    """A fresh Spark driver whose scratch files all stay under ``workdir``."""
    from llmxmapreduce_spark.session import get_spark

    local, tmp = os.path.join(workdir, "spark-local"), os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the short-lived JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    n = _nproc()
    return get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "1g",
            # no hsperfdata file: the JVM would write it under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })


def stop_session(spark) -> None:
    """Stops Spark and waits for the JVM (and with it the Python workers)
    to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _counts(before: dict, after: dict) -> dict:
    return {k: v - before.get(k, 0) for k, v in after.items()
            if v != before.get(k, 0)}


def _wait_for_jobs(sc, groups: list[str]) -> None:
    """The status tracker is fed by an asynchronous listener bus: wait
    until it has seen every job of ``groups`` end, or fail the run."""
    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    while True:
        pending = [j for g in groups for j in st.getJobIdsForGroup(g)
                   if (st.getJobInfo(j) is None
                       or st.getJobInfo(j).status in ("RUNNING", "UNKNOWN"))]
        if not pending:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"status tracker still shows jobs running: {pending}")
        time.sleep(0.05)


def measure(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    from llmxmapreduce_spark.retention import pinned_ids, release

    from perfbench.model import new_counters
    from perfbench.trace import RssSampler, StageClock, Tracer, job_stats
    from perfbench.workloads import WORKLOADS

    # per process, so that a second run in the same checkout cannot delete
    # the directory a starting JVM is writing to
    workdir = os.path.join(WORK, f"{workload_name}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    tracer = Tracer()
    setup: dict[str, float] = {}
    t = time.perf_counter()
    spark = start_session(workdir)
    try:
        sc = spark.sparkContext
        setup["session.start_s"] = time.perf_counter() - t
        tracer.add("session.start", t, t + setup["session.start_s"], request="setup")
        wl = WORKLOADS[workload_name](spark, seed, workdir, new_counters(sc))
        sc.setJobGroup("perfbench-setup", "set-up")
        with tracer.span("inputs.generate", request="setup") as sid:
            wl.generate()
        s = tracer.spans[sid]
        setup["inputs.generate_s"] = s["end"] - s["start"]
        pinned = pinned_ids(sc)
        with tracer.span("session.warmup", request="setup") as sid:
            wl.warmup()
        s = tracer.spans[sid]
        setup["session.warmup_s"] = s["end"] - s["start"]
        # the warm-up ends with a pass shaped like a request: what it
        # leaves pinned is the level no measured request may exceed
        warmup_pins = pinned_ids(sc) - pinned
        release(sc, warmup_pins)

        records: list[dict] = []
        with RssSampler() as rss:
            t_measure = time.perf_counter()
            i = 0
            while True:
                traced = trace and i % 2 == 1
                req = f"r{i}"
                wl.prepare()
                group = f"perfbench-{req}"
                sc.setJobGroup(group, f"request {i}")
                pinned = pinned_ids(sc)
                counters_before = dict(wl.counters.value)
                t0 = time.perf_counter()
                sm = StageClock(spark, t0) if traced else None
                error = None
                try:
                    rows = wl.run(sm)
                except Exception:  # noqa: BLE001 - a failed request is counted
                    rows, error = None, traceback.format_exc()
                    print(error, file=sys.stderr)
                t1 = time.perf_counter()
                sc.setJobGroup("perfbench-harness", "checks and layer probes")
                new_pins = pinned_ids(sc) - pinned
                # the harness is the caller: its retention boundary is the
                # collect, after which the request's frames are never read
                release(sc, new_pins)
                if rows is None:
                    outcome = {"items": wl.items(), "correct": 0, "failed": wl.items()}
                else:
                    o = wl.check(rows)
                    outcome = {"items": o.items, "correct": o.correct, "failed": o.failed}
                t2 = time.perf_counter()
                rec = {"request": req, "traced": traced, "group": group,
                       "latency_s": t1 - t0, "pinned_after_run": len(new_pins),
                       "llm": _counts(counters_before, wl.counters.value),
                       "error": error, **outcome}
                if traced:
                    root = tracer.add("request", t0, t2, request=req)
                    pipe = tracer.add(wl.pipeline, t0, t1, root, req)
                    tracer.add("check", t1, t2, root, req)
                    stages = [(f"{wl.stage_prefix}.{n}", a, b)
                              for n, a, b in sm.intervals(t1, wl.tail_stage)]
                    for name, a, b in stages:
                        tracer.add(name, a, b, pipe, req)
                    rec["stages"] = [(n, b - a) for n, a, b in stages]
                    rec["stage_report"] = sm.report()
                    rec["layers"] = wl.layers(tracer, req)
                    if rows is not None and workload_name == "survey_refdefaults":
                        rec["conv_pool_sizes"] = [
                            v for r in rows for cycle in (r["conv_pool_sizes"] or [])
                            for v in cycle]
                records.append(rec)
                i += 1
                # no request that would end past the window is started, but
                # a run has one, and a traced run an untraced and a traced one
                next_end = time.perf_counter() - t_measure + (t1 - t0)
                if next_end > seconds and i >= (2 if trace else 1):
                    break
        groups = [r["group"] for r in records]
        _wait_for_jobs(sc, groups)
        for r in records:
            r["jobs"], r["stages_run"], r["tasks"] = job_stats(sc, r["group"])
        peak_rss = rss.peak
        fingerprint = getattr(wl, "fingerprint", None)
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    return {"setup": setup, "records": records, "peak_rss": peak_rss,
            "warmup_pins": len(warmup_pins), "fingerprint": fingerprint,
            "tracer": tracer}


def _per_item(records: list[dict], value) -> float:
    items = sum(r["items"] for r in records)
    return sum(value(r) for r in records) / items


def _llm(r: dict, field: str, route: str | None = None) -> float:
    return sum(v for k, v in r["llm"].items()
               if k.split(".")[1] == field and route in (None, k.split(".")[0]))


def end_to_end(m: dict) -> dict:
    recs = m["records"]
    return {
        "setup_s": sum(m["setup"].values()),
        "items_per_s": statistics.median(r["items"] / r["latency_s"] for r in recs),
        "llm_calls_per_item": _per_item(recs, lambda r: _llm(r, "calls")),
        "prompt_tokens_per_item": _per_item(recs, lambda r: _llm(r, "prompt_chars")) / 4,
        "correct_frac": _per_item(recs, lambda r: r["correct"]),
        "peak_rss_mb": m["peak_rss"] / 2**20,
    }


def per_layer(m: dict, workload_name: str) -> dict:
    from perfbench.model import ROUTES

    recs = m["records"]
    traced = [r for r in recs if r["traced"]]
    untraced = [r for r in recs if not r["traced"]]
    out = dict.fromkeys(n["name"] for n in _spec()["per_layer"])
    out.update({k: v for k, v in m["setup"].items() if k in out})

    def mean(values) -> float:
        values = list(values)
        return sum(values) / len(values) if values else 0.0

    def stage_s(name: str) -> float:
        return mean(sum(d for n, d in r["stages"] if n == name) for r in traced)

    def layer(key: str) -> float:
        return mean(r["layers"].get(key, 0) for r in traced)

    n_items = sum(r["items"] for r in traced)
    chunks = sum(r["layers"].get("chunks", 0) for r in traced)
    out["chunker.s"] = layer("chunker.s")
    out["chunker.chunks_per_doc"] = chunks / n_items if chunks else 0.0
    busy = [_llm(r, "busy_s") for r in traced]
    out["llm_op.model_busy_s"] = mean(busy)
    out["llm_op.calls_in_flight"] = sum(busy) / sum(r["latency_s"] for r in traced)
    out["llm.calls"] = _per_item(recs, lambda r: _llm(r, "calls"))
    out["llm.retries"] = _per_item(recs, lambda r: _llm(r, "retries"))
    out["llm.failures"] = _per_item(traced, lambda r: sum(
        s["llm_failures"] or 0 for s in r["stage_report"]))
    out["llm.prompt_tokens"] = _per_item(recs, lambda r: _llm(r, "prompt_chars")) / 4
    out["llm.reply_tokens"] = _per_item(recs, lambda r: _llm(r, "reply_chars")) / 4
    for route in ROUTES:
        out[f"llm.calls.{route}"] = _per_item(recs, lambda r: _llm(r, "calls", route))

    lookups = hits = appended = 0
    if workload_name == "qa_refresh":
        # every chunk is a map-stage lookup and every document a reduce-stage
        # lookup; a miss is one successful model call
        lookups = chunks + n_items
        misses = sum(_llm(r, "calls", route) - _llm(r, "retries", route)
                     for r in traced for route in ("map", "reduce"))
        hits = lookups - misses
        appended = mean(r["layers"]["cache.rows_after"] - r["layers"]["cache.rows_before"]
                        for r in traced)
    out["cache.lookups"] = lookups / n_items if n_items else 0.0
    out["cache.hits"] = hits / n_items if n_items else 0.0
    out["cache.hit_ratio"] = hits / lookups if lookups else 0.0
    out["cache.appended_rows"] = appended
    out["cache.bytes_after"] = layer("cache.bytes_after")

    for stage in ("map", "collapse", "reduce"):
        out[f"v1_qa.{stage}.s"] = stage_s(f"v1_qa.{stage}")
    out["v1_qa.collapse_rounds"] = mean(
        sum(1 for n, _ in r["stages"] if n == "v1_qa.collapse") for r in traced
    ) if workload_name != "survey_refdefaults" else 0.0
    for stage in ("papers", "outline", "digest", "refine", "decode"):
        out[f"v2_survey.{stage}.s"] = stage_s(f"v2_survey.{stage}")
    pools = [v for r in traced for v in r.get("conv_pool_sizes", [])]
    out["v2_survey.conv_pool_size_mean"] = mean(pools)

    out["spark.jobs_per_item"] = _per_item(recs, lambda r: r["jobs"])
    out["spark.stages_per_item"] = _per_item(recs, lambda r: r["stages_run"])
    out["spark.tasks_per_item"] = _per_item(recs, lambda r: r["tasks"])
    out["spark.jobs_per_request"] = mean(r["jobs"] for r in recs)
    out["retention.pinned_after_run"] = max(r["pinned_after_run"] for r in recs)

    def rate(rs):
        return sum(r["items"] for r in rs) / sum(r["latency_s"] for r in rs)

    out["trace.overhead_items_per_s"] = rate(traced) - rate(untraced)
    missing = [k for k, v in out.items() if v is None]
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {missing}")
    return out


def run_one(args) -> int:
    try:
        import llmxmapreduce_spark  # noqa: F401 - the program under test
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    spec = _spec()
    m = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    recs = m["records"]
    attempted = sum(r["items"] for r in recs)
    failed = sum(r["failed"] for r in recs)
    retention_flat = all(r["pinned_after_run"] <= m["warmup_pins"] for r in recs)
    correct = (all(r["correct"] == r["items"] for r in recs) and failed == 0
               and retention_flat)
    if args.trace:
        values, names = per_layer(m, args.workload), spec["per_layer"]
    else:
        values, names = end_to_end(m), spec["end_to_end"]
    metrics = {n["name"]: {"value": values[n["name"]], "unit": n["unit"]} for n in names}

    lat = sorted(r["latency_s"] for r in recs)
    extra = {
        "failed_frac": failed / attempted,
        "requests": len(recs),
        "latency_max_s": lat[-1],
        "warmup_pinned": m["warmup_pins"],
        "pinned_after_run": [r["pinned_after_run"] for r in recs],
        "retention_flat": retention_flat,
        "survey_fingerprint": m["fingerprint"],
    }
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    tracer = m["tracer"]
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "trace": args.trace,
                   "nproc": _nproc(), "metrics": metrics, "extra": extra,
                   "setup": m["setup"], "records": recs,
                   "layer_table": tracer.self_times() if args.trace else None,
                   "spans": tracer.spans if args.trace else None},
                  f, indent=1, default=str)

    for name, v in metrics.items():
        print(f"{args.workload:<20} {name:<34} {v['value']:>14.6g} {v['unit']}")
    for name, v in extra.items():
        print(f"{args.workload:<20} {name:<34} {v!s:>14}")
    if args.trace:
        print(f"{'layer (span)':<40} {'count':>6} {'total_s':>10} {'self_s':>10}")
        for name, row in sorted(tracer.self_times().items()):
            print(f"{name:<40} {row['count']:>6} {row['total_s']:>10.4f} "
                  f"{row['self_s']:>10.4f}")
    print(f"results: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload in its own process, then one combined result line
    whose metric names are prefixed with the workload."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {name} exited {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        combined["metrics"].update(
            {f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(combined))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "llmxmapreduce_spark")):
        print("perfbench: run from a checkout that holds llmxmapreduce_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
