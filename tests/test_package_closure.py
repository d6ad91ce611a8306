"""The package is the paper's engine plus a listed operator library.

The paper's queries are V1 ``answer(question, document)`` and V2/V3
``survey(topic, papers)``.  This computes the static import closure of their
entry points (imports inside functions count) and checks that every other
module under ``llmxmapreduce_spark/`` is named in ``LIBRARY``: operators no
paper query imports, kept while their own tests remain.  A listed module
that is gone, or that a paper module now imports, fails too, so the list
only ever records what is really outside.  It also checks that the paper
modules have one checkpoint mechanism, ``retention.checkpoint``, that V1
and V2 have one stage protocol, ``stage_metrics.StageRun``, that model
calls have one path, ``llm_op._call_and_parse``, that prompt texts are
chosen in ``prompts`` only, and that the survey's group mode is not a
branch of ``run_v2_survey``.  No Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "llmxmapreduce_spark"

ENTRY_POINTS = [f"{PKG}.pipelines.{m}" for m in (
    "v1_qa", "v1_eval", "v2_survey", "v3_host", "search_crawl", "eval_suite")] + [
    f"{PKG}.operators.stage_metrics", f"{PKG}.llm.survey_mock", f"{PKG}.session",
    # the worker daemon every session starts by module name
    f"{PKG}.pyworker",
    # prompts.get_module loads the two tables by name
    f"{PKG}.prompts", f"{PKG}.prompts.prompts_en", f"{PKG}.prompts.prompts_zh",
    # the survey input contract the V2 tests build their inputs from
    f"{PKG}.schemas",
]

LIBRARY = {f"{PKG}.{m}" for m in """
    functions.jpeg functions.minibpe functions.mp4 functions.png functions.wav
    operators.bloom_join operators.bm25 operators.cdc operators.collocations
    operators.constraints operators.dsir operators.funnel operators.fuzzy
    operators.hll operators.html_clean operators.html_extractors
    operators.ivf operators.json_ops operators.justext
    operators.kmeans operators.labelprop operators.langid operators.line_dedup
    operators.lm_filter operators.media_dedup operators.mixing operators.moments
    operators.multimodal operators.ordering operators.packing operators.pagerank
    operators.pii operators.pq operators.qdigest operators.quality_classifier
    operators.quality_filters operators.quantiles operators.report
    operators.retention operators.setjoin operators.similarity operators.sketches
    operators.skew operators.span_dedup operators.splits operators.substring_dedup
    operators.temporal operators.textmatch operators.triangles operators.vocab
    operators.zorder
    pipelines.corpus_prep pipelines.dataset_build pipelines.media_prep
    pipelines.presets
    sources.bucketed sources.columnar sources.compaction sources.connectors
    sources.jsonl sources.shards sources.warc sources.webdataset
    streaming streaming.events streaming.ingest streaming.joins
""".split()}


def _modules() -> dict[str, Path]:
    out = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def _imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules ``name`` imports, with every parent package."""
    pkg = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = ".".join(pkg[:len(pkg) - node.level + 1] + [node.module or ""]
                            ) if node.level else node.module
            base = base.rstrip(".")
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    parts = {".".join(m.split(".")[:i])
             for m in found for i in range(1, m.count(".") + 2)}
    return parts & mods.keys()


def _closure(mods: dict[str, Path]) -> set[str]:
    seen, todo = set(), list(ENTRY_POINTS)
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo.extend(_imports(m, mods[m], mods))
    return seen


def test_every_module_is_reached_or_listed():
    mods = _modules()
    reached = _closure(mods)
    assert sorted(mods.keys() - reached - LIBRARY) == [], "unreached, unlisted"
    assert sorted(LIBRARY - mods.keys()) == [], "listed but gone"
    assert sorted(LIBRARY & reached) == [], "listed but a paper module imports it"


def test_no_python_outside_package_perfbench_tests():
    stray = [str(p.relative_to(REPO)) for p in REPO.rglob("*.py")
             if p.relative_to(REPO).parts[0] not in (PKG, "perfbench", "tests")]
    assert stray == []


def test_one_checkpoint_mechanism():
    """Paper modules cut lineage only through ``retention.checkpoint``,
    which records each cut's id for the calling scope; none diffs the
    global persistent-RDD registry (``pinned_ids``) to find its own."""
    mods = _modules()
    found = []
    for m in sorted(_closure(mods)):
        if m == f"{PKG}.retention":
            continue
        for node in ast.walk(ast.parse(mods[m].read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in ("localCheckpoint", "pinned_ids"):
                found.append(f"{m}:{node.lineno} {name}")
    assert found == []


def test_one_stage_protocol():
    """V1 and V2 make every stage boundary through ``StageRun``: they
    neither release checkpoints nor stamp the stage report themselves,
    nor branch on whether a report was asked for."""
    found = []
    for m in ("v1_qa", "v2_survey"):
        tree = ast.parse((REPO / PKG / "pipelines" / f"{m}.py").read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in ("owned", "release") or (
                        isinstance(f, ast.Attribute)
                        and name in ("materialized", "observe")):
                    found.append(f"{m}:{node.lineno} {name}")
            elif (isinstance(node, ast.Compare) and isinstance(node.left, ast.Name)
                  and node.left.id in ("stage_metrics", "sm")):
                found.append(f"{m}:{node.lineno} {node.left.id} test")
    assert found == []


def _scoped(node, scope=()):
    """Every node under ``node`` with the names of its enclosing defs."""
    for child in ast.iter_child_nodes(node):
        inner = scope
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            inner = scope + (child.name,)
        yield child, inner
        yield from _scoped(child, inner)


def _call_path_use(node) -> str | None:
    """``call_with_retry`` for a call of it, ``complete`` for a
    ``.complete(`` call, ``ThreadPoolExecutor`` for any mention of it."""
    if isinstance(node, ast.Call):
        f = node.func
        if isinstance(f, ast.Attribute) and f.attr == "complete":
            return "complete"
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        return name if name == "call_with_retry" else None
    if isinstance(node, ast.ImportFrom):
        names = [a.name for a in node.names]
    elif isinstance(node, (ast.Name, ast.Attribute)):
        names = [node.id if isinstance(node, ast.Name) else node.attr]
    else:
        return None
    return "ThreadPoolExecutor" if "ThreadPoolExecutor" in names else None


def test_one_call_path():
    """Every model call of a paper module goes through
    ``llm_op._call_and_parse``, which retries and meters it: only
    ``llm_op`` calls ``call_with_retry``; only the clients under ``llm/``
    and the V3 planner seam (``v3_host.client_planner``) call
    ``.complete(``; and ``v2_survey._pmap`` is the one thread pool."""
    allowed = {
        "call_with_retry": lambda m, scope: m == f"{PKG}.operators.llm_op",
        "complete": lambda m, scope: m.startswith(f"{PKG}.llm.") or (
            m == f"{PKG}.pipelines.v3_host" and scope[:1] == ("client_planner",)),
        "ThreadPoolExecutor": lambda m, scope: (
            m == f"{PKG}.pipelines.v2_survey" and scope == ("_pmap",)),
    }
    mods = _modules()
    found = []
    for m in sorted(_closure(mods)):
        for node, scope in _scoped(ast.parse(mods[m].read_text())):
            use = _call_path_use(node)
            if use is not None and not allowed[use](m, scope):
                found.append(f"{m}:{node.lineno} {'.'.join(scope)} {use}")
    assert found == []


def test_one_prompt_choice():
    """The prompt texts are chosen in ``prompts`` only: no module outside
    the package ``prompts`` picks a template by name with
    ``prompts.template`` (the builders format ``prompts.table`` entries)."""
    found = []
    for m, path in sorted(_modules().items()):
        if m == f"{PKG}.prompts" or m.startswith(f"{PKG}.prompts."):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name == "template":
                    found.append(f"{m}:{node.lineno} template")
    assert found == []


def test_survey_group_mode_is_one_cut():
    """``run_v2_survey`` cuts the papers with their grouping in both group
    modes: it never compares ``group_mode``."""
    tree = ast.parse((REPO / PKG / "pipelines" / "v2_survey.py").read_text())
    (fn,) = [n for n in ast.walk(tree)
             if isinstance(n, ast.FunctionDef) and n.name == "run_v2_survey"]
    found = [
        node.lineno for node in ast.walk(fn) if isinstance(node, ast.Compare)
        and any(isinstance(x, ast.Attribute) and x.attr == "group_mode"
                or isinstance(x, ast.Name) and x.id == "group_mode"
                for x in [node.left, *node.comparators])]
    assert found == []
