"""V3 MCP-host planner-loop parity (pipelines/v3_host.py).

Mirrors LLMxMapReduce_V3/src/mcp_host/host.py semantics: decision
parsing (fenced JSON, brace repair, degradation to complete), tool-name
action coercion, state-fed stage arguments, the crawl-results file
handoff group_papers re-reads from disk, interaction rounds, error
containment, and the full topic -> survey run under the deterministic
mock planner."""

import json
import os

import pytest

from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
from llmxmapreduce_spark.pipelines import v3_host as vh


# ------------------------------------------------------------- parsing


def test_parse_planner_response_variants():
    fenced = "```json\n{\"action\": \"complete\", \"result\": \"ok\"}\n```"
    assert vh.parse_planner_response(fenced)["result"] == "ok"
    bare = '{"action": "call_tool", "tool_name": "web_search"}'
    assert vh.parse_planner_response(bare)["tool_name"] == "web_search"
    embedded = 'Thinking... {"action": "request_info", "message": "m"} done'
    assert vh.parse_planner_response(embedded)["action"] == "request_info"
    # brace repair (host.py:533-551)
    assert vh.parse_planner_response(
        '{"action": "complete", "result": "x"')["action"] == "complete"
    assert vh.fix_brace_balance('{"a": {"b": 1}') == '{"a": {"b": 1}}'
    # empty / unparseable degrade to complete, never raise
    assert vh.parse_planner_response("")["action"] == "complete"
    assert vh.parse_planner_response("None")["action"] == "complete"
    assert vh.parse_planner_response("word salad")["action"] == "complete"


def test_search_result_handoff_normalization(tmp_path):
    # host.py:268-290: topic->title, crawl_progress->papers (content->txt),
    # papers without a title dropped
    p = tmp_path / "crawl_results_t.json"
    p.write_text(json.dumps({
        "topic": "quantum widgets",
        "crawl_progress": [
            {"title": "A", "content": "body a", "url": "u1"},
            {"title": "", "content": "dropped", "url": "u2"},
            {"title": "B", "content": "body b", "url": "u3"},
        ]}))
    data = vh.load_search_results(str(p))
    assert data["title"] == "quantum widgets"
    assert [q["title"] for q in data["papers"]] == ["A", "B"]
    assert data["papers"][0]["txt"] == "body a"


# ------------------------------------------------------- loop semantics


def _stub_host(tmp_path, planner, **kw):
    host = vh.V3Host(planner, str(tmp_path), **kw)
    calls = []

    def make(server, name):
        def fn(h, args):
            calls.append((name, dict(args)))
            return {"tool": name}
        return vh.ToolSpec(server, name, f"{name} tool"), fn

    for server, name in vh.CANONICAL_SEQUENCE:
        spec, fn = make(server, name)
        host.register_tool(spec, fn)
    return host, calls


def test_tool_name_action_coercion_and_complete(tmp_path):
    script = iter([
        json.dumps({"action": "web_search", "arguments": {"topic": "t"}}),
        json.dumps({"action": "complete", "result": "done"}),
    ])
    host, calls = _stub_host(tmp_path, lambda conv: next(script))
    out = host.process_task("task")
    assert out["status"] == "completed" and out["result"] == "done"
    assert out["rounds_used"] == 2
    assert calls == [("web_search", {"topic": "t"})]
    assert out["operation_history"][0]["tool_name"] == "web_search"


def test_state_fed_servers_ignore_planner_arguments(tmp_path):
    # host.py:292-315: group/skeleton_init/digest take survey state, not
    # planner args; skeleton_refine gets the hardcoded knobs
    script = iter([
        json.dumps({"action": "call_tool", "server_name": "group_server",
                    "tool_name": "group_papers",
                    "arguments": {"malicious": "x"}}),
        json.dumps({"action": "call_tool",
                    "server_name": "skeleton_refine_server",
                    "tool_name": "skeleton_refine", "arguments": {}}),
        json.dumps({"action": "complete", "result": "fin"}),
    ])
    host, calls = _stub_host(tmp_path, lambda conv: next(script))
    host.process_task("task")
    assert calls[0] == ("group_papers", {})            # args dropped
    assert calls[1] == ("skeleton_refine", dict(vh.REFINE_ARGS))


def test_none_tool_ends_task_and_errors_contained(tmp_path):
    script = iter([
        json.dumps({"action": "call_tool", "server_name": "search_server",
                    "tool_name": "does_not_exist"}),
        json.dumps({"action": "call_tool", "tool_name": None}),
    ])
    host, _ = _stub_host(tmp_path, lambda conv: next(script))
    out = host.process_task("task")
    assert out["status"] == "completed"
    assert out["rounds_used"] == 2
    assert out["operation_history"][0]["action"] == "error"


def test_max_rounds_reached(tmp_path):
    host, _ = _stub_host(
        tmp_path,
        lambda conv: json.dumps({"action": "request_info", "message": "?"}),
        max_rounds=3)
    out = host.process_task("task")
    assert out["status"] == "max_rounds_reached"
    assert out["rounds_used"] == 3
    assert len(out["operation_history"]) == 3


def test_interaction_rounds_bounded(tmp_path):
    feedback = iter(["make it shorter", "tighter", "more", "even more"])
    script = iter([
        json.dumps({"action": "interaction",
                    "server_name": "skeleton_refine_server"}),
        json.dumps({"action": "complete", "result": "fin"}),
    ])
    host, _ = _stub_host(tmp_path, lambda conv: next(script),
                         max_interaction_rounds=3,
                         feedback_fn=lambda s: next(feedback))
    host.state["all_skeleton"] = "# outline"
    out = host.process_task("task")
    op = out["operation_history"][0]
    assert op["action"] == "interact"
    assert op["interaction_rounds"] == 3               # bounded, not 4
    assert host.state["interaction_feedback"] == [
        "make it shorter", "tighter", "more"]


def test_system_prompt_lists_servers_and_param_markers(tmp_path):
    host, _ = _stub_host(tmp_path, lambda conv: "None")
    host.register_tool(
        vh.ToolSpec("search_server", "extra", "extra tool",
                    [vh.ToolParam("topic", required=True,
                                  description="the topic"),
                     vh.ToolParam("top_n", "integer")]),
        lambda h, a: {})
    sp = host.system_prompt()
    assert "**Search Server**" in sp and "**Writing Server**" in sp
    assert "- topic: string (must) - the topic" in sp
    assert "- top_n: integer (optional)" in sp


def test_state_message_truncates_history(tmp_path):
    host, _ = _stub_host(tmp_path, lambda conv: "None")
    host.operation_history = [{
        "round": 1, "action": "call_tool", "tool_name": "crawl_urls",
        "result": {"blob": "x" * 500}}]
    msg = host._current_state("task", "", 2)
    line = [ln for ln in msg.splitlines() if "crawl_urls" in ln][0]
    assert line.endswith("...") and len(line) < 300


# ---------------------------------------------------- e2e with Spark


def test_full_host_run_topic_to_survey(spark, tmp_path):
    def fake_search(query):
        return [{"url": f"https://x.test/{abs(hash(query)) % 100}/{i}",
                 "title": f"t{i}", "snippet": f"snippet {i} about {query}"}
                for i in range(4)]

    def fake_fetch(url):
        n = int(url.rsplit("/", 1)[-1])
        body = " ".join(f"word{i} the of and in" for i in range(40 + 10 * n))
        return f"# Page {n}\n{body}"

    topic = "graph neural networks"
    host = vh.make_spark_host(
        spark, str(tmp_path), vh.MockPlanner(topic), MockSurveyClient,
        lambda: fake_search, lambda: fake_fetch,
        top_n=6, snippet_threshold=0, similarity_threshold=0,
        min_length=50, max_length=100000)
    out = host.process_task(f"Write a survey about {topic}")

    assert out["status"] == "completed"
    tools_run = [op["tool_name"] for op in out["operation_history"]
                 if op["action"] == "call_tool"]
    assert tools_run == [t for _s, t in vh.CANONICAL_SEQUENCE]

    # the handoff file exists in the reference's shape
    handoff = vh.search_result_path(str(tmp_path), topic)
    data = json.loads(open(handoff).read())
    assert data["topic"] == topic and data["crawl_progress"]

    # stage snapshots persisted (host.py:319-322)
    for t in ("group_papers", "skeleton_init", "digest_generation",
              "skeleton_refine"):
        assert os.path.exists(
            os.path.join(str(tmp_path), topic, f"{t}_result.json"))

    # the written survey has real content
    final = json.loads(open(host.state["output_file"]).read())
    assert final["title"] and len(final["content"]) > 100

    # determinism: the mock planner + mock LLM make the transcript stable
    host2 = vh.make_spark_host(
        spark, str(tmp_path / "r2"), vh.MockPlanner(topic),
        MockSurveyClient, lambda: fake_search, lambda: fake_fetch,
        top_n=6, snippet_threshold=0, similarity_threshold=0,
        min_length=50, max_length=100000)
    out2 = host2.process_task(f"Write a survey about {topic}")
    final2 = json.loads(open(host2.state["output_file"]).read())
    assert final2["content"] == final["content"]


def test_client_planner_adapter(tmp_path):
    """client_planner flattens the conversation for a single-prompt
    LLMClient; a client that answers non-JSON degrades to a graceful
    complete (the reference's parse fallback), never crashes the loop."""
    seen = []

    class ScriptedClient:
        def complete(self, prompt):
            seen.append(prompt)
            if len(seen) == 1:
                return ('{"action": "call_tool", "server_name": '
                        '"search_server", "tool_name": "web_search", '
                        '"arguments": {"topic": "t"}}')
            return "free-form prose, not a decision"

    host, calls = _stub_host(tmp_path, vh.client_planner(ScriptedClient()))
    out = host.process_task("task")
    assert calls == [("web_search", {"topic": "t"})]
    assert out["status"] == "completed" and out["rounds_used"] == 2
    # the flattened prompt carries the tool catalog + the state message
    assert "[SYSTEM]" in seen[0] and "web_search" in seen[0]
    assert "[USER]" in seen[0]


def test_client_planner_truncation_keeps_system_and_newest():
    class Echo:
        def complete(self, prompt):
            return prompt

    conv = [{"role": "system", "content": "CATALOG"},
            {"role": "user", "content": "old " * 2000},
            {"role": "assistant", "content": "mid"},
            {"role": "user", "content": "NEWEST STATE"}]
    prompt = vh.client_planner(Echo(), max_chars=600)(conv)
    assert "CATALOG" in prompt and "NEWEST STATE" in prompt
    assert "old old" not in prompt            # stale middle dropped


def test_load_unified_config_maps_reference_shape(tmp_path):
    cfg = {
        "api_keys": {"search_engines": {
            "serpapi_key": "your_serpapi_key",       # placeholder = absent
            "bing_subscription_key": "real-key-123"}},
        "models": {"host_llm_model": "m"},
        "search_settings": {"default_engine": "bing",
                            "default_each_query_result": 7,
                            "default_top_n": 70,
                            "default_similarity_threshold": 30,
                            "default_min_length": 100,
                            "default_max_length": 20000},
        "analyse_settings": {"max_interaction_rounds": 3,
                             "llm_host_max_rounds": 20},
        "timeout_settings": {"llm_request_timeout": 30},
    }
    p = tmp_path / "unified_config.json"
    p.write_text(json.dumps(cfg))
    got = vh.load_unified_config(str(p))
    assert got["max_rounds"] == 20
    assert got["top_n"] == 70 and got["max_length"] == 20000
    assert got["connector"]["serpapi_key"] is None       # placeholder
    assert got["connector"]["bing_subscription_key"] == "real-key-123"
    assert got["connector"]["engine"] == "bing"
    assert got["models"]["host_llm_model"] == "m"
    # defaults when sections are missing
    empty = tmp_path / "empty.json"
    empty.write_text("{}")
    d = vh.load_unified_config(str(empty))
    assert d["max_rounds"] == 10 and d["min_length"] == 100


def test_crawl_handoff_distributed_and_bounded(spark, tmp_path):
    """Round-10 (judge task #6): the crawl→group handoff writes FULL
    page texts to parquet executor-side; the driver-side JSON
    transcript carries only a capped preview — so no full-corpus-text
    collect exists in the host loop — and group_papers prefers the
    parquet (full text) while a JSON-only directory still loads via the
    load_search_results fallback."""
    def fake_search(query):
        return [{"url": f"https://x.test/7/{i}", "title": f"t{i}",
                 "snippet": f"snippet {i} about {query}"}
                for i in range(4)]

    def fake_fetch(url):
        n = int(url.rsplit("/", 1)[-1])
        body = " ".join(f"word{i} the of and in" for i in range(200 + n))
        return f"# Page {n}\n{body}"

    topic = "handoff check"
    host = vh.make_spark_host(
        spark, str(tmp_path), vh.MockPlanner(topic), MockSurveyClient,
        lambda: fake_search, lambda: fake_fetch,
        top_n=4, snippet_threshold=0, similarity_threshold=0,
        min_length=50, max_length=100000, txt_preview_chars=60)
    out = host.process_task(f"Write a survey about {topic}")
    assert out["status"] == "completed"

    # parquet handoff holds the FULL texts
    from pyspark.sql import functions as F

    pq = vh.crawl_parquet_path(str(tmp_path), topic)
    full = spark.read.parquet(pq)
    lens = [r.n for r in full.select(
        F.length("txt").alias("n")).collect()]
    assert lens and max(lens) > 60

    # JSON transcript is bounded: every content <= the cap, long pages
    # flagged truncated
    data = json.loads(open(
        vh.search_result_path(str(tmp_path), topic)).read())
    assert data["parquet_path"] == pq
    assert all(len(p["content"]) <= 60 for p in data["crawl_progress"])
    assert any(p["content_truncated"] for p in data["crawl_progress"])

    # the group stage consumed the FULL texts (not the preview): the
    # digest inputs downstream would differ otherwise — assert via the
    # group snapshot paper count matching the parquet row count
    snap = json.loads(open(os.path.join(
        str(tmp_path), topic, "group_papers_result.json")).read())
    assert snap["paper_count"] == full.count() > 0

    # JSON-only fallback: a directory with the JSON but no parquet
    # still groups (the reference's own file, or a pre-r10 run)
    topic2 = "fallback check"
    host2 = vh.make_spark_host(
        spark, str(tmp_path / "fb"), vh.MockPlanner(topic2),
        MockSurveyClient, lambda: fake_search, lambda: fake_fetch,
        top_n=4, snippet_threshold=0, similarity_threshold=0,
        min_length=50, max_length=100000)
    p = vh.search_result_path(str(tmp_path / "fb"), topic2)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        json.dump({"topic": topic2, "crawl_progress": [
            {"title": "a", "url": "u1", "content": "full text one " * 20,
             "similarity": 90},
            {"title": "b", "url": "u2", "content": "full text two " * 20,
             "similarity": 80}]}, f)
    host2.state["topic"] = topic2
    spec_fn = host2._tools["group_papers"]
    res = spec_fn[1](host2, {})
    assert res["paper_count"] == 2


def test_host_close_releases_checkpoints(spark, tmp_path):
    """r13 (found by tools/profile_v3_host.py): every processed task
    pinned ~6 localCheckpoint frames for the session — the stage tools
    carry checkpointed papers/digests/outlines in host.state and nothing
    released them.  close() must return the registry to its pre-task
    size while leaving caller caches untouched (the retention.py
    discipline; template: tests/test_pagerank.py)."""
    sc = spark.sparkContext
    caller = spark.range(10).cache()
    assert caller.count() == 10          # force cache registration

    def fake_search(query):
        return [{"url": f"https://x.test/{abs(hash(query)) % 100}/{i}",
                 "title": f"t{i}", "snippet": f"snippet {i} about {query}"}
                for i in range(4)]

    def fake_fetch(url):
        n = int(url.rsplit("/", 1)[-1])
        body = " ".join(f"word{i} the of and in" for i in range(40 + 10 * n))
        return f"# Page {n}\n{body}"

    topic = "retention check"
    host = vh.make_spark_host(
        spark, str(tmp_path), vh.MockPlanner(topic), MockSurveyClient,
        lambda: fake_search, lambda: fake_fetch,
        top_n=6, snippet_threshold=0, similarity_threshold=0,
        min_length=50, max_length=100000)
    out = host.process_task(f"Write a survey about {topic}")
    assert out["status"] == "completed"
    created = set(host._created_rdd_ids)
    assert created                         # the run did pin frames
    host.close()
    try:
        # every tracked id is gone from the JVM registry...
        still = {rid for rid in created
                 if sc._jsc.getPersistentRDDs().containsKey(rid)}
        assert still == set(), f"close() left blocks pinned: {still}"
        assert host._created_rdd_ids == set() and host.state == {}
        # ...and the caller's cache (registered BEFORE the host ran,
        # outside every tool window) survived and is still readable
        assert caller.count() == 10
    finally:
        caller.unpersist()


def test_host_close_keeps_caller_cache_made_in_a_tool(spark, tmp_path):
    """A caller cache first materialized inside a tool call is the
    caller's, not the host's: close() releases only the checkpoints the
    tools cut, and the cache stays registered and readable."""
    from llmxmapreduce_spark.retention import pinned_ids

    sc = spark.sparkContext
    before = pinned_ids(sc)
    caller = spark.range(10).cache()     # registers at first materialization

    def fake_search(query):
        return [{"url": f"https://x.test/{abs(hash(query)) % 100}/{i}",
                 "title": f"t{i}", "snippet": f"snippet {i} about {query}"}
                for i in range(4)]

    def fake_fetch(url):
        n = int(url.rsplit("/", 1)[-1])
        body = " ".join(f"word{i} the of and in" for i in range(40 + 10 * n))
        return f"# Page {n}\n{body}"

    topic = "caller cache check"
    sequence = [("search_server", "warm_caller_cache"), *vh.CANONICAL_SEQUENCE]
    host = vh.make_spark_host(
        spark, str(tmp_path), vh.MockPlanner(topic, sequence),
        MockSurveyClient, lambda: fake_search, lambda: fake_fetch,
        top_n=6, snippet_threshold=0, similarity_threshold=0,
        min_length=50, max_length=100000)
    host.register_tool(
        vh.ToolSpec("search_server", "warm_caller_cache",
                    "Materialize the embedder's own cached frame."),
        lambda h, args: {"rows": caller.count()})
    out = host.process_task(f"Write a survey about {topic}")
    assert out["status"] == "completed"
    tools_run = [op["tool_name"] for op in out["operation_history"]
                 if op["action"] == "call_tool"]
    assert tools_run == [t for _s, t in sequence]
    try:
        host.close()
        left = pinned_ids(sc) - before
        assert len(left) == 1, f"expected only the caller cache, got {left}"
        assert caller.count() == 10
    finally:
        caller.unpersist()
    assert pinned_ids(sc) - before == set()
