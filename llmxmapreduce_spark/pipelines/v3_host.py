"""V3 MCP-host planner-loop parity layer.

The reference's third generation wraps the V2 stages in MCP tool servers
and drives them with an LLM *planner* (the "host"):

- ``LLMxMapReduce_V3/src/mcp_host/host.py:31-120`` — host construction:
  per-server tool registry, ``llm_host_max_rounds`` (default 10),
  ``max_interaction_rounds`` (3), dated ``output/<YYYYMMDD>`` base dir.
- ``host.py:207-430`` — the decision loop: each round the planner
  returns a JSON decision; a bare tool name is coerced to ``call_tool``;
  a ``None`` tool or a ``complete`` action ends the task; stage servers
  receive the SURVEY STATE from the host rather than planner-authored
  arguments; ``skeleton_refine_server`` gets the host's hardcoded
  convolution knobs; ``request_info`` and ``interaction`` (human
  feedback, bounded rounds) are recorded in the operation history;
  per-round errors are recorded and the loop continues.
- ``host.py:460-531`` — system prompt from the tool schemas and a
  current-state message with history summaries truncated to 200 chars.
- ``host.py:533-597`` — planner-response parsing: fenced-JSON extraction,
  brace-balance repair, unparseable → ``complete``.
- ``llm_search_mcp_server.py:1031-1042`` + ``host.py:268-290`` — the
  FILE-PATH HANDOFF CONTRACT: search tools return counts plus the path
  ``<base>/<topic>/search/crawl_results_<topic>.json`` (never the page
  contents); ``group_papers`` re-reads that file from disk, renaming
  ``topic``→``title`` and ``crawl_progress``→``papers`` (each paper's
  ``content``→``txt``) and dropping papers without a title.

Spark-first re-expression: the planner loop is DRIVER-SIDE control flow
(it sequences stages; there is nothing to distribute), while every stage
it can invoke is one of this repo's existing distributed pipelines
(`search_crawl`, `v2_survey`).  The host holds stage results as
DataFrames between tool calls — the "survey object" of the reference —
and only serializes at the reference's own file boundaries.  The planner
is a plain callable ``conversation -> str`` so a deterministic
``MockPlanner`` (tests) and a real LLM client share one loop.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from typing import Any, Callable

from llmxmapreduce_spark.retention import checkpoint, owned, release

__all__ = [
    "ToolParam",
    "ToolSpec",
    "V3Host",
    "MockPlanner",
    "client_planner",
    "load_unified_config",
    "fix_brace_balance",
    "parse_planner_response",
    "search_result_path",
    "load_search_results",
    "make_spark_host",
    "CANONICAL_SEQUENCE",
]

# server display order in the system prompt (host.py:489-497)
SERVER_ORDER = [
    "search_server",
    "group_server",
    "skeleton_init_server",
    "digest_server",
    "skeleton_refine_server",
    "writing_server",
]

# the stage servers whose arguments the HOST supplies from survey state,
# ignoring whatever the planner wrote (host.py:292-299)
STATE_FED_SERVERS = {"group_server", "skeleton_init_server", "digest_server"}

# host.py:300-310 — skeleton_refine_server's hardcoded knobs
REFINE_ARGS = {
    "convolution_layer": "6",
    "convolution_kernel_size": "3",
    "convolution_result_num": "10",
    "top_k": "6",
    "self_refine_count": "0",
    "self_refine_best_of": "3",
}

# tools whose results are survey-state snapshots persisted to
# <base>/<title>/<tool>_result.json (host.py:319-322)
STATE_SNAPSHOT_TOOLS = {
    "group_papers", "skeleton_init", "digest_generation", "skeleton_refine",
}

# the canonical full-run tool order (start.sh topic description ->
# finished survey); MockPlanner walks it
CANONICAL_SEQUENCE = [
    ("search_server", "topic_expansion"),
    ("search_server", "generate_search_queries"),
    ("search_server", "web_search"),
    ("search_server", "crawl_urls"),
    ("group_server", "group_papers"),
    ("skeleton_init_server", "skeleton_init"),
    ("digest_server", "digest_generation"),
    ("skeleton_refine_server", "skeleton_refine"),
    ("writing_server", "writing"),
]


@dataclass
class ToolParam:
    name: str
    type: str = "string"
    required: bool = False
    description: str = ""


@dataclass
class ToolSpec:
    server: str
    name: str
    description: str = ""
    params: list[ToolParam] = field(default_factory=list)


def fix_brace_balance(json_str: str) -> str:
    """host.py:533-551 — append missing closing braces / trim extras."""
    if not json_str:
        return json_str
    diff = json_str.count("{") - json_str.count("}")
    if diff > 0:
        return json_str + "}" * diff
    if diff < 0:
        return json_str[:diff]
    return json_str


def parse_planner_response(response: str) -> dict[str, Any]:
    """host.py:553-597 — planner reply → decision dict.

    Tries, in order: fenced ```json block, a whole-string JSON object, the
    first brace-balanced object substring; applies brace repair and a
    newline-escape retry; empty/'none' replies and unparseable text both
    degrade to ``complete`` (the reference never crashes the loop on a
    malformed planner reply)."""
    cleaned = (response or "").strip()
    if not cleaned or cleaned.lower() in ("none", "null"):
        return {"action": "complete",
                "result": "Task completed - planner returned no action"}

    candidate = None
    m = re.search(r"```(?:json|mermaid|yaml|yml)?\s*(.*?)\s*```",
                  cleaned, re.DOTALL)
    if m:
        candidate = m.group(1).strip()
    if not candidate and cleaned.startswith("{") and cleaned.endswith("}"):
        candidate = cleaned
    if not candidate:
        m = re.search(r"\{[^{}]*(?:\{[^{}]*\}[^{}]*)*\}", cleaned, re.DOTALL)
        if m:
            candidate = m.group(0)

    if candidate:
        candidate = fix_brace_balance(candidate)
        try:
            return json.loads(candidate)
        except json.JSONDecodeError:
            try:
                return json.loads(candidate.replace("\n", "\\n"))
            except json.JSONDecodeError:
                pass
    return {"action": "complete",
            "result": f"Task completed - unparseable planner reply: "
                      f"{cleaned[:100]}"}


def search_result_path(base_dir: str, topic: str) -> str:
    """The handoff path both sides agree on (host.py:201-205 /
    llm_search_mcp_server.py:1031-1042):
    ``<base>/<topic>/search/crawl_results_<topic>.json``."""
    return os.path.join(base_dir, topic, "search",
                        f"crawl_results_{topic}.json")


def crawl_parquet_path(base_dir: str, topic: str) -> str:
    """The DISTRIBUTED half of the crawl→group handoff (round-10): full
    page texts as parquet next to the reference-shape JSON transcript."""
    return os.path.join(base_dir, topic, "search",
                        f"crawl_results_{topic}.parquet")


def load_search_results(path: str) -> dict[str, Any]:
    """group_papers' read side of the handoff (host.py:268-290):
    ``topic``→``title``, ``crawl_progress``→``papers`` with each paper's
    ``content`` carried as ``txt``; papers without a title are dropped."""
    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    if "topic" in data:
        data["title"] = data["topic"]
    if "crawl_progress" in data:
        data["papers"] = data["crawl_progress"]
    papers = []
    for p in data.get("papers", []):
        if not p.get("title"):
            continue
        q = dict(p)
        q.setdefault("txt", q.get("content", ""))
        papers.append(q)
    data["papers"] = papers
    return data


class V3Host:
    """The planner loop.  ``planner`` is ``conversation -> str`` where
    conversation is the OpenAI-style message list the reference feeds its
    host LLM (host.py:437-448: system + state on round 1, one new state
    message per later round, assistant replies appended in between).

    ``feedback_fn`` plays the human in ``interaction`` rounds
    (host.py:377-418): called with the provided system output, returns
    the operator's feedback string; the interaction sub-loop runs at most
    ``max_interaction_rounds`` times.  ``None`` auto-accepts.
    """

    def __init__(
        self,
        planner: Callable[[list[dict[str, str]]], str],
        base_dir: str,
        max_rounds: int = 10,
        max_interaction_rounds: int = 3,
        feedback_fn: Callable[[str], str] | None = None,
    ) -> None:
        self.planner = planner
        self.base_dir = base_dir
        self.max_rounds = max_rounds
        self.max_interaction_rounds = max_interaction_rounds
        self.feedback_fn = feedback_fn
        self._tools: dict[str, tuple[ToolSpec, Callable]] = {}
        self.state: dict[str, Any] = {}          # the "survey" the host carries
        self.operation_history: list[dict[str, Any]] = []
        self.conversation_history: list[dict[str, str]] = []
        # Checkpoint retention: _run_tool collects the ids of the
        # checkpoints each tool call cuts (retention.owned) and close()
        # releases them; make_spark_host sets _spark.
        self._spark = None
        self._created_rdd_ids: set = set()

    # ------------------------------------------------------------ registry

    def register_tool(self, spec: ToolSpec,
                      fn: Callable[["V3Host", dict], dict]) -> None:
        if spec.server not in SERVER_ORDER:
            raise ValueError(f"unknown server {spec.server!r}")
        self._tools[spec.name] = (spec, fn)

    @property
    def tool_names(self) -> list[str]:
        return list(self._tools)

    # ------------------------------------------------------ prompt surface

    def system_prompt(self) -> str:
        """host.py:460-500 — numbered server sections, each tool rendered
        as ``- name: description`` plus a ``(must)``/``(optional)``
        parameter list."""
        sections = []
        for i, server in enumerate(SERVER_ORDER, 1):
            lines = []
            for spec, _fn in self._tools.values():
                if spec.server != server:
                    continue
                params = [
                    f"  - {p.name}: {p.type}"
                    f"{' (must)' if p.required else ' (optional)'}"
                    f" - {p.description}"
                    for p in spec.params
                ]
                params_str = "\n".join(params) if params else "  non-parameters"
                lines.append(f"- {spec.name}: {spec.description}\n{params_str}")
            title = server.replace("_", " ").title()
            sections.append(f"{i}.  **{title}**: \n" + "\n\n".join(lines))
        return (
            "You are an intelligent task-handling assistant capable of "
            "using multiple tools to accomplish the user's tasks.\n\n"
            "Available tools:\n" + "\n".join(sections) +
            "\n\nRespond with a JSON decision: {\"action\": \"call_tool\", "
            "\"server_name\": ..., \"tool_name\": ..., \"arguments\": {...}}"
            " or {\"action\": \"complete\", \"result\": ...}."
        )

    def _current_state(self, task_description: str, context: str,
                       round_num: int) -> str:
        """host.py:502-531 — task + round counter + history with result
        summaries truncated to 200 chars."""
        parts = [f"Task description:{task_description}"]
        if context:
            parts.append(f"Task context:{context}")
        parts.append(f"Rounds: {round_num}/{self.max_rounds}")
        if self.operation_history:
            parts.append("\ncontext history:")
            for i, op in enumerate(self.operation_history, 1):
                rnd = op.get("round", i)
                action = op.get("action", "unknown")
                if action == "call_tool":
                    summary = str(op.get("result", {}))
                    if len(summary) > 200:
                        summary = summary[:200] + "..."
                    parts.append(f"  {rnd}. Use tool: "
                                 f"{op.get('tool_name', 'unknown')}, "
                                 f"result: {summary}")
                elif action == "request_info":
                    parts.append(f"  {rnd}. Request: {op.get('message', '')}")
                elif action == "error":
                    parts.append(f"  {rnd}. Error: {op.get('error', '')}")
        else:
            parts.append("\n History: none")
        parts.append("\nPlease analyze the current status and decide the "
                     "next step:")
        return "\n".join(parts)

    # ------------------------------------------------------------ the loop

    def _decide(self, task: str, context: str, round_num: int) -> dict:
        state_msg = self._current_state(task, context, round_num)
        if round_num == 1:
            self.conversation_history = [
                {"role": "system", "content": self.system_prompt()},
                {"role": "user", "content": state_msg},
            ]
        else:
            self.conversation_history.append(
                {"role": "user", "content": state_msg})
        reply = self.planner(self.conversation_history)
        self.conversation_history.append(
            {"role": "assistant", "content": reply})
        return parse_planner_response(reply)

    def process_task(self, task_description: str,
                     context: str = "") -> dict[str, Any]:
        """host.py:207-430 — returns ``{"status", "result", "rounds_used",
        "operation_history"}``."""
        self.operation_history = []
        for round_num in range(1, self.max_rounds + 1):
            try:
                decision = self._decide(task_description, context, round_num)
            except Exception as e:  # noqa: BLE001 — loop must survive
                self.operation_history.append(
                    {"round": round_num, "action": "error", "error": str(e)})
                continue
            if not decision:
                return {"status": "completed",
                        "result": "Task ended - No decision from planner",
                        "rounds_used": round_num,
                        "operation_history": self.operation_history}

            action = decision.get("action")
            # bare tool name as the action (host.py:224-231)
            if action in self._tools:
                decision = {"action": "call_tool", "tool_name": action,
                            "server_name": self._tools[action][0].server,
                            "arguments": decision.get("arguments", {})}
                action = "call_tool"

            if action == "call_tool" and decision.get("tool_name") is None:
                return {"status": "completed",
                        "result": "Task completed - planner indicated no "
                                  "further tools needed",
                        "rounds_used": round_num,
                        "operation_history": self.operation_history}

            if action == "complete":
                return {"status": "completed",
                        "result": decision.get("result", "Task completed"),
                        "rounds_used": round_num,
                        "operation_history": self.operation_history}

            try:
                if action == "call_tool":
                    self._run_tool(round_num, decision)
                elif action == "request_info":
                    self.operation_history.append({
                        "round": round_num, "action": "request_info",
                        "message": decision.get("message",
                                                "Need more information")})
                elif action == "interaction":
                    self._run_interaction(round_num, decision)
                else:
                    # unknown action: warn via history, keep looping
                    self.operation_history.append({
                        "round": round_num, "action": "error",
                        "error": f"Unknown action: {action}"})
            except Exception as e:  # noqa: BLE001 — host.py:420-428
                self.operation_history.append(
                    {"round": round_num, "action": "error", "error": str(e)})
        return {"status": "max_rounds_reached",
                "result": "Task processing reached maximum rounds limit",
                "rounds_used": self.max_rounds,
                "operation_history": self.operation_history}

    def close(self) -> None:
        """Release every checkpoint block this host's tool calls pinned
        (the planner loop's per-run residue: papers/digests/outlines
        checkpoints the stage tools carry in ``state``).  Call when the
        task's driver-side outputs (result strings, transcript, files
        on disk) have been taken — AFTER close(), the DataFrames still
        referenced from ``state`` are unreadable (truncated lineage),
        so ``state`` is cleared too.  Without this, a long-lived
        session (bench loop, multi-topic service) pins ~6 corpus-shaped
        frames per processed task forever.  Caller caches, even ones first
        materialized inside a tool call, are never released."""
        if self._spark is not None and self._created_rdd_ids:
            release(self._spark.sparkContext, self._created_rdd_ids)
            self._created_rdd_ids = set()
        self.state.clear()

    # ------------------------------------------------------- tool dispatch

    def _run_tool(self, round_num: int, decision: dict) -> None:
        tool_name = decision.get("tool_name")
        if not tool_name or tool_name not in self._tools:
            self.operation_history.append({
                "round": round_num, "action": "error",
                "error": f"Tool not registered: {tool_name}"})
            return
        spec, fn = self._tools[tool_name]

        # argument sourcing mirrors host.py:292-315: stage servers are fed
        # from the host-held survey state (the tool fns read self.state);
        # skeleton_refine gets the hardcoded knobs; everything else takes
        # the planner's arguments
        if spec.server in STATE_FED_SERVERS:
            arguments: dict[str, Any] = {}
        elif spec.server == "skeleton_refine_server":
            arguments = dict(REFINE_ARGS)
        elif spec.server == "writing_server":
            title = self.state.get("survey_title", "survey")
            arguments = {"output_file": os.path.join(
                self.base_dir, title, f"{title}.json")}
        else:
            arguments = decision.get("arguments", {}) or {}

        with owned() as ids:
            try:
                result = fn(self, arguments)
            finally:
                self._created_rdd_ids |= ids

        if tool_name in STATE_SNAPSHOT_TOOLS:
            title = self.state.get("survey_title", "survey")
            snap = os.path.join(self.base_dir, title,
                                f"{tool_name}_result.json")
            os.makedirs(os.path.dirname(snap), exist_ok=True)
            with open(snap, "w", encoding="utf-8") as f:
                json.dump(result, f, ensure_ascii=False, default=str)

        self.operation_history.append({
            "round": round_num, "action": "call_tool",
            "tool_name": tool_name, "result": result})

    def _run_interaction(self, round_num: int, decision: dict) -> None:
        """host.py:377-418 — surface the latest stage output to the human,
        loop feedback up to max_interaction_rounds.  The reference only
        supports interaction after search / digest / skeleton_refine."""
        server = decision.get("server_name", "")
        if server == "search_server":
            provided = str(self.state.get("last_search_result", ""))
        elif server == "digest_server":
            provided = str(self.state.get("raw_skeleton", ""))
        elif server == "skeleton_refine_server":
            provided = str(self.state.get("all_skeleton", ""))
        else:
            self.operation_history.append({
                "round": round_num, "action": "error",
                "error": f"Interaction unsupported for server: {server}"})
            return
        rounds = 0
        while self.feedback_fn is not None \
                and rounds < self.max_interaction_rounds:
            feedback = self.feedback_fn(provided)
            rounds += 1
            if not feedback or feedback.strip().lower() in (
                    "ok", "yes", "y", "done", ""):
                break
            # the reference routes feedback through the interaction LLM;
            # deterministic counterpart: record it for the next stage
            self.state.setdefault("interaction_feedback", []).append(feedback)
        self.operation_history.append({
            "round": round_num, "action": "interact",
            "interaction_rounds": rounds,
            "interaction_result": "Please go to the next step!"})


def load_unified_config(path: str) -> dict[str, Any]:
    """Parse the reference's ``config/unified_config.json`` into the
    knobs this host understands, so a V3 user's existing config file
    drives :func:`make_spark_host` directly.  Field mapping (reference
    host.py:40-44 + search server SERVER_CONFIG usage):

    - ``analyse_settings.llm_host_max_rounds`` → ``max_rounds`` (host
      default 10; shipped config 20)
    - ``analyse_settings.max_interaction_rounds`` → interaction bound
    - ``search_settings.default_top_n / default_similarity_threshold /
      default_min_length / default_max_length`` → the crawl filter knobs
    - ``search_settings.default_engine / default_each_query_result`` and
      ``api_keys.search_engines.*`` → kwargs for
      :mod:`sources.connectors` adapters (key PRESENCE only — the values
      stay in the caller's config; placeholders like 'your_serpapi_key'
      are treated as absent)

    Model names / infer types / timeouts are out of engine scope (the
    planner and stage clients are injected callables here) and pass
    through untouched under ``"models"`` / ``"timeout_settings"``."""
    with open(path, encoding="utf-8") as f:
        cfg = json.load(f)
    search = cfg.get("search_settings", {})
    analyse = cfg.get("analyse_settings", {})
    keys = cfg.get("api_keys", {}).get("search_engines", {})

    def real(v):  # the shipped config ships 'your_*_key' placeholders
        return v if isinstance(v, str) and v and not v.startswith("your_") \
            else None

    return {
        "max_rounds": analyse.get("llm_host_max_rounds", 10),
        "max_interaction_rounds": analyse.get("max_interaction_rounds", 3),
        "top_n": search.get("default_top_n", 70),
        "similarity_threshold": search.get("default_similarity_threshold",
                                           30),
        "min_length": search.get("default_min_length", 100),
        "max_length": search.get("default_max_length", 20_000),
        "connector": {
            "engine": search.get("default_engine", "google"),
            "each_query_result": search.get("default_each_query_result", 10),
            "serpapi_key": real(keys.get("serpapi_key")),
            "bing_subscription_key": real(keys.get("bing_subscription_key")),
        },
        "models": cfg.get("models", {}),
        "timeout_settings": cfg.get("timeout_settings", {}),
    }


def client_planner(client, max_chars: int = 60_000):
    """Adapt an :class:`~llmxmapreduce_spark.llm.client.LLMClient`
    (single-prompt ``complete``) to the host's ``conversation -> str``
    planner seam — the deployment counterpart of MockPlanner (the
    reference feeds its host LLM the same role-tagged message list via
    RequestWrapper, host.py:437-448).  The conversation is flattened to
    a role-tagged transcript, head-truncated to ``max_chars`` keeping
    the SYSTEM message (the tool catalog) plus the newest turns — the
    state message already summarizes older history, so dropping stale
    middle turns loses nothing the loop depends on."""
    def plan(conversation: list[dict[str, str]]) -> str:
        system = [m for m in conversation if m["role"] == "system"]
        rest = [m for m in conversation if m["role"] != "system"]
        head = "\n\n".join(f"[{m['role'].upper()}]\n{m['content']}"
                           for m in system)
        tail_msgs: list[str] = []
        used = len(head)
        for m in reversed(rest):
            block = f"[{m['role'].upper()}]\n{m['content']}"
            if used + len(block) > max_chars and tail_msgs:
                break
            tail_msgs.append(block)
            used += len(block)
        prompt = "\n\n".join([head, *reversed(tail_msgs)])
        return client.complete(prompt)
    return plan


class MockPlanner:
    """Deterministic planner walking :data:`CANONICAL_SEQUENCE` then
    completing — the mock LLM host.  Emits fenced-JSON replies (so the
    loop exercises the reference's parse path) and, for variety pinned by
    tests, the ``group_papers`` step as a BARE TOOL NAME action
    (exercising host.py:224-231 coercion).  Decides its position from the
    conversation: one assistant turn per prior decision."""

    def __init__(self, topic: str,
                 sequence: list[tuple[str, str]] | None = None) -> None:
        self.topic = topic
        self.sequence = sequence or CANONICAL_SEQUENCE

    def __call__(self, conversation: list[dict[str, str]]) -> str:
        step = sum(1 for m in conversation if m["role"] == "assistant")
        if step >= len(self.sequence):
            return json.dumps({
                "action": "complete",
                "result": f"Survey for '{self.topic}' finished"})
        server, tool = self.sequence[step]
        if tool == "group_papers":
            return json.dumps({"action": "group_papers", "arguments": {}})
        body = json.dumps({
            "action": "call_tool", "server_name": server,
            "tool_name": tool, "arguments": {"topic": self.topic}})
        return f"```json\n{body}\n```"


# ---------------------------------------------------------------------------
# Spark tool bindings: the six stage servers over this repo's pipelines
# ---------------------------------------------------------------------------


def make_spark_host(
    spark,
    base_dir: str,
    planner: Callable[[list[dict[str, str]]], str],
    client_factory,
    search_fn_factory,
    fetch_fn_factory,
    cfg=None,
    top_n: int = 10,
    snippet_threshold: int = 0,
    similarity_threshold: int = 0,
    min_length: int = 10,
    max_length: int = 1_000_000,
    max_rounds: int = 12,
    feedback_fn: Callable[[str], str] | None = None,
    txt_preview_chars: int = 20_000,
) -> V3Host:
    """A :class:`V3Host` with the reference's nine tools registered over
    this repo's distributed stages.  Search tools return counts + file
    paths (never contents — the documented MCP contract); ``group_papers``
    re-reads the crawl results from disk (the handoff the reference
    performs at host.py:268-290); the V2 stage tools carry DataFrames in
    ``host.state`` between calls.

    The crawl→group handoff is DISTRIBUTED (round-10, judge task #6):
    ``crawl_urls`` writes the full page texts to parquet executor-side
    — the driver never collects a page body — and ``group_papers``
    reads that parquet back; the reference-shape JSON transcript is
    still written next to it, but each page's ``content`` is capped at
    ``txt_preview_chars``, so the only driver-side crawl payload is
    bounded by top_n × the cap.  A JSON file WITHOUT the parquet
    sibling (the reference's own output, or pre-r10 runs) still loads
    through the ``load_search_results`` fallback."""
    from pyspark.sql import functions as F

    from llmxmapreduce_spark.operators import crawl_ops
    from llmxmapreduce_spark.operators.topk import over_fetch
    from llmxmapreduce_spark.pipelines import search_crawl as sc
    from llmxmapreduce_spark.pipelines import v2_survey as v2
    from llmxmapreduce_spark.sources import crawl as crawl_src

    cfg = cfg or v2.V2Config()
    host = V3Host(planner, base_dir, max_rounds=max_rounds,
                  feedback_fn=feedback_fn)
    host._spark = spark      # close() releases the tools' checkpoints

    # ---------------------------------------------------------- search
    def topic_expansion(h: V3Host, args: dict) -> dict:
        topic = args.get("topic") or h.state.get("topic")
        desc = args.get("description", "")
        topics = spark.createDataFrame([(topic, desc)],
                                       ["topic", "description"])
        expanded = sc.expand_topic(topics, client_factory).collect()[0]
        h.state["topic"] = topic
        h.state["description"] = expanded["description"]
        return {"topic": topic, "description": expanded["description"]}

    def generate_search_queries(h: V3Host, args: dict) -> dict:
        topic = args.get("topic") or h.state["topic"]
        topics = spark.createDataFrame(
            [(topic, h.state.get("description", ""))],
            ["topic", "description"])
        # eager cut: web_search and crawl_urls both read state["queries"]
        # later — without it each re-runs the expand_queries LLM stage
        # (3 full recomputes per task measured in the e2e bench)
        queries = checkpoint(sc.expand_queries(topics, client_factory))
        h.state["queries"] = queries
        qlist = [r["query"] for r in queries.collect()]
        path = os.path.join(base_dir, topic, "search",
                            f"queries_{topic}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"topic": topic, "queries": qlist}, f)
        # contract: count + path, not the queries themselves
        return {"query_count": len(qlist), "file_path": path}

    def web_search(h: V3Host, args: dict) -> dict:
        topic = args.get("topic") or h.state["topic"]
        # eager cut: crawl_urls scores state["hits"] and re-counts it for
        # the JSON transcript — lazy, both re-ran the whole search stage
        hits = checkpoint(crawl_src.batch_web_search(
            h.state["queries"], search_fn_factory, top_n=top_n))
        h.state["hits"] = hits
        n = hits.count()
        h.state["n_hits"] = n
        h.state["last_search_result"] = f"{n} urls for {topic}"
        return {"url_count": n,
                "file_path": search_result_path(base_dir, topic)}

    def crawl_urls_tool(h: V3Host, args: dict) -> dict:
        topic = args.get("topic") or h.state["topic"]
        from pyspark.sql import Window

        w = Window.partitionBy("topic").orderBy(
            F.col("snippet_score").desc(), F.col("url").asc())
        scored_hits = (
            sc.score_snippets(h.state["hits"], client_factory)
            .filter(F.col("snippet_score") >= snippet_threshold)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= over_fetch(top_n))
            .drop("__rn"))
        pages = crawl_src.crawl_urls(scored_hits, fetch_fn_factory)
        refined = sc.refine_pages(pages, client_factory)
        scored = sc.score_pages(refined, client_factory) \
            .withColumnRenamed("filtered", "txt")
        kept = crawl_ops.filter_papers(
            scored, similarity_threshold=similarity_threshold,
            min_length=min_length, max_length=max_length, top_n=top_n)
        ordered = kept.select("title", "url", "txt", "similarity") \
            .orderBy(F.col("similarity").desc(), F.col("url").asc())
        path = search_result_path(base_dir, topic)
        pq_path = crawl_parquet_path(base_dir, topic)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        # full texts go to parquet EXECUTOR-SIDE — the distributed half
        # of the handoff; a pathological crawl can't OOM the driver
        ordered.write.mode("overwrite").parquet(pq_path)
        # the preview below reads BACK the just-written parquet: a
        # second action on `ordered` would re-run the whole crawl
        # pipeline — every page fetched twice, and a flaky page would
        # make the JSON transcript diverge from the parquet that
        # group_papers actually consumes (round-10 review)
        written = spark.read.parquet(pq_path) \
            .orderBy(F.col("similarity").desc(), F.col("url").asc())
        # the reference-shape JSON transcript keeps only a bounded
        # preview of each page (title/url/similarity + capped content)
        rows = written.select(
            "title", "url", "similarity",
            F.substring("txt", 1, txt_preview_chars).alias("preview"),
            (F.length("txt") > txt_preview_chars).alias("truncated"),
        ).collect()
        payload = {
            "topic": topic,
            "total_urls": int(h.state.get("n_hits",
                                          h.state["hits"].count())),
            "final_count": len(rows),
            "parquet_path": pq_path,
            "crawl_progress": [
                {"title": r["title"], "url": r["url"],
                 "content": r["preview"],
                 "content_truncated": bool(r["truncated"]),
                 "similarity": float(r["similarity"])}
                for r in rows],
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(payload, f, ensure_ascii=False)
        return {"crawl_results": len(rows), "final_count": len(rows),
                "file_path": path}

    def request_human_feedback(h: V3Host, args: dict) -> dict:
        question = args.get("question", "")
        answer = host.feedback_fn(question) if host.feedback_fn else ""
        return {"question": question, "response": answer}

    # ------------------------------------------------------- V2 stages
    def group_papers_tool(h: V3Host, args: dict) -> dict:
        import glob

        from pyspark.sql import Window

        topic = h.state["topic"]
        pq_path = crawl_parquet_path(base_dir, topic)
        if glob.glob(os.path.join(pq_path, "*.parquet")):
            # distributed handoff: full texts never visit the driver;
            # bibkey order matches the JSON writer's
            # (similarity desc, url asc) enumeration exactly
            title = topic
            src = spark.read.parquet(pq_path) \
                .filter(F.col("title").isNotNull() & (F.col("title") != ""))
            w = Window.orderBy(F.col("similarity").desc(),
                               F.col("url").asc())
            pdf = src.withColumn("__rn", F.row_number().over(w)).select(
                F.concat(F.lit("paper_"),
                         (F.col("__rn") - 1).cast("string")).alias("bibkey"),
                "title", F.lit("").alias("abstract"), "txt", "url")
            n_papers = pdf.count()
        else:
            # reference-shape JSON fallback (a file produced by the
            # reference itself, or a pre-r10 run): bounded by design
            data = load_search_results(search_result_path(base_dir, topic))
            title = data["title"]
            papers_rows = [
                (f"paper_{i}", p["title"], p.get("abstract", ""),
                 p.get("txt", ""), p.get("url", ""))
                for i, p in enumerate(data["papers"])]
            pdf = spark.createDataFrame(
                papers_rows, "bibkey string, title string, abstract string,"
                             " txt string, url string")
            n_papers = len(papers_rows)
        h.state["survey_title"] = title
        surveys = pdf.agg(
            F.collect_list(F.struct("bibkey", "title", "abstract", "txt",
                                    "url",
                                    F.lit(None).cast("long")
                                    .alias("txt_token"))).alias("papers"),
        ).select(F.lit("s0").alias("survey_id"), F.lit(title).alias("title"),
                 "papers")
        papers = checkpoint(v2.build_papers(surveys))
        grouped = checkpoint(v2.group_papers(papers, cfg, client_factory))
        h.state["papers"] = papers
        h.state["grouped"] = grouped
        n_groups = grouped.select("digest_id").distinct().count()
        return {"title": title, "paper_count": n_papers,
                "group_count": n_groups}

    def skeleton_init_tool(h: V3Host, args: dict) -> dict:
        outlines = checkpoint(
            v2.init_outlines(h.state["grouped"], client_factory, cfg))
        h.state["outlines"] = outlines
        md = outlines.select("outline_md").collect()[0][0]
        h.state["raw_skeleton"] = md
        return {"raw_skeleton": md}

    def digest_generation_tool(h: V3Host, args: dict) -> dict:
        digests, _dead = v2.make_digests(
            h.state["grouped"], h.state["outlines"], client_factory, cfg)
        digests = checkpoint(digests)
        h.state["digests"] = digests
        return {"digest_count": digests.count()}

    def skeleton_refine_tool(h: V3Host, args: dict) -> dict:
        import dataclasses

        rcfg = dataclasses.replace(
            cfg,
            conv_layers=min(int(args.get("convolution_layer", "6")),
                            cfg.conv_layers),
            receptive_field=min(int(args.get("convolution_kernel_size", "3")),
                                cfg.receptive_field),
            result_num=min(int(args.get("convolution_result_num", "10")),
                           cfg.result_num),
            top_k=min(int(args.get("top_k", "6")), cfg.top_k),
            refine_rounds=min(int(args.get("self_refine_count", "0")),
                              cfg.refine_rounds),
            best_of=min(int(args.get("self_refine_best_of", "3")),
                        cfg.best_of),
        )
        cur = v2.unrefined_state(h.state["outlines"])
        refined = checkpoint(
            v2.conv_refine(cur, h.state["digests"], client_factory, rcfg))
        h.state["refined"] = refined
        h.state["outlines"] = refined.select(
            "survey_id", "survey_title", "outline_md")
        md = refined.select("outline_md").collect()[0][0]
        h.state["all_skeleton"] = md
        # re-digest against the refined outline (the block-cycle re-entry)
        digests, _dead = v2.make_digests(
            h.state["grouped"], h.state["outlines"], client_factory, cfg)
        h.state["digests"] = checkpoint(digests)
        return {"all_skeleton": md}

    def writing_tool(h: V3Host, args: dict) -> dict:
        # decode_survey writes the sections and runs the deterministic
        # tail (citation renumber, cite_ratio, references, assembly) as
        # two per-survey passes; it pins nothing
        out = v2.decode_survey(v2.typed_scores(h.state["refined"]),
                               h.state["digests"], h.state["papers"],
                               client_factory, cfg)
        row = out.collect()[0]
        output_file = args.get("output_file") or os.path.join(
            base_dir, h.state.get("survey_title", "survey"), "survey.json")
        os.makedirs(os.path.dirname(output_file), exist_ok=True)
        content = (row["content_md"] or "") + "\n\n" + (row["ref_str"] or "")
        with open(output_file, "w", encoding="utf-8") as f:
            json.dump({"survey_id": row["survey_id"],
                       "title": row["survey_title"],
                       "content": content,
                       "cite_ratio": row["cite_ratio"],
                       "n_sections": row["n_sections"]},
                      f, ensure_ascii=False, default=str)
        h.state["output_file"] = output_file
        return {"output_file": output_file,
                "content_chars": len(content)}

    # ------------------------------------------------------ registration
    reg = [
        (ToolSpec("search_server", "topic_expansion",
                  "Expand the research topic into a detailed description "
                  "using the LLM.",
                  [ToolParam("topic", required=True,
                             description="Primary research topic"),
                   ToolParam("description",
                             description="Optional short description")]),
         topic_expansion),
        (ToolSpec("search_server", "request_human_feedback",
                  "Ask the human operator for clarification or confirmation "
                  "and return their response.",
                  [ToolParam("question", required=True,
                             description="Question for the operator")]),
         request_human_feedback),
        (ToolSpec("search_server", "generate_search_queries",
                  "Generate optimized search queries based on LLM; returns "
                  "the query count and the file save path, not the queries.",
                  [ToolParam("topic", required=True, description="topic")]),
         generate_search_queries),
        (ToolSpec("search_server", "web_search",
                  "Execute a web search and collect URLs; returns the URL "
                  "count and the file save path, not the URL list.",
                  [ToolParam("topic", required=True,
                             description="Main topic"),
                   ToolParam("top_n", "integer",
                             description="Number of most relevant URLs")]),
         web_search),
        (ToolSpec("search_server", "crawl_urls",
                  "Crawl URL contents and perform intelligent processing; "
                  "returns counts and the file save path, not the articles.",
                  [ToolParam("topic", required=True,
                             description="Research topic"),
                   ToolParam("top_n", "integer",
                             description="Number of highest-quality "
                                         "results")]),
         crawl_urls_tool),
        (ToolSpec("group_server", "group_papers",
                  "Group the crawled papers into digest batches."),
         group_papers_tool),
        (ToolSpec("skeleton_init_server", "skeleton_init",
                  "Initialize the survey skeleton from grouped papers."),
         skeleton_init_tool),
        (ToolSpec("digest_server", "digest_generation",
                  "Generate per-group digests aligned to the skeleton."),
         digest_generation_tool),
        (ToolSpec("skeleton_refine_server", "skeleton_refine",
                  "Refine the skeleton via convolution + self-refine.",
                  [ToolParam(k) for k in REFINE_ARGS]),
         skeleton_refine_tool),
        (ToolSpec("writing_server", "writing",
                  "Write the survey content and save it to the output file.",
                  [ToolParam("output_file",
                             description="Target JSON path")]),
         writing_tool),
    ]
    for spec, fn in reg:
        host.register_tool(spec, fn)
    return host
