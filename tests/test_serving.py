"""MCP serving facade: full protocol round-trip against a real corpus.

The engine semantics behind the tool are oracle-checked by the driver
(``engine_search_e2e``); these tests pin the transport contract —
handshake, tool listing, tool call, error surfaces — that the
reference exposes via FastMCP stdio (reference server.py:67-106,127).
"""

from __future__ import annotations

import io
import json

import pytest

from mcp_server_vector_search_spark import serving
from mcp_server_vector_search_spark.engine import (
    SparkVectorSearch,
    corpus_from_documents,
)
from mcp_server_vector_search_spark.serving import MCPServer, TOOL_NAME
from mcp_server_vector_search_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def server(spark, sf_smoke):
    corpus = corpus_from_documents(load_table(spark, sf_smoke, "documents"))
    return MCPServer(SparkVectorSearch(corpus))


def _req(method, msg_id=1, **params):
    m = {"jsonrpc": "2.0", "id": msg_id, "method": method}
    if params:
        m["params"] = params
    return m


def test_initialize_handshake(server):
    resp = server.handle_message(_req("initialize"))
    assert resp["id"] == 1
    r = resp["result"]
    assert r["protocolVersion"] == serving.PROTOCOL_VERSION
    assert "tools" in r["capabilities"]
    # initialized notification gets no reply
    assert server.handle_message(
        {"jsonrpc": "2.0", "method": "notifications/initialized"}
    ) is None


def test_tools_list(server):
    resp = server.handle_message(_req("tools/list", msg_id=2))
    tools = resp["result"]["tools"]
    assert [t["name"] for t in tools] == [TOOL_NAME]
    schema = tools[0]["inputSchema"]
    assert schema["required"] == ["prompt"]
    assert schema["properties"]["prompt"]["type"] == "string"


def test_tools_call_returns_topk_json(server):
    resp = server.handle_message(
        _req("tools/call", msg_id=3, name=TOOL_NAME,
             arguments={"prompt": "vector similarity search", "k": 5})
    )
    result = resp["result"]
    assert result["isError"] is False
    rows = json.loads(result["content"][0]["text"])
    assert len(rows) == 5
    assert set(rows[0]) == {"name", "description", "score"}
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_tools_call_matches_engine_directly(server):
    via_mcp = server.handle_message(
        _req("tools/call", msg_id=4, name=TOOL_NAME,
             arguments={"prompt": "neural networks"})
    )["result"]["content"][0]["text"]
    assert via_mcp == server.search.search("neural networks")


def test_error_surfaces(server):
    # unknown method → METHOD_NOT_FOUND
    resp = server.handle_message(_req("no/such/method", msg_id=5))
    assert resp["error"]["code"] == serving.METHOD_NOT_FOUND
    # unknown tool → INVALID_PARAMS
    resp = server.handle_message(
        _req("tools/call", msg_id=6, name="bogus", arguments={"prompt": "x"})
    )
    assert resp["error"]["code"] == serving.INVALID_PARAMS
    # missing prompt → INVALID_PARAMS
    resp = server.handle_message(
        _req("tools/call", msg_id=7, name=TOOL_NAME, arguments={})
    )
    assert resp["error"]["code"] == serving.INVALID_PARAMS
    # non-2.0 message → INVALID_REQUEST
    resp = server.handle_message({"id": 8, "method": "ping"})
    assert resp["error"]["code"] == serving.INVALID_REQUEST


class _NoSpark:
    """A search backend that must never be reached."""

    def search(self, prompt, k):
        raise AssertionError(f"search ran with k={k!r}")


@pytest.mark.parametrize(
    "k", [10**9, serving.MAX_K + 1, 0, -1, "ten", "10", True, 2.5, None]
)
def test_k_out_of_bounds_is_invalid_params(k):
    """A bad ``k`` is a protocol error, raised before any Spark work."""
    resp = MCPServer(_NoSpark()).handle_message(
        _req("tools/call", msg_id=9, name=TOOL_NAME,
             arguments={"prompt": "x", "k": k})
    )
    assert resp["error"]["code"] == serving.INVALID_PARAMS
    assert str(serving.MAX_K) in resp["error"]["message"]


def test_k_bounds_in_schema_admit_the_serving_range(server):
    schema = serving.TOOL_SPEC["inputSchema"]["properties"]["k"]
    assert (schema["minimum"], schema["maximum"]) == (1, serving.MAX_K)
    assert serving.MAX_K >= 100
    for k in (1, serving.MAX_K):
        resp = server.handle_message(
            _req("tools/call", msg_id=10, name=TOOL_NAME,
                 arguments={"prompt": "vector similarity search", "k": k})
        )
        assert resp["result"]["isError"] is False
        rows = json.loads(resp["result"]["content"][0]["text"])
        assert 1 <= len(rows) <= k


def test_notifications_never_answered(server):
    """JSON-RPC 2.0 §4.1: a message without an id is a notification and
    MUST NOT be answered — for ANY method, known or unknown.  Side
    effects still happen (an initialize notification flips the state
    flag even though no reply is sent)."""
    for method in ("ping", "tools/list", "no/such/method",
                   "notifications/initialized"):
        assert server.handle_message(
            {"jsonrpc": "2.0", "method": method}
        ) is None
    server.initialized = False
    assert server.handle_message(
        {"jsonrpc": "2.0", "method": "initialize", "params": {}}
    ) is None
    assert server.initialized is True


def test_stdio_loop_round_trip(spark, sf_smoke):
    corpus = corpus_from_documents(load_table(spark, sf_smoke, "documents"))
    lines = [
        json.dumps(_req("initialize")),
        json.dumps({"jsonrpc": "2.0", "method": "notifications/initialized"}),
        json.dumps(_req("tools/list", msg_id=2)),
        json.dumps(_req("tools/call", msg_id=3, name=TOOL_NAME,
                        arguments={"prompt": "hello world", "k": 3})),
        "not json at all",
    ]
    out = io.StringIO()
    serving.serve_stdio(
        SparkVectorSearch(corpus),
        stdin=io.StringIO("\n".join(lines) + "\n"),
        stdout=out,
    )
    replies = [json.loads(l) for l in out.getvalue().splitlines()]
    # 4 replies: initialize, tools/list, tools/call, parse error
    # (the notification is silent)
    assert len(replies) == 4
    assert replies[0]["result"]["serverInfo"]["name"].startswith("mcp-server")
    assert replies[1]["result"]["tools"][0]["name"] == TOOL_NAME
    call = replies[2]["result"]
    assert call["isError"] is False
    assert len(json.loads(call["content"][0]["text"])) == 3
    assert replies[3]["error"]["code"] == serving.PARSE_ERROR


def test_stdio_subprocess_round_trip():
    """The real transport end to end (VERDICT r4 #3): spawn the module
    as a child process — its own SparkSession, real pipes — and run the
    initialize → tools/list → tools/call handshake over stdin/stdout.
    Covers main() and the serve_stdio framing loop under the exact
    conditions an MCP host launches it."""
    import os
    import subprocess
    import sys

    lines = [
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "initialize",
                    "params": {}}),
        json.dumps({"jsonrpc": "2.0", "method": "notifications/initialized"}),
        json.dumps({"jsonrpc": "2.0", "id": 2, "method": "tools/list"}),
        json.dumps({"jsonrpc": "2.0", "id": 3, "method": "tools/call",
                    "params": {"name": TOOL_NAME,
                               "arguments": {"prompt": "hello world", "k": 3}}}),
    ]
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    proc = subprocess.run(
        [sys.executable, "-m", "mcp_server_vector_search_spark.serving"],
        input="\n".join(lines) + "\n",
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    replies = [json.loads(l) for l in proc.stdout.splitlines() if l.strip()]
    assert len(replies) == 3, (proc.stdout, proc.stderr[-2000:])
    by_id = {r["id"]: r for r in replies}
    assert by_id[1]["result"]["serverInfo"]["name"].startswith("mcp-server")
    assert by_id[2]["result"]["tools"][0]["name"] == TOOL_NAME
    call = by_id[3]["result"]
    assert call["isError"] is False
    assert len(json.loads(call["content"][0]["text"])) == 3


def test_cli_flags_reference_parity(capsys):
    """The reference's documented flags (__init__.py:10-16) must be
    ACCEPTED — a launcher written for the reference binary starts this
    server unchanged — while the Spark-meaningful flags win over env."""
    import os

    from mcp_server_vector_search_spark.serving import parse_args

    args = parse_args(
        [
            "--db-url", "bolt://x", "--username", "u", "--password", "p",
            "--database", "d", "--api-key", "k",
            "--corpus-dir", "/tmp/somewhere", "--cpus", "4",
        ]
    )
    assert args.corpus_dir == "/tmp/somewhere"
    assert args.cpus == 4
    warned = capsys.readouterr().err
    for f in ("--db-url", "--username", "--password", "--database", "--api-key"):
        assert f in warned
    # env fallback for the corpus dir
    old = os.environ.get("SPARK_GRAFT_SF_DIR")
    os.environ["SPARK_GRAFT_SF_DIR"] = "/tmp/envdir"
    try:
        assert parse_args([]).corpus_dir == "/tmp/envdir"
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_SF_DIR", None)
        else:
            os.environ["SPARK_GRAFT_SF_DIR"] = old
