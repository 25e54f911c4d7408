"""MCP stdio serving facade over :class:`SparkVectorSearch`.

The reference's only entry point is a FastMCP stdio server exposing one
tool, ``vector_search_neo4j(prompt)`` (reference server.py:67-106,127).
This module closes that last surface gap with a self-contained
implementation of the MCP wire protocol's tool subset — JSON-RPC 2.0
messages, newline-delimited over stdio, per the public Model Context
Protocol spec (modelcontextprotocol.io) — so no ``mcp``/``fastmcp``
package is required.  The tool semantics (embed → dim-check → score
``(1+cos)/2`` → top-10 → JSON rows) are exactly ``engine.SparkVectorSearch``,
which is oracle-checked by the driver (``engine_search_e2e``); this
layer is transport only.

Handled methods:

- ``initialize``                → protocol/capability handshake
- ``notifications/initialized`` → acknowledged silently (notification)
- ``ping``                      → ``{}``
- ``tools/list``                → the single search tool + JSON schema
- ``tools/call``                → runs the search; tool-level failures
  come back as ``result.isError = true`` with the message as text
  content (MCP semantics: tool errors are results, not protocol
  errors), protocol misuse as JSON-RPC error objects.

The handler is transport-agnostic (`MCPServer.handle_message` takes and
returns dicts) so tests exercise the full protocol without a
subprocess; ``serve_stdio`` is the thin framing loop.
"""

from __future__ import annotations

import json
import sys
from typing import Any, IO, Optional

from .engine import DEFAULT_K, SparkVectorSearch

PROTOCOL_VERSION = "2024-11-05"
SERVER_INFO = {"name": "mcp-server-vector-search-spark", "version": "1.0.0"}

# The reference names its tool after its backing store
# (``vector_search_neo4j``, server.py:71); ours is named after Spark but
# keeps the same one-required-string-argument shape and description
# intent (server.py:72-76).
TOOL_NAME = "vector_search_spark"
# Upper bound on a tool call's ``k``: the top-k rows are collected to the
# driver, so an unbounded k would pull the whole corpus there.
MAX_K = 1000
TOOL_SPEC = {
    "name": TOOL_NAME,
    "description": (
        "Search for the most similar documents in the corpus using "
        "vector similarity search."
    ),
    "inputSchema": {
        "type": "object",
        "properties": {
            "prompt": {
                "type": "string",
                "description": (
                    "The prompt to search for related documents using "
                    "similarity search"
                ),
            },
            "k": {
                "type": "integer",
                "minimum": 1,
                "maximum": MAX_K,
                "description": "Number of results (default 10)",
            },
        },
        "required": ["prompt"],
    },
}

# JSON-RPC 2.0 error codes
PARSE_ERROR = -32700
INVALID_REQUEST = -32600
METHOD_NOT_FOUND = -32601
INVALID_PARAMS = -32602


class MCPServer:
    """Protocol state machine wrapping one :class:`SparkVectorSearch`."""

    def __init__(self, search: SparkVectorSearch) -> None:
        self.search = search
        self.initialized = False

    # -- protocol -----------------------------------------------------

    def handle_message(self, msg: dict) -> Optional[dict]:
        """Dispatch one JSON-RPC message; None for notifications."""
        if not isinstance(msg, dict) or msg.get("jsonrpc") != "2.0":
            return _error(msg.get("id") if isinstance(msg, dict) else None,
                          INVALID_REQUEST, "not a JSON-RPC 2.0 message")
        method = msg.get("method")
        msg_id = msg.get("id")
        is_notification = "id" not in msg

        reply = self._dispatch(method, msg_id, msg)
        # JSON-RPC 2.0 §4.1: a notification (no id) MUST NOT be answered —
        # for ANY method, known or not.  Side effects (e.g. initialize
        # flipping the state flag) still happen above; only the reply is
        # suppressed.
        if is_notification:
            return None
        return reply

    def _dispatch(self, method: Any, msg_id: Any, msg: dict) -> Optional[dict]:
        if method == "initialize":
            self.initialized = True
            return _result(msg_id, {
                "protocolVersion": PROTOCOL_VERSION,
                "capabilities": {"tools": {}},
                "serverInfo": SERVER_INFO,
            })
        if method == "notifications/initialized":
            return None
        if method == "ping":
            return _result(msg_id, {})
        if method == "tools/list":
            return _result(msg_id, {"tools": [TOOL_SPEC]})
        if method == "tools/call":
            return self._call_tool(msg_id, msg.get("params") or {})
        return _error(msg_id, METHOD_NOT_FOUND, f"unknown method {method!r}")

    def _call_tool(self, msg_id: Any, params: dict) -> dict:
        name = params.get("name")
        if name != TOOL_NAME:
            return _error(msg_id, INVALID_PARAMS, f"unknown tool {name!r}")
        args = params.get("arguments") or {}
        prompt = args.get("prompt")
        if not isinstance(prompt, str):
            return _error(msg_id, INVALID_PARAMS, "'prompt' (string) is required")
        k = args.get("k", DEFAULT_K)
        if isinstance(k, bool) or not isinstance(k, int) or not 1 <= k <= MAX_K:
            return _error(msg_id, INVALID_PARAMS,
                          f"'k' must be an integer in [1, {MAX_K}]")
        try:
            payload = self.search.search(prompt, k=k)
        except Exception as exc:  # noqa: BLE001 — tool errors are results
            return _result(msg_id, {
                "content": [{"type": "text", "text": f"{type(exc).__name__}: {exc}"}],
                "isError": True,
            })
        return _result(msg_id, {
            "content": [{"type": "text", "text": payload}],
            "isError": False,
        })


def _result(msg_id: Any, result: dict) -> dict:
    return {"jsonrpc": "2.0", "id": msg_id, "result": result}


def _error(msg_id: Any, code: int, message: str) -> dict:
    return {"jsonrpc": "2.0", "id": msg_id,
            "error": {"code": code, "message": message}}


def serve_stdio(
    search: SparkVectorSearch,
    stdin: Optional[IO[str]] = None,
    stdout: Optional[IO[str]] = None,
) -> None:
    """Newline-delimited JSON-RPC loop (the MCP stdio transport,
    reference server.py:127 ``mcp.run(transport="stdio")``).  Runs until
    EOF.  Injectable streams keep it unit-testable."""
    stdin = stdin or sys.stdin
    stdout = stdout or sys.stdout
    server = MCPServer(search)
    for line in stdin:
        line = line.strip()
        if not line:
            continue
        try:
            msg = json.loads(line)
        except json.JSONDecodeError as exc:
            reply: Optional[dict] = _error(None, PARSE_ERROR, str(exc))
        else:
            reply = server.handle_message(msg)
        if reply is not None:
            stdout.write(json.dumps(reply) + "\n")
            stdout.flush()


def parse_args(argv: Optional[list] = None):
    """CLI flag parity with the reference entry point
    (reference ``__init__.py:10-16``: argparse over
    db-url/username/password/database/api-key, each falling back to an
    env var).  The Spark engine has no database connection or remote
    API, so the meaningful flags map onto their Spark analogs — the
    corpus location and session sizing — while the reference's exact
    flag names are accepted (and ignored with a warning) so a launcher
    written for the reference binary starts this one unchanged.  Flag >
    env > default precedence matches the reference."""
    import argparse
    import os

    parser = argparse.ArgumentParser(description="Spark Vector Search MCP Server")
    parser.add_argument(
        "--corpus-dir",
        default=None,
        help="parquet corpus directory (env SPARK_GRAFT_SF_DIR)",
    )
    parser.add_argument(
        "--cpus", default=None, type=int, help="local cores (env SPARK_GRAFT_CPUS)"
    )
    # reference-parity flags: accepted so reference launchers work;
    # meaningless without Neo4j/OpenAI, so they only warn
    for flag, help_txt in (
        ("--db-url", "ignored (reference parity; no database here)"),
        ("--username", "ignored (reference parity)"),
        ("--password", "ignored (reference parity)"),
        ("--database", "ignored (reference parity)"),
        ("--api-key", "ignored (reference parity; embeds run in-process)"),
    ):
        parser.add_argument(flag, default=None, help=help_txt)
    args = parser.parse_args(argv)
    for name in ("db_url", "username", "password", "database", "api_key"):
        if getattr(args, name) is not None:
            print(
                f"# --{name.replace('_', '-')} accepted for reference parity "
                "but unused by the Spark engine",
                file=sys.stderr,
            )
    args.corpus_dir = args.corpus_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
    )
    return args


def main(argv: Optional[list] = None) -> None:
    """CLI entry: serve a documents corpus over stdio — the Spark
    analog of reference ``__main__`` (server.py:129-136), with the
    reference's argparse surface (``__init__.py:10-16``; note the
    reference's own entry is broken — SURVEY §3.3 — so parity here
    means honoring the documented flags, not the crash)."""
    from .engine import corpus_from_documents
    from .session import get_spark
    from .sources.tables import load_table

    args = parse_args(argv)
    spark = get_spark(app_name="mcp-serving", cpus=args.cpus)
    search = SparkVectorSearch(
        corpus_from_documents(load_table(spark, args.corpus_dir, "documents"))
    )
    try:
        serve_stdio(search)
    finally:
        search.close()


if __name__ == "__main__":
    main()
