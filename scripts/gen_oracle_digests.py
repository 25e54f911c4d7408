"""Regenerate tests/fixtures/oracle_digests.json: for every query with a
DuckDB oracle, the ``tests.oracle.rows_digest`` of the oracle's rows at
the correctness scale factor.

Run: python scripts/gen_oracle_digests.py [OUT]   (default: the fixture)

Only DuckDB runs (oracle generators train driver-side in numpy), so no
Spark session starts.  ``tests/test_oracle_parity.py`` recomputes each
digest from the rows it already fetches and fails on any difference, so
a rewrite of oracle text that changes a row fails CI.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from mcp_server_vector_search_spark import registry  # noqa: E402
from tests.conftest import SF_CORRECTNESS  # noqa: E402
from tests.oracle import duckdb_connection, rows_digest  # noqa: E402

DIGESTS = ROOT / "tests" / "fixtures" / "oracle_digests.json"


def main() -> None:
    out = Path(sys.argv[1]) if len(sys.argv) > 1 else DIGESTS
    registry.load_all_operators()
    con = duckdb_connection(SF_CORRECTNESS)
    digests = {}
    for name, sql in sorted(registry.oracles().items()):
        rel = con.sql(sql)
        digests[name] = rows_digest(rel.fetchall(), list(rel.columns))
    con.close()
    out.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    print(f"{len(digests)} digests -> {out}")


if __name__ == "__main__":
    main()
