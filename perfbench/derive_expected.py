"""Derive ``expected_catalog.json``: the row count and fingerprint of each
``catalog_sf01`` query on ``perfbench/data/sf0.01``.

    python3 perfbench/derive_expected.py

Each query's Spark result is first compared with its DuckDB oracle
(``tests/parity.py``, order-insensitive and type-strict) where the query
has one; the script refuses to write values for a query that disagrees
with its oracle. Run it only when the fixture data or a query's intended
result changes.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.catalog import EXPECTED, SF_DIR, fingerprint
    from perfbench.common import RELATIONAL_QUERIES, TEXT_QUERIES, nproc
    from sportstv_streaming_data_warehouse_spark.plans.catalog import all_oracles, all_queries
    from sportstv_streaming_data_warehouse_spark.session import get_spark
    from tests import parity

    spark = get_spark(master=f"local[{nproc()}]")
    queries, oracles = all_queries(), all_oracles()
    con = parity.duckdb_connection(str(SF_DIR))
    out, bad = {}, []
    for name in RELATIONAL_QUERIES + TEXT_QUERIES:
        df = queries[name](spark, str(SF_DIR))
        oracle = "none"
        if name in oracles:
            try:
                parity.compare(df, con, oracles[name], name)
                oracle = "match"
            except AssertionError as exc:
                bad.append(name)
                print(f"{name}: differs from its DuckDB oracle: {exc}", file=sys.stderr)
                continue
        r = fingerprint(df).first()
        out[name] = {"rows": r["n"], "fingerprint": r["h"], "oracle": oracle}
        print(name, out[name], flush=True)
    spark.stop()
    if bad:
        print(f"not written: {len(bad)} queries disagree with their oracle", file=sys.stderr)
        return 1
    EXPECTED.write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
