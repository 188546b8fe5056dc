"""Output digests for the benchmark's queries.

A digest is the SHA-256 of a query's result in the canonical form of
``tests/oracle_harness.canonical_rows`` (sorted column names, rows
rendered with rounded floats and sorted).  ``digests.json`` holds one
digest per query, computed from the query's DuckDB oracle on the
benchmark's data, next to the SHA-256 of the oracle text: when a query's
oracle changes, its stored digest is stale and the check fails until the
digests are regenerated.

Regenerate (takes a few minutes; the ``dedup_kept_greedy`` oracle alone
runs for over a minute)::

    python3 perfbench/digest.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS = os.path.join(HERE, "digests.json")

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from tests.oracle_harness import canonical_rows  # noqa: E402


def digest(columns, rows) -> str:
    """SHA-256 of a result's canonical form (column names included)."""
    canon = {"columns": sorted(columns), "rows": canonical_rows(list(columns), rows)}
    return hashlib.sha256(json.dumps(canon).encode()).hexdigest()


def text_sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def load() -> dict:
    with open(DIGESTS) as fh:
        return json.load(fh)


def verify(name: str, columns, rows, oracle_sql: str, stored: dict) -> str | None:
    """``None`` when the result matches its stored digest, else the reason."""
    entry = stored.get(name)
    if entry is None:
        return "no stored digest"
    if entry["oracle_sha256"] != text_sha(oracle_sql):
        return "stale digest: the oracle changed; rerun perfbench/digest.py"
    if digest(columns, rows) != entry["digest"]:
        return f"digest mismatch ({len(rows)} rows, oracle has {entry['rows']})"
    return None


def main() -> None:
    from interlinked_spark import catalog
    from tests.oracle_harness import duck_connection

    from workloads import DATA_DIR, WORKLOADS

    out = {}
    con = duck_connection(DATA_DIR)
    try:
        for name in (n for wl in WORKLOADS.values() for n in wl.queries):
            sql = catalog.ORACLES[name]
            res = con.sql(sql)
            rows = res.fetchall()
            out[name] = {
                "digest": digest(res.columns, rows),
                "oracle_sha256": text_sha(sql),
                "rows": len(rows),
            }
            print(f"{name}: {len(rows)} rows", flush=True)
    finally:
        con.close()
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
