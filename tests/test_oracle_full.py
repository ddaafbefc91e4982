"""Per-round FULL-catalog oracle sweep (round-4 verdict item #1).

The external correctness driver value-checks only the first 50 registered
queries; everything rotated past that window would otherwise be verified
only when a judge re-runs `scripts/check_oracle.py` by hand. This test IS
that re-run: every registered query is compared against its DuckDB oracle
at sf0.01 with the driver's exact compare (sorted columns, sorted rows,
dtype-cast value equality), and the machine-readable result is committed
as `ORACLE_FULL_r{N}.json` at the repo root so each round ships hard proof
for the whole catalog, not just the driver window. Per-query timings
(``secs``) are left out of the artifact so a re-run with the same verdicts
rewrites it byte for byte.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "scripts"))

from conftest import SF_ORACLE  # noqa: E402


def _round_number() -> int:
    """Current build round = latest recorded round + 1."""
    seen = [
        int(m.group(1))
        for p in REPO.glob("CORRECTNESS_r*.json")
        if (m := re.match(r"CORRECTNESS_r(\d+)\.json$", p.name))
    ]
    return (max(seen) + 1) if seen else 1


def test_full_catalog_matches_oracle(spark):
    from check_oracle import run_sweep

    results = run_sweep(spark, SF_ORACLE)
    out = REPO / f"ORACLE_FULL_r{_round_number():02d}.json"
    verdicts = {
        n: {k: v for k, v in r.items() if k != "secs"}
        for n, r in results.items()
    }
    out.write_text(json.dumps(verdicts, indent=1, default=str) + "\n")

    assert len(results) >= 91, "catalog shrank — did a pack fail to import?"
    rows_only = sorted(
        n for n, r in results.items() if r["err"] == "no_oracle"
    )
    failed = {
        n: r["err"]
        for n, r in results.items()
        if r["err"] != "no_oracle" and not r["hash_match"]
    }
    assert not failed, f"oracle mismatches: {failed}"
    # the rows-only set is a deliberate, named exception list — anything
    # new appearing here must be an explicit decision, not an accident
    assert rows_only == ["embedding_clusters"], rows_only
    for n in rows_only:
        assert results[n]["spark_rows"] is not None, f"{n} failed to run"
