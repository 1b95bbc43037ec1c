"""Driver-contract budget + catalog-coverage guards.

The driver snapshots only the FIRST 50 ``queries()`` entries into
CORRECTNESS_r{N}.json (both r2 and r3 files had exactly 50 rows; the 7
round-3 additions silently pushed 14 method-catalog gates past the cap —
round-3 verdict item #1). These tests make that failure mode impossible:
the registry must stay within budget AND every method code 0-26 plus
extract/rebuild must be covered by some driver-visible row.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as e
from tersets_spark.methods import Method

DRIVER_SNAPSHOT_BUDGET = 50


def test_queries_fit_driver_budget():
    qs = e.queries()
    assert len(qs) <= DRIVER_SNAPSHOT_BUDGET, (
        f"queries() has {len(qs)} entries; the driver records only the "
        f"first {DRIVER_SNAPSHOT_BUDGET} — consolidate (see bound_catalog "
        "/ invariant_catalog) instead of appending per-method rows"
    )


def test_every_method_code_has_a_driver_row():
    qs = set(e.queries())
    covered: set[int] = set()
    # consolidated catalog sweeps
    assert {"bound_catalog", "invariant_catalog"} <= qs
    covered.update(code for _l, code, _c, _k in e._BOUND_CATALOG)
    covered.update(code for _l, code, _c, _k in e._INVARIANT_CATALOG)
    # lossless bitwise family keeps per-method rows
    per_method = {
        "roundtrip_uncompressed": Method.Uncompressed,
        "roundtrip_delta": Method.BitPackedDeltaEncoding,
        "roundtrip_chimp64": Method.Chimp64,
        "roundtrip_chimp128": Method.Chimp128,
        "roundtrip_rle": Method.RunLengthEncoding,
        "roundtrip_elf": Method.Elf,
    }
    for name, m in per_method.items():
        assert name in qs, f"lossless gate {name} missing from queries()"
        covered.add(int(m))
    missing = {m.name for m in Method} - {Method(c).name for c in covered}
    assert not missing, f"method codes with no driver-visible gate: {missing}"
    # extract/rebuild identity sweep must stay driver-visible too
    assert "extract_rebuild_identity" in qs


def test_every_query_has_an_oracle():
    # as of round 5 there are ZERO rows-only queries: ivf_ann_topk (the
    # last one) got a hard oracle by making _kmeans SQL-exact, so the
    # DuckDB SQL trains the identical centroids. Any new query must
    # ship with its oracle — no silent rows-only regressions.
    qs, oracles = e.queries(), e.oracle_sql()
    rows_only = {n for n in qs if n not in oracles}
    assert not rows_only, f"queries without an oracle: {rows_only}"
    assert not set(oracles) - set(qs), "oracle_sql() keys must exist in queries()"


def test_extras_cover_catalog_per_method():
    ex = e.extra_queries()
    # per-method catalog debug rows + the three per-tier rollup rows
    # consolidated into rollup_events_catalog in r8 (stream_fuzzy_parity
    # was promoted INTO the driver budget the same round)
    assert len(ex) == len(e._BOUND_CATALOG) + len(e._INVARIANT_CATALOG) + 3
    for tier in ("1m", "1h", "1d"):
        assert f"x_rollup_events_{tier}" in ex
    assert "stream_fuzzy_parity" in e.queries()
    assert set(e.extra_oracle_sql()) == set(ex)
    assert e.extra_oracle_sql()["x_rollup_events_1m"] != e._BOUND_ORACLE
