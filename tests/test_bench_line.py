"""Driver-line tail-buffer invariant (VERDICT r5 item 8): the bench's
single stdout JSON line must stay parseable and under the 2000-char tail
cap however far the registry grows — pinned here at 200 queries, well
past the current 147."""

from __future__ import annotations

import json

from bench import LINE_BUDGET, build_driver_line

# mirrors main()'s driver-line scalar block exactly (short keys; full
# names live in bench_detail.json)
# terse keys from round 7 (2000-char driver tail vs 176-query map;
# full names live in bench_detail.json — see bench.py's scalar block)
_SCALARS = {
    "sf": 0.1,
    "ingest_rps": 123456,
    "scan_rps": 98765432,
    "cold_pt": 0.678,
    "warm_pt": 0.109,
    "cache_open": 1.23,
    "open_sec": 10.17,
    "dedup_rps": 22345,
    "g1m_ingest": 4264000,
    "g1m_scan": 19400000,
    "g10m_ingest": 17500000,
    "g10m_scan": 79000000,
}


def _fake_queries(n: int) -> dict[str, float]:
    # realistic per-query seconds (r5 suite: median ~0.4 s, a handful of
    # 1-3 s outliers), decimals populated so rounding has real work to do
    return {
        f"q{i:02d}_some_operator_name": (
            3.1456 if i % 29 == 0 else 0.1 + (i % 8) / 10 + 0.0456
        )
        for i in range(1, n + 1)
    }


def test_line_fits_and_parses_at_current_registry_size():
    qs = _fake_queries(147)
    line = build_driver_line(round(sum(qs.values()), 4), qs, _SCALARS)
    assert len(line) < LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["metric"] == "suite_sec"
    assert len(parsed["queries"]) == 147


def test_line_fits_and_parses_at_200_queries():
    qs = _fake_queries(200)
    line = build_driver_line(round(sum(qs.values()), 4), qs, _SCALARS)
    assert len(line) < LINE_BUDGET
    parsed = json.loads(line)
    # either per-query detail (possibly at reduced precision) or the
    # suite-total fallback — both are valid driver lines
    assert parsed["queries"]
    assert parsed["value"] > 0


def test_line_never_silently_truncates_at_extreme_growth():
    """At absurd growth the builder must either emit a valid line via the
    suite-total fallback or raise — never return an over-budget line."""
    qs = _fake_queries(1000)
    try:
        line = build_driver_line(round(sum(qs.values()), 4), qs, _SCALARS)
    except RuntimeError:
        return  # loud failure is acceptable
    assert len(line) < LINE_BUDGET
    json.loads(line)


def _full_per_query(parsed, n):
    """True iff the line carries per-query evidence for ALL n queries:
    the keyed map, the qnum-ordered decisecond array stage, or the
    round-14 mixed stage (named slowest + decisecond array for the
    rest)."""
    q = parsed["queries"]
    if parsed.get("qu") == "ds-arr-qnum":
        return q.get("n") == n and len(q.get("v", [])) == n
    if parsed.get("qu") == "ds-mix":
        named = [k for k in q if k not in ("v", "n", "qids")]
        return q.get("n") == n and len(named) + len(q.get("v", [])) == n
    return len(q) == n


def _decode_mix(parsed, all_names):
    """Round-trip a ds-mix block back to {name: deciseconds} using only
    line-visible information plus the registry name list (the driver
    holds it): named keys match name.split('_')[0].lstrip('q'); the
    rest ids are qids minus the named keys, zipped with v in numeric
    order."""
    import bench

    q = parsed["queries"]
    named = {k: v for k, v in q.items() if k not in ("v", "n", "qids")}
    by_key = {n.split("_")[0].lstrip("q"): n for n in all_names}
    out = {by_key[k]: v for k, v in named.items()}
    rest = sorted(
        (n for n in all_names if n.split("_")[0].lstrip("q") not in named),
        key=bench._qnum,
    )
    assert len(rest) == len(q["v"])
    out.update(dict(zip(rest, q["v"])))
    return out


def test_real_registry_names_fit():
    """The actual registry must keep FULL per-query evidence on the
    line (any encoding stage incl. the sorted-name array) under budget
    — the r7 regression was this silently degrading to
    {"suite": total} at 184 queries."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
        load_all,
    )

    reg = load_all()
    qs = {
        name: (3.1456 if i % 29 == 0 else 0.1234 + (i % 8) / 10)
        for i, name in enumerate(reg)
    }
    line = build_driver_line(round(sum(qs.values()), 4), qs, _SCALARS)
    assert len(line) < LINE_BUDGET
    assert _full_per_query(json.loads(line), len(reg))


def test_full_per_query_evidence_survives_growth_to_500():
    """Past the keyed map's ceiling the MIXED stage keeps FULL per-query
    evidence on the line with margin: named integer deciseconds for the
    slowest queries (the driver's per-query tooling matches NAMED keys
    only — r13 verdict item #2), the rest in the "v" decisecond array
    in NUMERIC query-number order among the rest (append-only as the
    registry grows), the full id universe explicit in "qids"."""
    qs = _fake_queries(500)
    line = build_driver_line(round(sum(qs.values()), 4), qs, _SCALARS)
    p = json.loads(line)
    assert len(line) < LINE_BUDGET
    assert _full_per_query(p, 500)
    assert p["qu"] == "ds-mix"
    assert p["queries"]["qids"] == "1-500"
    # full round-trip: every query's deciseconds recoverable by name
    decoded = _decode_mix(p, list(qs))
    for name, sec in qs.items():
        assert decoded[name] == int(round(sec * 10))
    # the slowest queries are in the NAMED part (driver-parseable)
    named = [k for k in p["queries"] if k not in ("v", "n", "qids")]
    slow = sorted(qs.items(), key=lambda kv: -kv[1])[: len(named)]
    for name, _ in slow[:24]:
        assert name.split("_")[0].lstrip("q") in p["queries"]


def test_mix_stage_fires_and_decodes_at_real_registry_size():
    """At the CURRENT registry size the mixed stage must carry a large
    named majority (the r13 all-positional line reduced the driver's
    per-query tooling to the single literal key "n") and decode exactly."""
    qs = _fake_queries(253)
    line = build_driver_line(round(sum(qs.values()), 4), qs, _SCALARS)
    p = json.loads(line)
    assert len(line) < LINE_BUDGET
    assert p["qu"] == "ds-mix"
    named = [k for k in p["queries"] if k not in ("v", "n", "qids")]
    assert len(named) >= 150, f"named part too small: {len(named)}"
    decoded = _decode_mix(p, list(qs))
    for name, sec in qs.items():
        assert decoded[name] == int(round(sec * 10))


def test_qid_ranges_collapse_and_expose_gaps():
    import bench

    assert bench._qid_ranges(["q1_a", "q2_b", "q3_c"]) == "1-3"
    assert bench._qid_ranges(["q1_a", "q3_c", "q4_d"]) == "1,3-4"
    assert bench._qid_ranges(["q7_x"]) == "7"


def test_decisecond_stage_round_trips():
    """When the line carries "qu": "ds", every value is the query's
    seconds x10 rounded to int — verify the decode against the input."""
    qs = _fake_queries(184)
    line = build_driver_line(round(sum(qs.values()), 4), qs, _SCALARS)
    p = json.loads(line)
    if p.get("qu") != "ds":
        return  # a finer stage fit; nothing to decode
    for name, sec in qs.items():
        k = name.split("_")[0].lstrip("q")
        assert p["queries"][k] == int(round(sec * 10))


def test_topn_stage_keeps_slowest_plus_suite(monkeypatch):
    """When even the positional array cannot fit, the line must still
    carry per-query evidence: the slowest queries (flagged by "qtop")
    plus the suite total — never the bare {"suite": total} while top-N
    fits.  Reaching this stage takes thousands of queries now that the
    ds-arr stage exists, so drive it directly: enough queries that the
    ds-arr block (~3 chars/query) blows the real budget, forcing the
    builder past the array stage and into qtop.  (The r8 advisor
    flagged the previous 300-query version as vacuously passing via
    the full-evidence branch.)"""
    import bench

    qs = _fake_queries(1500)
    total = round(sum(qs.values()), 4)
    line = build_driver_line(total, qs, _SCALARS)
    p = json.loads(line)
    assert len(line) < LINE_BUDGET
    assert p.get("qtop") == 24, "expected the top-N stage at 1500 queries"
    assert not _full_per_query(p, 1500)
    # the 24 slowest survive (every 29th fake query is the 3.1456 s
    # outlier) plus the suite total
    slow = sorted(qs.items(), key=lambda kv: -kv[1])[:24]
    qmap = p["queries"]
    assert qmap["suite"] == total
    assert len(qmap) == 25  # 24 queries + "suite"
    for name, sec in slow:
        assert qmap[name.split("_")[0]] == round(sec, 2)

    # and with a budget too small for even the qtop block, the builder
    # must degrade to the bare suite total, then raise — never emit an
    # over-budget line
    monkeypatch.setattr(bench, "LINE_BUDGET", 450)
    p2 = json.loads(bench.build_driver_line(total, qs, _SCALARS))
    assert p2["queries"] == {"suite": total}


def test_registry_query_numbers_unique():
    """The qnum-ordered positional array's append-only guarantee rests
    on query numbers being unique — a duplicated number would make the
    positional deciseconds ambiguous (round-11 review finding)."""
    import bench
    from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
        load_all,
    )

    reg = load_all()
    nums = [bench._qnum(n) for n in reg]
    assert len(nums) == len(set(nums)), "duplicate query numbers"
    assert all(n < 10**9 for n in nums), "unparseable registry name"


def test_shared_query_number_fails_loudly():
    """Two registry names with one qnum would collapse to one named key
    in the ds-mix block; build_driver_line must raise instead."""
    import pytest

    qs = _fake_queries(253)
    qs["q07_another_name"] = 0.5
    with pytest.raises(ValueError, match=r"share query numbers: \[7\]"):
        build_driver_line(round(sum(qs.values()), 4), qs, _SCALARS)
