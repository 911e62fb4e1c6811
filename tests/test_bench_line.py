"""Driver-tail budget guard for bench.py's final JSON line.

The driver machine-parses only the last ~2000 chars of bench stdout.
Round 7's two-pass change grew the final line past that window and
BENCH_r07 recorded "parsed": null — the bench queries were fine but the
round had no official bench record. These tests pin the encoding so
bench-set growth can't silently re-break the parse: the final line for
the CURRENT bench query set must stay under budget with worst-case
timing widths, and the fallback (drop the per-query dict, point at
BENCH_DETAIL.json) must itself stay parseable and under budget.
"""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from project_orbit_spark import registry  # noqa: E402


def _bench_module():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _worst_case_payload(names: list[str]) -> dict:
    # 999.99 is wider than any plausible per-query median at the
    # encoder's 2dp headline quantization (full 3dp goes to
    # BENCH_DETAIL.json); a real run only ever produces a SHORTER
    # line than this synthetic one.
    return {
        "metric": "headline_query_set_total",
        "value": 99999.999,
        "unit": "sec",
        "queries": {n: 999.99 for n in sorted(names)},
        "value_run2": 99999.999,
        "value_best": 99999.999,
        "load": [99.99, 99.99, 99.99],
        "reps": 3,
        "sf": 0.1,
    }


def test_current_bench_set_fits_driver_tail_window():
    """Worst-case widths (999.999s medians): the line must stay inside
    the driver's tail window, keep the headline value, and lose AT
    MOST a handful of per-query entries to the graduated fallback —
    never the whole dict."""
    bench = _bench_module()
    names = list(registry.bench_queries())
    line = bench.build_payload_line(_worst_case_payload(names))
    assert len(line) < 1900, (
        f"bench final line is {len(line)} chars for {len(names)} bench "
        "queries — the driver's 2000-char tail window will truncate it "
        "(BENCH_r07 regression). Trim query names or let the "
        "build_payload_line fallback drop entries."
    )
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_query_set_total"
    assert set(parsed["queries"]) <= set(names)
    omitted = parsed.get("queries_omitted", 0)
    assert len(parsed["queries"]) + omitted == len(names)
    assert omitted <= 5, (
        f"graduated fallback dropped {omitted} entries under worst-case "
        "widths — the bench set has outgrown the tail window; trim it"
    )


def test_realistic_widths_keep_the_full_bench_dict():
    """At measured widths (<10 s medians — the slowest sf0.1 bench
    query has never exceeded 15 s) the FULL per-query dict must
    survive into the official driver record with no fallback; even
    at a pessimistic <100 s width the graduated fallback may shave
    a small, bench-set-proportional tail (1 per ~20 queries — grew
    from 2 to 3 when r12 added the two curation-pipeline rows)."""
    bench = _bench_module()
    names = list(registry.bench_queries())
    payload = _worst_case_payload(names)
    payload["queries"] = {n: 9.99 for n in sorted(names)}
    parsed = json.loads(bench.build_payload_line(payload))
    assert set(parsed["queries"]) == set(names)
    assert "queries_omitted" not in parsed
    payload["queries"] = {n: 99.99 for n in sorted(names)}
    parsed = json.loads(bench.build_payload_line(payload))
    assert parsed.get("queries_omitted", 0) <= max(2, -(-len(names) // 20))


def test_oversize_payload_degrades_gradually_with_pointer():
    bench = _bench_module()
    # 200 synthetic long-named queries blow any budget; the graduated
    # encoder must keep as many entries as fit, account for the rest
    # in queries_omitted, point at the side file, and stay parseable
    names = [f"extremely_long_synthetic_query_name_number_{i:04d}" for i in range(200)]
    line = bench.build_payload_line(_worst_case_payload(names))
    assert len(line) < 1900
    parsed = json.loads(line)
    assert parsed["queries_in"] == "BENCH_DETAIL.json"
    assert len(parsed["queries"]) + parsed["queries_omitted"] == 200
    assert len(parsed["queries"]) > 0, "graduated fallback kept nothing"
    assert parsed["value"] == 99999.999
    assert parsed["value_run2"] == 99999.999


def test_failed_list_survives_fallback():
    bench = _bench_module()
    payload = _worst_case_payload(list(registry.bench_queries()))
    payload["failed"] = ["some_query"]
    parsed = json.loads(bench.build_payload_line(payload))
    assert parsed["failed"] == ["some_query"]

