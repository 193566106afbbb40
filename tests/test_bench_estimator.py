"""Unit tests for bench.scaling_estimate — the N→4N efficiency estimator.

The estimator's semantics encode a measured co-tenant load model (see
BENCH.md "Scaling" and bench.py's docstring); these tests pin each branch
with the actual numbers observed on this box so a refactor can't silently
change what the driver-reported scaling efficiency MEANS. Pure Python —
no Spark session.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _compact, scaling_estimate, scaling_median


def test_clean_window_pair():
    # Clean-run band (BENCH.md table): big 67.7k best, small 19.6k best,
    # paired trials read ~0.86.
    eff, ratios = scaling_estimate(
        [67341.0, 67672.0], [15682.0, 19628.0]
    )
    assert ratios == [1.074, 0.862]
    # trial 1's 1.074 is a starved-small artifact -> excluded; trial 2
    # carries, and the composite (67672 / 4*19628 = 0.862) agrees.
    assert eff == 0.862


def test_loaded_window_big_only_retries():
    # Validation-12 shape: 2 paired trials + 3 big-only retry samples.
    # Extra big runs must reach the estimate ONLY through the composite;
    # per-trial ratios pair index-exact over the 2-trial prefix.
    big = [32391.2, 33561.0, 26539.3, 44958.3, 36480.5]
    small = [16970.9, 14406.4]
    eff, ratios = scaling_estimate(big, small)
    assert len(ratios) == 2  # zip truncates to the paired prefix
    assert ratios == [0.477, 0.582]
    assert eff == 0.662  # 44958.3 / (4 * 16970.9), the retry's whole point


def test_retry_can_only_raise_the_estimate():
    base_big, base_small = [30000.0, 31000.0], [16000.0, 15000.0]
    eff0, _ = scaling_estimate(base_big, base_small)
    for retry in (5000.0, 30000.0, 64000.0):
        eff, _ = scaling_estimate(base_big + [retry], base_small)
        assert eff >= eff0


def test_starved_small_composite_capped():
    # Best big over best small exceeds 1.0 (the small level starved in
    # every window): that composite is physically impossible and must be
    # dropped — as is the >1 per-trial ratio — leaving the best plausible
    # per-trial reading.
    eff, ratios = scaling_estimate([70000.0, 58000.0], [10000.0, 16000.0])
    assert ratios == [1.75, 0.906]
    # composite 70000/(4*16000) = 1.094 > 1 -> excluded
    assert eff == 0.906


def test_all_ratios_implausible_falls_back():
    # Every window starved the small level: nothing <= 1.0 to pick from,
    # so the estimator reports the least-implausible reading rather than
    # crashing (the retry loop then keeps buying windows).
    eff, ratios = scaling_estimate([80000.0], [10000.0])
    assert ratios == [2.0]
    assert eff == 2.0


def test_scaling_median_excludes_implausible():
    # >1.0 ratios are starved-small artifacts — excluded from the median
    # exactly as from the best-of estimate; median shows the spread the
    # one-sided best-of headline hides.
    assert scaling_median([1.074, 0.862, 0.70]) == 0.781
    assert scaling_median([0.5, 0.9]) == 0.7
    # fallback: nothing plausible -> median of what exists, not a crash
    assert scaling_median([1.5, 2.0]) == 1.75


def _detail_fixture():
    return {
        "metric": "m",
        "value": 15.1,
        "unit": "sec",
        "sf": "/root/testdata/sf0.1",
        "queries": {f"q{i}": 1.0 for i in range(15)},
        "pages_rows": 476500,
        "extract": {
            "local[32]": {"docs": 476500, "secs": 4.0,
                          "docs_per_sec": 119125.0},
            "local[2]": {"best_docs_per_sec": 15682.0,
                         "runs": [15682.0, 14000.0]},
            "local[8]": {"best_docs_per_sec": 54000.0,
                         "runs": [54000.0, 50000.0]},
        },
        "scaling_efficiency": 0.862,
        "scaling_per_trial": [1.074, 0.862],
        "scaling_median": 0.862,
        "scaling_note": "x" * 1000,
        "bench_wall_secs": 600.0,
    }


def test_compact_line_fits_driver_tail():
    # The driver retains a 2000-char stdout TAIL; BENCH_r04 parsed null
    # because the final line exceeded it. The compact line must stay a
    # complete object well inside that window.
    import json

    line = json.dumps(_compact(_detail_fixture(), extras_timed=46,
                               extras_skipped=0))
    assert len(line) < 1500
    obj = json.loads(line)
    assert obj["value"] == 15.1
    assert obj["extract_docs_per_sec"]["local[32]"] == 119125.0
    assert obj["extract_docs_per_sec"]["local[2]"] == 15682.0
    assert obj["scaling_efficiency"] == 0.862
    assert obj["scaling_median"] == 0.862
    assert obj["extras_timed"] == 46 and obj["extras_skipped"] == 0
    assert "scaling_note" not in obj and "pages_rows" not in obj


def test_compact_drops_queries_rather_than_overflow():
    d = _detail_fixture()
    d["queries"] = {f"very_long_query_name_number_{i:04d}": 1.234
                    for i in range(200)}
    c = _compact(d)
    import json

    assert "queries" not in c
    assert len(json.dumps(c)) < 1500


def test_monotone_load_decay_order_bias_symmetry():
    # The per-trial ratio is direction-blind: the estimator itself cannot
    # tell which level ran first, which is why run_trial alternates order
    # — this test just pins that estimate() only consumes magnitudes.
    eff_ab, _ = scaling_estimate([40000.0, 60000.0], [12000.0, 17000.0])
    eff_ba, _ = scaling_estimate([60000.0, 40000.0], [17000.0, 12000.0])
    assert eff_ab == eff_ba == 0.882


def test_bench_name_lists_resolve_in_queries():
    """bench.py derives every timed name from __spark_entry__.REGISTRY, so
    the registry itself must be well-formed: one row per name, a known
    tier per row, the extras warm-up query present, and a non-empty
    headline suite."""
    import __spark_entry__ as entry
    from bench import tier_names

    names = [fn.__name__[2:] for fn, _ in entry.REGISTRY]
    assert len(names) == len(set(names))
    assert {t for _, t in entry.REGISTRY} <= {
        "headline", "default", "opt_in", "untimed"}
    # the extras-phase warm-up query is pinned by name
    assert "retrieval_rerank" in names
    assert tier_names("headline")
