"""bench.py's drift instrument: the anchor-median calibration and the
regression flags. The instrument decides which regressions a human must
investigate, so its own logic needs pins: true medians, clamp-at-1, the
run statistics and the jobs/compiles evidence on each flag."""

from __future__ import annotations

import importlib.util
import os

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench.py"))
bench = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(bench)

ANCHORS = bench.ANCHORS


def _base(prev_val=1.0, now_mult=1.0):
    prev = {a: prev_val for a in ANCHORS}
    now = {a: prev_val * now_mult for a in ANCHORS}
    return prev, now


def test_no_prev_means_no_report():
    assert bench.drift_report({"q": 1.0}, {}) == (None, {})


def test_uniform_host_drift_excuses_everything():
    prev, now = _base(1.0, 1.6)            # every anchor 1.6x slower
    prev["slow_q"] = 1.0
    now["slow_q"] = 1.7                    # within the host band
    rec, movers = bench.drift_report(now, prev)
    assert rec["applied"] == pytest.approx(1.6)
    assert movers == {}                    # 1.7 < 1.6 * 1.25


def test_family_drift_is_true_median_not_max():
    """xs[len//2] on an even anchor count picks the upper middle. Three
    bursty anchors (1.5x) with three flat ones (1.0x) must yield drift
    1.25, not 1.5."""
    prev, now = _base(1.0, 1.0)
    for a in ANCHORS[::2]:
        now[a] = 1.5                       # bursty
    rec, _ = bench.drift_report(now, prev)
    assert rec["drift"] == pytest.approx(1.25)
    assert rec["spread"] == [1.0, 1.5]


def test_speedup_never_amplifies():
    """A uniform code speedup (anchors < 1) must clamp to 1, not
    inflate the normalized pct of untouched queries."""
    prev, now = _base(1.0, 0.5)
    prev["same_q"] = 1.0
    now["same_q"] = 1.1
    rec, movers = bench.drift_report(now, prev)
    assert rec["applied"] == 1.0
    assert "same_q" not in movers          # 1.1 < 1 * 1.25


def test_runs_rising_wave_signature_rides_the_flag():
    """A time-localized contention wave multiplies a query's runs with
    a RISING within-query profile while the anchors sit flat — the one
    shape the anchor median cannot see.
    The per-run arrays already record it; the flag must carry
    runs / runs_rising / runs_spread so adjudication reads the
    REGRESSIONS line, not a BENCH_DETAIL exhumation."""
    prev, now = _base(1.0, 1.0)
    prev["waved_q"], now["waved_q"] = 1.0, 4.3
    prev["flat_q"], now["flat_q"] = 1.0, 2.0
    runs = {"waved_q": [4.3, 7.3, 7.8],       # the r12 d_simhash shape
            "flat_q": [2.2, 2.0, 2.1]}        # a real plan regression
    rec, movers = bench.drift_report(now, prev, all_runs=runs)
    assert movers["waved_q"]["runs_rising"] is True
    assert movers["waved_q"]["runs"] == [4.3, 7.3, 7.8]
    assert movers["waved_q"]["runs_spread"] == pytest.approx(1.81, abs=0.01)
    assert movers["flat_q"]["runs_rising"] is False
    assert movers["flat_q"]["runs_spread"] == pytest.approx(1.1, abs=0.01)
    assert rec["n_wave_suspect"] == 1


def test_runs_stats_absent_without_run_arrays():
    """Backward compatible: a caller without all_runs (the unit tests
    above, a detail-file replay) gets flags without the run stats."""
    prev, now = _base(1.0, 1.0)
    prev["slow_q"], now["slow_q"] = 1.0, 2.0
    _rec, movers = bench.drift_report(now, prev)
    assert "runs_rising" not in movers["slow_q"]
    assert "runs" not in movers["slow_q"]


def test_flag_carries_jobs_and_compiles_of_both_records():
    """A flag shows whether the job or the compile count moved: this
    run's counts always, the baseline's where its record has them."""
    prev, now = _base(1.0, 1.0)
    prev["moved_q"], now["moved_q"] = 1.0, 2.0
    prev["new_q"], now["new_q"] = 1.0, 2.0
    rec = {"construct_s": 0.5, "action_s": 1.5, "construct_jobs": 2,
           "action_jobs": 3, "compiles": 4}
    records = {"moved_q": rec, "new_q": rec}
    prev_records = {"moved_q": dict(rec, construct_jobs=1, compiles=0)}
    _rec, movers = bench.drift_report(now, prev, records=records,
                                      prev_records=prev_records)
    assert {k: movers["moved_q"][k] for k in
            ("jobs", "compiles", "prev_jobs", "prev_compiles")} == \
        {"jobs": 5, "compiles": 4, "prev_jobs": 4, "prev_compiles": 0}
    assert (movers["new_q"]["jobs"], movers["new_q"]["compiles"]) == (5, 4)
    assert "prev_jobs" not in movers["new_q"]


# --- detail_record: the durable flag map (round 14, verdict r13 #8) ---------

DETAIL_FIELDS = ("queries", "all_runs", "anchor_drift", "regressions",
                 "worst5", "total_cold", "total_warm", "sf")


def test_detail_record_carries_complete_flag_map():
    """BENCH_r13.json's stdout tail truncated 7/11 REGRESSIONS flags;
    the detail file is the durable record — pin that detail_record()
    passes EVERY flag through verbatim alongside the raw run arrays and
    the per-query records."""
    timings = {"a": 1.0, "b": 2.0}
    runs = {"a": [1.2, 1.0, 1.1], "b": [2.0, 2.4, 2.2]}
    movers = {"b": {"prev": 1.0, "now": 2.0, "pct": 100.0,
                    "runs": [2.0, 2.4, 2.2], "jobs": 3, "compiles": 0,
                    "runs_rising": False, "runs_spread": 1.2}}
    anchor = {"drift": 1.0, "applied": 1.0}
    records = {q: dict.fromkeys(bench.RECORD_FIELDS, 0) for q in timings}
    rec = bench.detail_record(timings, runs, anchor, movers, 0.1, records)
    for field in DETAIL_FIELDS + ("records",):
        assert field in rec, field
    assert rec["regressions"] == movers          # verbatim, no trim
    assert rec["all_runs"] == runs
    assert rec["records"] == records
    assert rec["worst5"] == ["b", "a"]
    assert rec["total_warm"] == 3.0
    assert rec["total_cold"] == pytest.approx(3.2)


def test_newest_on_disk_detail_has_flag_fields():
    """The committed artifact itself (not just the builder) must carry
    the full flag map, so a judge can audit adjudications without
    exhuming commits."""
    import glob
    import json
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(here, "BENCH_DETAIL_r??.json")))
    assert files, "no BENCH_DETAIL records on disk"
    with open(files[-1]) as fh:
        rec = json.load(fh)
    for field in DETAIL_FIELDS:
        assert field in rec, field
    for flag in rec["regressions"].values():
        assert {"prev", "now", "pct"} <= set(flag)


# --- BENCH_SF1: the empirical 10x scale point (round 14, verdict r13 #2) ----

def test_scale_record_on_disk_is_complete():
    """BENCH_SF1.json must carry, per query, both scale points with
    times, rows, and shuffle/spill bytes — and the raster family's
    grid probes (tile-count axis) alongside the table-scale rows, so
    the 100-TB linear-scatter claims stay backed by numbers."""
    import json
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, "BENCH_SF1.json")
    assert os.path.exists(path), "no BENCH_SF1 scale record on disk"
    with open(path) as fh:
        rec = json.load(fh)
    assert rec["metric"] == "scale_slope_10x"
    assert "max_slope" in rec and "median_slope" in rec
    for probe in rec["grid_probes"]["names"]:
        assert probe in rec["queries"], probe
    for name, q in rec["queries"].items():
        for field in ("t_small", "t_big", "slope", "rows_small",
                      "rows_big", "shuffle_small", "shuffle_big",
                      "spill_small", "spill_big"):
            assert field in q, (name, field)
        # a scale row with an empty big-side result measured nothing
        assert q["rows_big"] > 0, (name, "empty result at big scale")
