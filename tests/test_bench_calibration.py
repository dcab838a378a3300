"""Calibration self-check (bench.py + tools/bench_history.py, rounds 10-11).

The bench's box-normalization kernel can fail in BOTH directions. It can
OVER-correct: r8's numpy_mt read its box 1.85x slow while the measured sf1
wall-clock drift of the unchanged headline queries was ~1.15x, so dividing
by the kernel misread the fastest round on record as a 45% regression
(VERDICT r9 "what's wrong #1"). And it can UNDER-read: r10's driver run
measured numpy_mt 1.156 (near-nominal) on a box whose unchanged-query sf1
wall clock had drifted 1.657x — the one-sided r10 gate (which required the
kernel itself to be off-nominal) recorded box_anomalous=false on exactly
the shape it was built to catch (VERDICT r10 "what's wrong #1"). These
tests pin the SYMMETRIC r11 gate: whenever kernel deviation and measured
drift disagree >1.3x in EITHER direction the round is box-anomalous and
the drift-derived divisor supersedes the kernel; a genuinely slow (or
fast) box, where the two agree, is not flagged and keeps the kernel
divisor. No Spark session needed — pure driver-side logic.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from bench import SF1_NOMINAL_REF, _run_extra, calibration_check  # noqa: E402
from bench_history import apply_calibration_checks, load_rounds  # noqa: E402

# r8's actual artifact values — the case that motivated the check.
R8_NUMPY_MT = 2.2499
R8_SF1 = {
    "g3_flagship_pricing_summary": 0.919,
    "j3_star_join_revenue": 1.765,
    "j5_left_outer_join": 0.602,
    "g4_count_distinct_users": 0.373,
    "g6_rollup_time_hierarchy": 0.906,
    "w1_ranking": 1.204,
    "w3_running_sum": 0.678,
    "f3_json_extraction": 0.603,
    "t4_tumbling_window": 0.34,
    "l1_exact_dedup": 0.295,
    "l2_minhash_lsh_pairs": 2.233,
    "l3_cosine_topk": 0.922,
}


def test_r8_shape_is_flagged_anomalous():
    c = calibration_check(R8_NUMPY_MT, R8_SF1)
    assert c["box_anomalous"] is True
    assert c["kernel_deviation"] > 1.8
    # The wall clock moved far less than the kernel claimed.
    assert c["sf1_raw_drift_vs_ref"] < 1.3
    # Over-reading kernel -> the divisor falls back to the drift, not the
    # kernel (dividing by 2.25 would fake a speedup).
    from bench import NOMINAL_NUMPY_MT

    assert abs(
        c["divisor_sec"] - NOMINAL_NUMPY_MT * c["sf1_raw_drift_vs_ref"]
    ) < 0.001


def test_r10_inverse_shape_is_flagged_anomalous():
    """The case the one-sided r10 gate missed: near-nominal kernel on a
    box whose wall clock drifted 1.657x (r10 driver artifact values).
    Symmetric gate must flag it and hand the divisor to the drift."""
    drifted = {k: 1.657 * v for k, v in SF1_NOMINAL_REF.items()}
    c = calibration_check(1.3868, drifted)  # r10's actual numpy_mt
    assert c["kernel_deviation"] < 1.3  # kernel itself reads near-nominal
    assert c["box_anomalous"] is True
    from bench import NOMINAL_NUMPY_MT

    assert abs(c["divisor_sec"] - NOMINAL_NUMPY_MT * 1.657) < 0.01


def test_fast_drift_nominal_kernel_flagged():
    # Symmetry in the other direction: wall clock 2x FASTER than the
    # kernel claims — also a disagreement, also not trendable as-is.
    fast = {k: 0.5 * v for k, v in SF1_NOMINAL_REF.items()}
    c = calibration_check(1.2, fast)
    assert c["box_anomalous"] is True


def test_nominal_box_not_flagged():
    c = calibration_check(1.2159, dict(SF1_NOMINAL_REF))
    assert c["box_anomalous"] is False
    # Agreement -> the kernel stays the divisor.
    assert c["divisor_sec"] == 1.2159


def test_genuinely_slow_box_not_flagged():
    # Kernel 2x AND wall clock 2x: the division is the right correction.
    slow = {k: 2 * v for k, v in SF1_NOMINAL_REF.items()}
    c = calibration_check(2.4, slow)
    assert c["box_anomalous"] is False
    assert abs(c["sf1_raw_drift_vs_ref"] - 2.0) < 0.01
    assert c["divisor_sec"] == 2.4


def test_genuinely_fast_box_not_flagged():
    fast = {k: 0.5 * v for k, v in SF1_NOMINAL_REF.items()}
    c = calibration_check(0.6, fast)
    assert c["box_anomalous"] is False


def test_no_sf1_data_yields_no_verdict():
    # Without wall-clock evidence the check must not guess either way.
    c = calibration_check(2.4, {})
    assert "box_anomalous" not in c
    assert c["kernel_deviation"] == 2.0


def test_history_retro_check_flags_r8_and_r10():
    """Against the real recorded artifacts: r8 (kernel over-read) AND r10
    (kernel under-read — near-nominal kernel, 1.657x drifted box) are
    box-anomalous; r7/r9 pass. r10's artifact RECORDED box_anomalous=false
    under the one-sided gate — the retro recomputation must supersede it."""
    rounds = load_rounds()
    apply_calibration_checks(rounds)
    flagged = {
        n
        for n, r in rounds.items()
        if (r["check"] or {}).get("box_anomalous")
    }
    assert {8, 10} <= flagged
    assert 9 not in flagged and 7 not in flagged
    # r10 must be adjudicated against r9 (the nearest CLEAN nominal round),
    # not against itself-shaped drifted neighbors, and must carry the
    # tier-matched cell divisor its calibrated cells divide by.
    c10 = rounds[10]["check"]
    assert c10["ref_round"] == 9
    assert c10["kernel_deviation"] < 1.3  # the shape the old gate missed
    assert c10["sf1_raw_drift_vs_ref"] > 1.5
    assert 1.4 < c10["cell_divisor_sec"] < 1.9
    for n in flagged:
        # Any flagged round must carry the contradiction evidence, not a
        # bare verdict: kernel and drift disagree >1.3x in some direction.
        c = rounds[n]["check"]
        dev, drift = c["kernel_deviation"], c["sf1_raw_drift_vs_ref"]
        assert dev > 1.3 * drift or dev < drift / 1.3


def test_too_few_shared_queries_yields_no_verdict():
    """Robustness floor (round 11): the median drift of <6 shared queries
    is too noisy to adjudicate — record the kernel, render no verdict."""
    few = {k: 2.0 * v for k, v in list(SF1_NOMINAL_REF.items())[:4]}
    c = calibration_check(1.2, few)
    assert "box_anomalous" not in c and "divisor_sec" not in c
    assert c["kernel_deviation"] == 1.0


def test_epoch_fence_blocks_cross_epoch_adjudication():
    """r15 (first optimization round) opens a new epoch: a post-r15 round
    must never be adjudicated against a pre-r15 reference — the ~2x drop of
    every optimized query would otherwise read as 'anomalous-fast box' and
    the drift divisor would erase the real speedup from the calibrated
    series. Within each epoch the gate works as before."""
    from bench_history import apply_calibration_checks, epoch_of

    assert epoch_of(14) == 1 and epoch_of(15) == 15 and epoch_of(16) == 15

    def rnd(sf1, mt=1.2):
        return {
            "queries": dict(sf1),
            "total": sum(sf1.values()),
            "calibration": {"numpy_mt_sec": mt},
            "sf1_queries": dict(sf1),
            "reconstructed": False,
            "calibrated": True,
            "check": None,
        }

    slow = dict(SF1_NOMINAL_REF)
    fast = {k: 0.5 * v for k, v in slow.items()}  # the optimization
    rounds = {13: rnd(slow), 14: rnd(slow), 15: rnd(fast), 16: rnd(fast)}
    apply_calibration_checks(rounds)
    # pre-r15 epoch: adjudicated against each other, clean
    assert rounds[14]["check"]["ref_round"] == 13
    assert rounds[14]["check"]["box_anomalous"] is False
    # r15 anchors its epoch; once r16 exists it is adjudicated against it
    # (same epoch) — never against the pre-r15 rounds
    assert rounds[15]["check"]["ref_round"] == 16
    assert rounds[15]["check"]["box_anomalous"] is False
    # r16 is adjudicated against r15 (same epoch), NOT r13/r14 — and the
    # 2x code speedup therefore does not read as box anomaly
    assert rounds[16]["check"]["ref_round"] == 15
    assert rounds[16]["check"]["box_anomalous"] is False


def test_failed_extra_is_recorded_not_swallowed():
    """A failing bench extra leaves its error in the payload's ``errors``
    map and the run moves on; extras that succeed add no ``errors`` key."""
    payload = {"metric": "headline_query_total_sec", "value": 1.0}

    def ok() -> None:
        payload["ingest_files_per_sec"] = 12.5

    def broken() -> None:
        raise ValueError("no landing zone")

    _run_extra(payload, "ingest_files_per_sec", ok)
    assert "errors" not in payload
    _run_extra(payload, "feed_rows_per_sec", broken)
    assert payload["errors"] == {"feed_rows_per_sec": "ValueError: no landing zone"}
    assert payload["ingest_files_per_sec"] == 12.5
