"""Generate BENCH_HISTORY.md — cross-round headline-bench history.

``python tools/bench_history.py`` reads every BENCH_r{N}.json the driver has
recorded and tabulates:

1. RAW per-query sf0.1 seconds per round. BENCH_r07's artifact is not
   machine-parseable (the payload outgrew the driver's 2000-char tail before
   the round-8 emission fix), but its tail carries the sf1 block and the
   per-query scaling exponents, so r7's sf0.1 numbers are RECONSTRUCTED as
   t_sf0.1 = t_sf1 / 10^e and marked with an asterisk.
2. CALIBRATED units (sec / numpy_mt_sec) for every round whose artifact
   carries the bench.py calibration kernel (r8 onward; r7's local-session
   constant numpy_mt ~= 1.2 is recorded in STATUS.md but was truncated out
   of the official artifact, so r7 calibrated cells are reconstructed and
   asterisked too).

Raw seconds across rounds conflate code changes with driver-box speed:
r5 -> r6 showed a uniform +15-45% drift on unchanged queries that an
interleaved on-box A/B adjudicated as "box, not code" (VERDICT r7), and the
r3 -> r4 jump has the same uniform-shift signature. The calibrated series is
the one to trend; the raw table is kept because it is what the driver
actually measured.

SELF-CHECK (rounds 10-11): the kernel can OVER-correct — r8's numpy_mt read
its box 1.85x slow while the median sf1 raw drift of the unchanged headline
queries vs the nearest nominal-kernel round was only ~1.15x (the AVX kernel
throttles harder than Spark JVM wall time), so r8's calibrated cells divide
by ~1.9x too much and made the genuinely fastest rounds look like
regressions. The kernel can also UNDER-read — r10's driver run measured
numpy_mt 1.156 (near-nominal) on a box whose unchanged-query sf1 wall clock
had drifted 1.657x (the judge's quiet-box rerun of identical code measured
10.65 s sf0.1 / 13.74 s sf1, and the same kernel read 1.655 hours later), so
the r10 kernel-divided cells UNDER-correct and trend a ~15-70% regression
that is box state, not code. The check is therefore SYMMETRIC (round 11):
whenever a round's kernel deviation and its measured sf1 drift vs the
nearest nominal round disagree by >1.3x in EITHER direction, the column is
marked box-anomalous (``(!)``) and its calibrated cells are divided by the
TIER-MATCHED drift divisor (1.2 s nominal x median sf0.1 drift of shared
queries vs the reference round) instead of the kernel. Checks are
recomputed retroactively on every regeneration with bench.py's current
``calibration_check`` — artifacts recorded before the symmetric gate carry
the stale one-sided verdict (r10's artifact says box_anomalous=false on
exactly the disagreement the gate was built for), so the recomputation is
the authority; rounds the recomputation flags are also dropped from the
reference pool so a drifted-but-nominal-kernel round can never serve as
another round's "nominal" baseline.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))  # for `from bench import calibration_check`

# Optimization-round epochs: an optimization round changes the COST of every
# headline query BY DESIGN, so "drift of unchanged queries" measured across
# that boundary is code, not box. Each round is therefore adjudicated only
# against reference rounds in its OWN epoch; the first round of a new epoch
# anchors it (no verdict until a second same-epoch round exists). r15 is the
# first optimization round (declared in OPTIMIZATION_r15.md).
EPOCH_STARTS = (1, 15)


def epoch_of(n: int) -> int:
    return max(e for e in EPOCH_STARTS if e <= n)


# Round-over-round annotations established by prior verdicts (kept in the
# generator so regeneration never loses them).
NOTES = [
    "r3 -> r4 raw jump (+62% total) is a uniform shift across unchanged "
    "queries - same box-drift signature later proven for r5 -> r6.",
    "r5 -> r6 drift adjudicated 'box, not code' by interleaved on-box A/B "
    "at the r5/r6 commits (VERDICT r7): min-of-mins within +/-10%, r6 "
    "marginally faster.",
    "r7 cells (*) are reconstructed: sf0.1 = sf1 / 10^exponent from the "
    "artifact tail (the pre-fix emission truncated the sf0.1 block); "
    "calibrated cells divide by the ~=1.2 s numpy_mt constant recorded in "
    "STATUS.md r7, not a same-run measurement.",
    "r15 is the first OPTIMIZATION round: every headline query's cost "
    "changed by design (see OPTIMIZATION_r15.md), so r15 opens a new "
    "adjudication epoch - its drift is never measured against pre-r15 "
    "rounds (that drift is the optimization, not the box), and bench.py's "
    "nominal reference snapshots were re-based from the optimized code "
    "(per-query MIN over SIX same-day frozen-methodology runs - the count "
    "here previously said four, reconciled r16 per ADVICE; pre-r15 "
    "snapshots preserved in bench.py as *_PRE_R15). Caveat (ADVICE r15): "
    "the six runs' kernels spanned 0.87-1.41, so min-pooling approximates "
    "the box's FASTEST state (~0.87x nominal) - the refs read ~10-15% "
    "fast, biasing drift ratios toward 'slow'. Known, documented, and NOT "
    "re-based in r16: r16 keeps the r15 epoch (only g6 of 12 headliners "
    "changed cost, and the drift statistic is a median, robust to one "
    "changed query) so the epoch can render its first same-epoch verdicts; "
    "re-basing again would orphan both rounds as anchor-only.",
    "w1_ranking r15 'regression' (0.386 -> 0.458, 0.84x) adjudicated BOX "
    "NOISE in r16: w1's code is untouched since r14 (committed before/after "
    "plans identical in shape - one exchange + one sort + WindowGroupLimit), "
    "and two r16-session quiet-box runs of the SAME epoch measured 0.423 s "
    "(kernel deviation 1.08) and 0.294 s (kernel 0.80) at sf0.1, bracketing "
    "the r15 driver's 0.458 well inside w1's historical band (0.336-0.528 "
    "across r1-r14). No action.",
    "g6_rollup_time_hierarchy r15 'regression' (0.580 -> 0.639, 0.91x) "
    "settled in r16 by rewrite: the three-way union depended on runtime "
    "exchange reuse that the committed plan never proved; the r16 "
    "rollup-over-finest form is structurally single-scan (executed plan + "
    "test pin), measured 1.29x sf0.1 / 1.42x sf1 vs the union and 1.42x / "
    "1.57x vs a native rollup (tools/ab.py g6).",
    "Calibrated units = sec / numpy_mt_sec measured in the SAME session "
    "right after the query block (bench.py kernel, frozen definition); "
    "they are box-independent and are the series to trend. Box-anomalous "
    "(!) columns are where the kernel's reading and the measured sf1 "
    "wall-clock drift disagree >1.3x (the kernel over-read on r8, "
    "under-read on r10 - it throttles on its own schedule and is unstable "
    "on drifted boxes); those columns divide by the tier-matched sf0.1 "
    "drift divisor instead, so they stay trendable.",
    "r8 (!) adjudication (VERDICT r9): numpy_mt 2.25 read the box 1.87x "
    "slow, but r8's sf1 raw was WITHIN ~15% of both neighbors (10.84 s vs "
    "r7 11.15 / r9 9.36) - the AVX kernel throttled far harder than Spark "
    "JVM wall time, so r8's calibrated cells divide by ~1.9x too much. On "
    "nominal-box raw, r9 is the fastest round of the first nine.",
    "r10 (!) adjudication (VERDICT r10): the INVERSE anomaly - kernel "
    "1.156 (near-nominal) while unchanged-query sf1 raw drifted 1.657x vs "
    "r9 (g3/j3, untouched since r9, drifted 2.26x/2.03x at sf1 - the "
    "uniform box-drift signature). The judge's quiet-box rerun of "
    "IDENTICAL r10 code measured 10.65 s sf0.1 / 13.74 s sf1, and the "
    "same kernel read 1.655 hours later on the same box - the kernel is "
    "unstable on this box and under-read the drift. The one-sided r10 "
    "gate (box_anomalous required kernel_off_nominal) recorded "
    "box_anomalous=false in the artifact; the symmetric r11 gate "
    "supersedes it, and r10's cells divide by the sf0.1 drift divisor so "
    "the calibrated series does not trend a regression that is box state.",
]


def load_rounds() -> dict[int, dict]:
    """round -> {queries: {name: sec}, total, calibration, calibrated,
    sf1_queries, check, reconstructed: bool}"""
    out: dict[int, dict] = {}
    for p in sorted(REPO.glob("BENCH_r*.json")):
        n = int(re.search(r"BENCH_r(\d+)", p.name).group(1))
        d = json.loads(p.read_text())
        tail = d.get("tail", "")
        m_sf1 = re.search(r'"sf1": ({.*?"sf": 1\.0})', tail)
        sf1_q = json.loads(m_sf1.group(1))["queries"] if m_sf1 else {}
        parsed = d.get("parsed")
        if parsed:
            out[n] = {
                "queries": parsed.get("queries", {}),
                "total": parsed.get("value"),
                "calibration": parsed.get("calibration"),
                "calibrated": parsed.get("queries_calibrated"),
                "check": parsed.get("calibration_check"),
                "sf1_queries": sf1_q,
                "reconstructed": False,
            }
            continue
        # Unparseable artifact: reconstruct from the tail's sf1 block +
        # per-query exponents (t_sf0.1 = t_sf1 / 10^e).
        m_exp = re.search(r'"scaling_exponent": ({[^{}]*})', tail)
        if not (m_sf1 and m_exp):
            continue
        exp = json.loads(m_exp.group(1))
        qs = {
            name: round(t / (10 ** exp[name]), 3)
            for name, t in sf1_q.items()
            if name in exp
        }
        out[n] = {
            "queries": qs,
            "total": round(sum(qs.values()), 3),
            "calibration": None,
            "calibrated": None,
            "check": None,
            "sf1_queries": sf1_q,
            "reconstructed": True,
        }
    return out


def apply_calibration_checks(rounds: dict[int, dict]) -> None:
    """Recompute every calibrated round's ``check`` (kernel_deviation,
    sf1_raw_drift, box_anomalous, divisor) with bench.py's CURRENT
    ``calibration_check`` — ONE definition of the adjudication math.
    Artifact-recorded checks are superseded, not trusted: pre-r11 artifacts
    carry the one-sided gate (r10's says box_anomalous=false on exactly the
    kernel-under-reads case the symmetric gate exists for). The cross-check
    reference is the NEAREST round whose own kernel read nominal (within
    1.3x) AND which the recomputation itself does not flag — two passes, so
    a drifted box with a near-nominal kernel (the r10 shape) is evicted
    from the pool before anyone normalizes against it. For flagged rounds,
    ``cell_divisor_sec`` carries the TIER-MATCHED sf0.1 drift divisor used
    for that round's calibrated cells."""
    from bench import NOMINAL_NUMPY_MT, calibration_check, drift_divisor

    def mt(n: int) -> float | None:
        cal = rounds[n]["calibration"]
        if cal and cal.get("numpy_mt_sec"):
            return cal["numpy_mt_sec"]
        return R7_NUMPY_MT if rounds[n]["reconstructed"] else None

    pool = [
        n
        for n in rounds
        if mt(n) is not None
        and 1 / 1.3 <= mt(n) / NOMINAL_NUMPY_MT <= 1.3
        and rounds[n]["sf1_queries"]
    ]

    def check_against(n: int, candidates: list[int]) -> dict | None:
        # epoch fence: a reference from another epoch measures code change,
        # not box state — never adjudicate across the boundary
        refs = [m for m in candidates if m != n and epoch_of(m) == epoch_of(n)]
        if mt(n) is None:
            return None
        ref_n = min(refs, key=lambda m: abs(m - n)) if refs else None
        c = calibration_check(
            mt(n),
            rounds[n]["sf1_queries"] or {},
            ref=rounds[ref_n]["sf1_queries"] if ref_n is not None else {},
        )
        c["ref_round"] = ref_n
        return c

    # Pass 1: build the clean reference pool CHRONOLOGICALLY. Box drift is
    # adjudicated against the established past (the r8 precedent): the
    # earliest nominal-kernel round anchors, and each later candidate joins
    # only if the symmetric gate clears it against the clean rounds
    # accepted so far. Pairwise nearest-neighbor checks inside the full
    # pool would let a freshly-drifted box and its clean predecessor accuse
    # EACH OTHER (r9 vs r10 disagree 1.68x from both sides) and evict both.
    clean_pool: list[int] = []
    for n in sorted(pool):
        if not any(epoch_of(m) == epoch_of(n) for m in clean_pool):
            # epoch anchor: nothing earlier IN THIS EPOCH to judge against
            clean_pool.append(n)
            continue
        if not (check_against(n, clean_pool) or {}).get("box_anomalous"):
            clean_pool.append(n)
    # Pass 2: final checks for every round against the cleaned pool.
    for n, r in rounds.items():
        c = check_against(n, clean_pool or pool)
        if c is None:
            continue
        if c.get("box_anomalous") and c.get("ref_round") is not None:
            div = drift_divisor(
                r["queries"] or {}, rounds[c["ref_round"]]["queries"] or {}
            )
            if div:
                c["cell_divisor_sec"] = div
        r["check"] = c


# STATUS.md r7 records the builder session's calibration constant; used only
# for the asterisked r7 calibrated column.
R7_NUMPY_MT = 1.2


def render(rounds: dict[int, dict]) -> str:
    ns = sorted(rounds)
    names = sorted({q for r in rounds.values() for q in r["queries"]})
    star = lambda n: "*" if rounds[n]["reconstructed"] else ""  # noqa: E731

    lines = [
        "# BENCH_HISTORY - cross-round headline bench",
        "(generated by tools/bench_history.py - regenerate, don't edit)",
        "",
        "## Raw seconds, sf0.1 driver runs",
        "",
        "| query | " + " | ".join(f"r{n}{star(n)}" for n in ns) + " |",
        "|---|" + "---|" * len(ns),
    ]
    for q in names:
        row = [
            ("%.3f" % rounds[n]["queries"][q]) if q in rounds[n]["queries"] else "-"
            for n in ns
        ]
        lines.append(f"| {q} | " + " | ".join(row) + " |")
    lines.append(
        "| **total** | "
        + " | ".join("%.2f" % rounds[n]["total"] for n in ns)
        + " |"
    )

    cal_ns = [
        n for n in ns if rounds[n]["calibrated"] or rounds[n]["reconstructed"]
    ]
    anomalous = lambda n: bool(  # noqa: E731
        (rounds[n]["check"] or {}).get("box_anomalous")
    )
    dag = lambda n: "(!)" if anomalous(n) else ""  # noqa: E731
    lines += [
        "",
        "## Calibrated units (sec / divisor, box-independent)",
        "",
        "Divisor = same-session numpy_mt_sec for clean columns. "
        "(!) = box-anomalous column (kernel deviation and measured sf1 "
        "drift disagree >1.3x): the kernel is not trusted there, and the "
        "cells are instead divided by the tier-matched drift divisor "
        "(1.2 s nominal x median sf0.1 drift vs the reference round) — "
        "see self-check notes below.",
        "",
        "| query | " + " | ".join(f"r{n}{star(n)}{dag(n)}" for n in cal_ns) + " |",
        "|---|" + "---|" * len(cal_ns),
    ]

    def cal_cell(n: int, q: str) -> str:
        r = rounds[n]
        div = (r["check"] or {}).get("cell_divisor_sec")
        if anomalous(n) and div and q in r["queries"]:
            return "%.2f" % (r["queries"][q] / div)
        if r["calibrated"] and q in r["calibrated"]:
            return "%.2f" % r["calibrated"][q]
        if r["reconstructed"] and q in r["queries"]:
            return "%.2f" % (r["queries"][q] / R7_NUMPY_MT)
        return "-"

    for q in names:
        lines.append(
            f"| {q} | " + " | ".join(cal_cell(n, q) for n in cal_ns) + " |"
        )
    mt = lambda n: (  # noqa: E731
        (rounds[n]["calibration"] or {}).get("numpy_mt_sec")
        or (R7_NUMPY_MT if rounds[n]["reconstructed"] else None)
    )
    lines.append(
        "| numpy_mt_sec | "
        + " | ".join("%.3f" % mt(n) if mt(n) else "-" for n in cal_ns)
        + " |"
    )
    # Self-check rows: rendered from the recorded/retro-computed check so
    # regeneration keeps the evidence next to the numbers it qualifies.
    checks = [(n, rounds[n]["check"]) for n in cal_ns if rounds[n]["check"]]
    if checks:
        lines += ["", "### Calibration self-check", ""]
        for n, c in checks:
            div = c.get("cell_divisor_sec")
            verdict = (
                "BOX-ANOMALOUS - kernel not trusted; cells divided by the "
                f"sf0.1 drift divisor {div} s"
                if c.get("box_anomalous")
                else "ok"
            )
            drift = c.get("sf1_raw_drift_vs_ref")
            ref_n = c.get("ref_round")
            lines.append(
                f"- r{n}: kernel deviation {c['kernel_deviation']}x nominal"
                + (
                    f", sf1 raw drift {drift}x vs r{ref_n}"
                    if drift is not None
                    else ""
                )
                + f" -> {verdict}."
            )
    lines += ["", "## Notes", ""]
    lines += [f"- {note}" for note in NOTES]
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    rounds = load_rounds()
    apply_calibration_checks(rounds)
    md = render(rounds)
    out = REPO / "BENCH_HISTORY.md"
    out.write_text(md)
    sys.stdout.write(f"wrote {out} ({len(rounds)} rounds)\n")
