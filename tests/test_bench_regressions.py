"""bench.py regression diff: an intentional slowdown must trip the
`regressions` field (round-9 verdict #3) while an ambient host-drift
burst must NOT (round-10 verdict #5) — pure-Python, no Spark."""

from __future__ import annotations

from bench import diff_regressions


def _quiet_run(n=20, sec=1.0):
    return {f"q{i:02d}": sec for i in range(n)}


def test_intentional_slowdown_trips_on_quiet_run():
    prev = _quiet_run()
    cur = {**_quiet_run(), "q03": 2.1}
    regs = diff_regressions(prev, cur)
    assert [r["query"] for r in regs] == ["q03"]
    assert regs[0]["ratio"] == 2.1
    assert regs[0]["base_sec"] == 1.0 and regs[0]["cur_sec"] == 2.1
    assert regs[0]["run_drift"] == 1.0


def test_ambient_drift_burst_is_not_flagged():
    """The PARITY.md run-3 scenario: ~half the table slows 1.5-2.2x
    simultaneously from host drift.  The run-level drift factor rises
    with the burst, so none of them read as structural."""
    prev = _quiet_run(30)
    cur = {
        name: (sec * (1.5 + 0.7 * (i % 11) / 10) if i < 16 else sec * 1.4)
        for i, (name, sec) in enumerate(prev.items())
    }
    assert diff_regressions(prev, cur) == []


def test_structural_slowdown_still_trips_under_mild_drift():
    """Everything drifts ~1.2x but one query goes 3x: the normalized
    threshold (1.5 x drift = 1.8) still catches it."""
    prev = _quiet_run(20)
    cur = {name: sec * 1.2 for name, sec in prev.items()}
    cur["q05"] = 3.0
    regs = diff_regressions(prev, cur)
    assert [r["query"] for r in regs] == ["q05"]
    assert regs[0]["run_drift"] == 1.2


def test_multi_run_median_baseline():
    """One outlier run in the history cannot poison the baseline: the
    per-query baseline is the median across the recorded runs."""
    fast, outlier = _quiet_run(10, 1.0), _quiet_run(10, 0.2)
    cur = {**_quiet_run(10, 1.0), "q01": 2.2}
    # single-table API still works (prev as dict)
    assert [r["query"] for r in diff_regressions(fast, cur)] == ["q01"]
    # with an outlier-fast run in history, median(1.0, 0.2, 1.0) = 1.0:
    # steady queries stay quiet, the real 2.2x still trips
    regs = diff_regressions([fast, outlier, fast], cur)
    assert [r["query"] for r in regs] == ["q01"]
    assert regs[0]["base_sec"] == 1.0


def test_jitter_floor_and_new_queries_ignored():
    prev = {**_quiet_run(10), "tiny": 0.05, "failed": -1.0}
    cur = {**_quiet_run(10), "tiny": 0.12, "brand_new": 5.0, "failed": 2.0}
    # tiny: 2.4x but under the 0.3 s floor; brand_new: no previous row;
    # failed: previous run errored (-1) so there is no honest baseline
    assert diff_regressions(prev, cur) == []


def test_sorted_worst_first():
    prev = _quiet_run(12)
    cur = {**_quiet_run(12), "q02": 2.0, "q07": 4.0}
    assert [r["query"] for r in diff_regressions(prev, cur)] == ["q07", "q02"]


def test_run_drift_surfaces_uniform_structural_slowdown():
    """Round-12 (ADVICE): a code change that slows MOST queries
    together raises the drift factor and the per-query list stays
    empty — run_drift is the signal that catches it (alerted at >1.3
    in the bench payload)."""
    from bench import run_drift

    prev = _quiet_run(20)
    uniform = {name: sec * 1.6 for name, sec in prev.items()}
    assert diff_regressions(prev, uniform) == []  # the blind spot
    assert run_drift(prev, uniform) == 1.6  # the alarm
    # quiet run: drift ~1; never reported below 1.0
    assert run_drift(prev, _quiet_run(20)) == 1.0
    assert run_drift(prev, {n: s * 0.7 for n, s in prev.items()}) == 1.0
    # multi-run history: drift measured against the median baseline
    fast = _quiet_run(20, 0.5)
    assert run_drift([prev, fast, prev], {n: 1.2 for n in prev}) == 1.2


def test_confirm_regressions_retracts_ambient_spike():
    """Round-13 (r12 verdict #1): a flagged query whose in-process
    re-run comes back fast is an ambient spike — retracted into the
    ambient list with the audit fields, not shipped as a regression."""
    from bench import confirm_regressions

    flagged = [
        {"query": "q03", "base_sec": 1.0, "cur_sec": 3.0, "ratio": 3.0}
    ]
    confirmed, ambient = confirm_regressions(
        flagged, 1.0, lambda name: [1.05, 0.98, 1.2]
    )
    assert confirmed == []
    assert [r["query"] for r in ambient] == ["q03"]
    assert ambient[0]["reruns"] == [1.05, 0.98, 1.2]
    assert ambient[0]["rerun_min"] == 0.98
    # the repair value is the true median of the three re-runs
    assert ambient[0]["rerun_median"] == 1.05
    assert ambient[0]["reproduced"] is False


def test_confirm_regressions_keeps_reproducing_slowdown():
    """A structural regression reproduces: the re-run min still clears
    1.5 x drift vs the baseline, so the flag survives (with evidence)."""
    from bench import confirm_regressions

    flagged = [
        {"query": "q05", "base_sec": 1.0, "cur_sec": 3.0, "ratio": 3.0}
    ]
    confirmed, ambient = confirm_regressions(
        flagged, 1.0, lambda name: [2.9, 3.1]
    )
    assert ambient == []
    assert [r["query"] for r in confirmed] == ["q05"]
    assert confirmed[0]["reproduced"] is True
    assert confirmed[0]["rerun_min"] == 2.9


def test_confirm_regressions_unrerunnable_keeps_flag():
    """A flag that can't be re-run (shared build line item, re-run
    error) can't be disproven — it stays confirmed, un-annotated."""
    from bench import confirm_regressions

    flagged = [
        {"query": "shared_dedup_chain_build", "base_sec": 4.0,
         "cur_sec": 9.0, "ratio": 2.25}
    ]
    confirmed, ambient = confirm_regressions(flagged, 1.0, lambda name: None)
    assert ambient == []
    assert confirmed == flagged
    assert "reruns" not in confirmed[0]


def test_confirm_regressions_threshold_scales_with_drift():
    """The reproduce bar is the SAME normalized threshold as the flag:
    under host drift 1.4, a re-run min of 1.9x base (< 1.5 x 1.4) is
    ambient; the identical min on a quiet box reproduces."""
    from bench import confirm_regressions

    flagged = [{"query": "q09", "base_sec": 1.0, "cur_sec": 2.4, "ratio": 2.4}]
    confirmed, ambient = confirm_regressions(
        [dict(flagged[0])], 1.4, lambda name: [1.9]
    )
    assert confirmed == [] and len(ambient) == 1
    confirmed, ambient = confirm_regressions(
        [dict(flagged[0])], 1.0, lambda name: [1.9]
    )
    assert len(confirmed) == 1 and ambient == []
