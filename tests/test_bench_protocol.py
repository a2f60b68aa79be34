"""The bench's one sampling policy (``bench.time_action``), driven without
Spark: a counting action on a fake clock and a stub CPU reader."""

from __future__ import annotations

import types

import pytest

import bench


class _Clocked:
    """Zero-argument action whose i-th call takes ``durations[i]`` seconds
    of the fake clock it installs as ``bench.time.perf_counter``."""

    def __init__(self, monkeypatch, durations):
        self.now = 0.0
        self.calls = 0
        self.durations = list(durations)
        monkeypatch.setattr(bench, "time", types.SimpleNamespace(perf_counter=lambda: self.now))

    def __call__(self):
        assert self.calls < len(self.durations), "action run more often than warm-ups + n"
        self.now += self.durations[self.calls]
        self.calls += 1


def _cpu_stub(readings):
    it = iter(readings)
    return lambda: next(it)


@pytest.mark.parametrize("warmups", [0, 1, 6])
def test_warmups_untimed_and_exactly_n_timed_whatever_the_spread(monkeypatch, warmups):
    """Noisy samples (spread far above any escalation threshold) still
    give exactly ``n`` timed runs, and the slow warm-ups do not count."""
    timed = [1.0, 5.0, 1.2]
    action = _Clocked(monkeypatch, [100.0] * warmups + timed)
    med, spread, _ = bench.time_action(action, 3, warmups, _cpu_stub([0.0, 0.0]))
    assert action.calls == warmups + 3
    assert med == 1.2
    assert spread == round((5.0 - 1.0) / 1.2, 3)


@pytest.mark.parametrize(
    "timed, med, spread",
    [
        ([2.0], 2.0, 0.0),
        ([0.5, 0.7, 0.6], 0.6, round(0.2 / 0.6, 3)),
        ([0.3, 0.9, 0.2, 0.25, 0.4, 0.26, 0.31, 0.28, 0.27], 0.28, round(0.7 / 0.28, 3)),
    ],
)
def test_median_and_spread_over_the_n_samples(monkeypatch, timed, med, spread):
    action = _Clocked(monkeypatch, [50.0] + timed)
    got = bench.time_action(action, len(timed), 1, _cpu_stub([0.0, 0.0]))
    assert action.calls == 1 + len(timed)
    assert got[:2] == (med, spread)


def test_cpu_is_the_reader_delta_per_timed_run(monkeypatch):
    reads = []

    def cpu_now():
        reads.append(action.calls)
        return [10.0, 16.3][len(reads) - 1]

    action = _Clocked(monkeypatch, [1.0] * 5)
    _, _, cpu = bench.time_action(action, 3, 2, cpu_now)
    assert reads == [2, 5]  # read after the warm-ups and after the timed runs
    assert cpu == round(6.3 / 3, 3)


def test_failing_action_propagates(monkeypatch):
    calls = []

    def action():
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("entry failed")

    with pytest.raises(RuntimeError, match="entry failed"):
        bench.time_action(action, 3, 1, _cpu_stub([0.0, 0.0]))
    assert len(calls) == 3
