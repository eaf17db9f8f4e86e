"""Unit tests of the benchmark's order statistics and event-log attribution.

Run from the root of a checkout:  python3 -m pytest perfbench/test_perfbench.py
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from probe import REF_LOOP_S, SpeedProbe  # noqa: E402
from report import Attribution, phase_table  # noqa: E402
from stats import geomean, median, quartile_spread  # noqa: E402
from tracing import Span, idle_time, parse_eventlog, self_times, span_of_job  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata",
                   "eventlog_small.jsonl")
MAIN = 1


def spans() -> list[Span]:
    """A crawl round with two phases and one icelite call inside it, at
    the epoch seconds the recorded log's millisecond times refer to."""
    return [
        Span(0, "round.crawl_round", "round", 999.9, 1002.5, None, MAIN),
        Span(1, "phase.fetch_write", "round", 999.9, 1000.8, 0, MAIN),
        Span(2, "icelite.commit", "icelite", 999.95, 1000.75, 0, MAIN),
        Span(3, "phase.trace", "round", 1000.8, 1002.5, 0, MAIN),
    ]


def test_median_and_geomean():
    assert median([4, 1, 3, 2]) == 2.5
    assert median([3, 1, 2]) == 2
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([0.5]) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        median([])
    with pytest.raises(ValueError):
        geomean([])


def test_quartile_spread_uses_statistics_quantiles():
    # statistics.quantiles(range(1, 11), n=4) -> [2.75, 5.5, 8.25]
    assert quartile_spread(list(range(1, 11))) == pytest.approx((8.25 - 2.75) / 5.5)
    with pytest.raises(ValueError):
        quartile_spread([1.0])


def test_parse_eventlog_sums_tasks_and_python_metrics():
    log = parse_eventlog(LOG)
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.jobs[0].desc == "perfbench-span:2" and log.jobs[1].desc is None
    s0 = log.stages[0]
    assert (s0.run_ms, s0.cpu_ns, s0.tasks, s0.failed) == (600, 500_000_000, 2, 1)
    assert (s0.spill, s0.peak_mem) == (512, 2 * 2**20)
    assert dict(s0.py["fetch"]) == {"python_ms": 400, "to_py_bytes": 1000,
                                     "from_py_bytes": 5000, "rows": 10}
    assert log.stages[1].shuffle_write == 4096
    # stage 2 is listed again by job 2, where it was skipped: it ran in job 1
    assert log.stages[2].job == 1 and log.stages[3].job == 2


def test_span_of_job_by_description_then_by_time():
    log, sp = parse_eventlog(LOG), spans()
    assert span_of_job(log.jobs[0], sp, {"round"}, MAIN).name == "icelite.commit"
    # no description: the innermost round-layer span open at submission
    assert span_of_job(log.jobs[1], sp, {"round"}, MAIN).name == "phase.trace"
    # a foreign description outside every span stays unattributed
    assert span_of_job(log.jobs[2], sp, {"round"}, MAIN) is None
    # spans of other threads never claim a job by time
    other = [Span(0, "phase.trace", "round", 1000.8, 1002.5, None, MAIN + 1)]
    assert span_of_job(log.jobs[1], other, {"round"}, MAIN) is None


def test_attribution_share_and_phase_table():
    log, sp = parse_eventlog(LOG), spans()
    att = Attribution(log, sp, MAIN, (999.0, 1004.0), {"round"})
    assert att.attributed_share() == pytest.approx(1000 / 1100)
    assert att.job_phase[0].name == "phase.fetch_write"
    assert att.job_phase[1].name == "phase.trace"
    assert att.layer_of(log.stages[0]) == "icelite"
    # a window that excludes job 2 leaves only attributed stages
    assert Attribution(log, sp, MAIN, (999.0, 1002.0), {"round"}).attributed_share() == 1.0

    table = phase_table(att, [sp[0]])
    fw, tr = table["fetch_write"], table["trace"]
    assert fw["exec.icelite_s"] == pytest.approx(0.6)
    assert fw["python.fetch_s"] == pytest.approx(0.4)
    assert fw["wall_s"] == pytest.approx(0.9)
    assert tr["exec.round_s"] == pytest.approx(0.4)
    assert tr["shuffle_bytes"] == 4096


def test_self_time_and_driver_idle_time():
    st = self_times(spans())
    assert st[0] == pytest.approx(0.0)  # the children cover the whole round
    assert st[2] == pytest.approx(0.8)
    busy = [(1000.0, 1000.7), (1001.0, 1001.5), (1003.0, 1003.2)]
    assert idle_time(999.9, 1002.5, busy) == pytest.approx(1.4)
    assert idle_time(0.0, 1.0, []) == 1.0


def test_speed_probe_factor_windows():
    p = SpeedProbe("unused")
    # one core at reference speed for 10 s, then at half speed
    p._times = [t / 10 for t in range(200)]
    p._loops = [REF_LOOP_S if t < 100 else 2 * REF_LOOP_S for t in range(200)]
    assert p.factor(0.0, 9.9) == pytest.approx(1.0)
    assert p.factor(10.0, 19.9) == pytest.approx(0.5)
    # a short window is widened to 2 s around its middle
    assert p.factor(9.95, 9.95) == pytest.approx(20 / 30)
    with pytest.raises(RuntimeError):
        p.factor(100.0, 110.0)


def test_seed_urls_are_seeded_with_fixed_host_counts():
    def hosts(urls):
        return sorted(u.lower().split("/")[2].split(":")[0] for u in urls)

    a, b = gen.make_seed_urls(1, 500), gen.make_seed_urls(2, 500)
    assert a == gen.make_seed_urls(1, 500) and a != b
    assert len(a) == 500 and hosts(a) == hosts(b)
