"""Registry hygiene: the driver-contract ordering lists stay coherent.

A rename in queries.py must not silently drop a rows-only production
query from the bench/driver surface (_ROWS_ONLY_PRIORITY names are the
high-value compositions listed first after the hashed window)."""

from __future__ import annotations

import pytest

from cngi_prototype_spark import queries as Q


def test_rows_only_priority_names_resolve():
    rows_only = {k for k, v in Q._REGISTRY.items() if v[1] is None}
    missing = [k for k in Q._ROWS_ONLY_PRIORITY if k not in rows_only]
    assert not missing, (
        f"_ROWS_ONLY_PRIORITY names no longer registered rows-only: "
        f"{missing} (renamed or given an oracle without updating the "
        f"priority list)")


def test_priority_list_has_no_duplicates():
    assert len(Q._ROWS_ONLY_PRIORITY) == len(set(Q._ROWS_ONLY_PRIORITY))


def test_oracled_gates_fit_driver_window():
    oracled = [k for k, v in Q._REGISTRY.items() if v[1] is not None]
    assert len(oracled) <= Q._DRIVER_WINDOW


def test_bench_queries_resolve():
    """Every name the bench and the ladder tool time resolves to a
    builder; a name that resolves to nothing raises KeyError."""
    import importlib.util
    import os

    import bench

    for name in bench.BENCH_QUERIES + ["imaging_major_cycle"]:
        assert callable(bench.entry(name)), name
    with pytest.raises(KeyError):
        bench.entry("no_such_query")

    path = os.path.join(os.path.dirname(os.path.abspath(bench.__file__)),
                        "tools", "ladder.py")
    spec = importlib.util.spec_from_file_location("ladder", path)
    ladder = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ladder)
    for name in ladder.LADDER_QUERIES + ladder.LADDER100_QUERIES:
        assert callable(ladder._entry(name)), name


def test_get_framework_client_returns_active_session(spark):
    from cngi_prototype_spark.session import get_framework_client
    assert get_framework_client() is spark


def test_interleaved_runs_settle_criterion(monkeypatch):
    """_interleaved_runs: runs alternate uniform/skew; a settled window
    (best 3 within 15% on BOTH tiers) stops at the base 6 pairs; an
    unsettled tier keeps drawing extra pairs (bounded) until its best
    3 agree; _settled itself gates on the 15% window."""
    import bench

    clock = [0.0]
    durations: list[float] = []

    def fake_run(img):
        clock[0] += durations.pop(0)

    monkeypatch.setattr(bench, "_run", fake_run)
    monkeypatch.setattr(bench.time, "time", lambda: clock[0])

    assert not bench._settled([1.0, 1.1])           # needs 3 runs
    assert bench._settled([1.0, 1.1, 0.99, 5.0])    # best 3 agree
    assert not bench._settled([1.0, 1.5, 2.0])      # spread too wide

    # clean window: 6 pairs, alternating u/s, stops at base
    durations[:] = [1.0, 2.0] * 6
    u, s = bench._interleaved_runs(None, None)
    assert len(u) == len(s) == 6
    assert u == [1.0] * 6 and s == [2.0] * 6

    # a steal burst pollutes the first 5 uniform runs: extras keep
    # coming until THREE clean uniform samples agree (2 extra pairs),
    # even though skew settled immediately
    durations[:] = ([5.0, 2.0, 5.5, 2.1, 6.0, 2.0, 5.2, 2.05, 5.1, 2.0,
                     1.0, 2.0]          # base pair 6: first clean u run
                    + [1.05, 2.0, 0.98, 2.0]   # 2 extra pairs -> settled
                    + [9.9, 9.9] * 4)          # never consumed
    u, s = bench._interleaved_runs(None, None)
    assert len(u) == len(s) == 8
    assert min(u) == 0.98 and bench._settled(u)
    # the burst can't fake a regression into the RATIO: skew stayed 2.0
    assert min(s) == 2.0

    # an unsettleable tier exhausts the bounded extras and returns
    durations[:] = [1.0, 2.0, 3.0, 2.0, 9.0, 2.0, 1.5, 2.0, 7.0, 2.0,
                    4.0, 2.0] + [6.0, 2.0] * 6 + [9.9] * 8
    u, s = bench._interleaved_runs(None, None, extra=6)
    assert len(u) == 12  # base 6 + extra 6, hard stop


def test_timed_min_steal_guard(monkeypatch):
    """_timed_min: min of `runs` walls, every wall recorded; a >2x
    spread buys exactly two extra runs, never more."""
    import bench

    clock = [0.0]
    durations: list[float] = []

    def fake_run(df):
        clock[0] += durations.pop(0)

    monkeypatch.setattr(bench, "_run", fake_run)
    monkeypatch.setattr(bench.time, "time", lambda: clock[0])

    # calm window (spread exactly 2x): min-of-N, no extra run
    durations[:] = [1.5, 1.0, 2.0, 9.9]
    rs: list[float] = []
    assert bench._timed_min(lambda: None, runs=3, rs=rs) == 1.0
    assert rs == [1.5, 1.0, 2.0] and durations == [9.9]

    # a 2.5x spread takes two extra runs, and the min comes from them
    durations[:] = [1.0, 2.5, 4.0, 0.9, 9.9, 9.9]
    rs = []
    assert bench._timed_min(lambda: None, runs=2, rs=rs) == 0.9
    assert rs == [1.0, 2.5, 4.0, 0.9] and durations == [9.9, 9.9]

    # one run has no spread
    durations[:] = [2.5]
    assert bench._timed_min(lambda: None, runs=1) == 2.5
    assert durations == []


def test_time_tier_warm_run_is_untimed(monkeypatch):
    """_time_tier: each query gets WARM_RUNS untimed runs before its
    timed ones; query_runs and the min hold the timed walls only, and a
    failing query is an error entry, not a crash."""
    import bench

    clock = [0.0]
    durations: list[float] = []

    def fake_run(df):
        clock[0] += durations.pop(0)

    def fake_entry(name):
        if name == "broken":
            raise KeyError(name)
        return lambda spark, sf_dir: None

    monkeypatch.setattr(bench, "_run", fake_run)
    monkeypatch.setattr(bench, "entry", fake_entry)
    monkeypatch.setattr(bench.time, "time", lambda: clock[0])

    assert bench.WARM_RUNS == 1
    # per query: a slow warm run, then three timed runs
    durations[:] = [7.0, 1.5, 1.0, 1.2, 9.0, 2.0, 2.5, 2.2]
    timings, query_runs, errors = bench._time_tier(
        None, "sf", ["qa", "broken", "qb"], runs=3)
    assert durations == []
    assert query_runs == {"qa": [1.5, 1.0, 1.2], "qb": [2.0, 2.5, 2.2]}
    assert timings == {"qa": 1.0, "qb": 2.0}
    assert list(errors) == ["broken"]
