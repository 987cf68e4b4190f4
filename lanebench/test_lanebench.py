"""The benchmark's own checks; none of them starts Spark.

    python3 -m pytest lanebench -q
"""

from __future__ import annotations

import json
import os
import random
import re

import pandas as pd
import pytest

from lanebench import run, stats
from lanebench.oracle import Oracle
from lanebench.trace import Trace, union_s
from lanebench.workloads import WORKLOADS
from shippinglanes_spark.io import TABLES

with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("n", [11, 12, 24, 28, 57, 100, 1000])
def test_tail_leaves_ten_samples_above(n):
    rng = random.Random(n)
    xs = [rng.random() for _ in range(n)]
    pct, value = stats.tail(xs)
    above = sum(1 for x in xs if x > value)
    assert above >= stats.TAIL_ABOVE
    # the highest such percentile: one rank higher leaves fewer than ten
    assert above == stats.TAIL_ABOVE
    assert pct == pytest.approx(100 * sum(1 for x in xs if x <= value) / n)


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * stats.TAIL_ABOVE)


def test_every_window_supports_the_tail():
    for w in WORKLOADS.values():
        passes = w.window(SPEC["run_seconds"])
        assert passes * len(w.queries) > stats.TAIL_ABOVE


@pytest.fixture
def oracle(tmp_path):
    fixtures = tmp_path / "sf"
    fixtures.mkdir()
    for t in TABLES:
        pd.DataFrame({"x": [1]}).to_parquet(fixtures / f"{t}.parquet")
    o = Oracle(run.REPO, str(fixtures), str(tmp_path / "cache"))
    yield o
    o.close()


SQL = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.25)) t(k, v, f)"


def good():
    return pd.DataFrame({"k": [2, 1], "v": ["b", "a"], "f": [1.25, 0.5]})


def test_correct_result_passes_in_any_row_order(oracle):
    assert oracle.check("q", SQL, good())
    assert oracle.check("q", SQL, good().iloc[::-1])


@pytest.mark.parametrize("corrupt", [
    lambda d: d.assign(f=[1.25, 0.51]),
    lambda d: d.iloc[:1],
    lambda d: pd.concat([d, d.iloc[:1]]),
    lambda d: d.rename(columns={"v": "w"}),
    lambda d: d.assign(v=["b", None]),
])
def test_corrupted_result_is_flagged(oracle, corrupt):
    assert oracle.check("q", SQL, good())  # a verified result is memoised
    assert not oracle.check("q", SQL, corrupt(good()))


def test_oracle_cache_is_keyed_by_query_sql_and_fixtures(oracle, tmp_path):
    oracle.expected("q", SQL)
    oracle.expected("q2", SQL)
    oracle.expected("q", SQL + " ORDER BY k")
    oracle.sf_dir += "/"
    oracle.expected("q", SQL)
    assert len(os.listdir(tmp_path / "cache")) == 4


def test_canon_comes_from_scripts_driver_sim():
    canon = run.Oracle(run.REPO, "", "").canon
    assert canon.__code__.co_filename.endswith(
        os.path.join("scripts", "driver_sim.py"))


def _pass(times, layers=None):
    p = run.Pass()
    p.times = list(times)
    p.build_s = sum(times) / 2
    p.layers.update(layers or {})
    return p


SETUP = {k: 1.0 for k in ("session.start_s", "registry.load_s",
                          "io.tables_s", "python.boot_s", "setup_s")}
PEAKS = {"jvm": 1.0, "worker": 1.0, "client": 1.0, "total": 3.0}


def _emitted(values, section):
    units = {m["name"]: m["unit"] for m in SPEC[section]}
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def test_every_end_to_end_metric_is_emitted_with_its_unit():
    values = run.end_to_end([SETUP] * 3, _pass([1.0]),
                            [_pass([0.1 * i for i in range(1, 13)])])
    out = _emitted(values, "end_to_end")
    assert {m["name"] for m in SPEC["end_to_end"]} == set(out)
    assert all(isinstance(v["value"], float) and v["value"] > 0
               for v in out.values())


def test_every_per_layer_metric_is_emitted_with_its_unit():
    layers = {"spark.task_run_s": 2.0, "python.time_s": 1.0}
    values = run.per_layer([_pass([1.0], layers)], [_pass([1.0])],
                           [SETUP] * 3, PEAKS, attempted=4, failed=0)
    out = _emitted(values, "per_layer")
    assert {m["name"] for m in SPEC["per_layer"]} == set(out)
    assert all(isinstance(v["value"], (int, float)) for v in out.values())


def test_benchmark_json_is_well_formed():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [m["name"] for s in ("workloads", "end_to_end", "per_layer")
             for m in SPEC[s]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)
               for n in names)
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
    assert SPEC["paths"] == [os.path.basename(os.path.dirname(run.__file__))]


def test_workloads_match_benchmark_json():
    assert [{"name": w.name, "why": w.why} for w in WORKLOADS.values()] \
        == SPEC["workloads"]


def test_every_workload_query_is_registered_with_an_oracle():
    from shippinglanes_spark.registry import all_queries

    registry = all_queries()
    for w in WORKLOADS.values():
        for name in w.queries:
            assert name in registry, name
            assert registry[name].oracle, name
    assert registry[run.WARM_QUERY].oracle
    assert all(run.WARM_QUERY not in w.queries for w in WORKLOADS.values())


def test_self_time_subtracts_the_part_children_cover():
    tr = Trace()
    root = tr.add("q", "query", 0.0, 10.0)
    tr.add("q", "build", 0.0, 4.0, root)
    tr.add("q", "collect", 3.0, 12.0, root)  # overlaps build, overruns root
    assert tr.self_s()["query"] == 0.0
    tr.add("q", "job 1", 5.0, 7.0, 2)
    tr.add("q", "job 2", 6.0, 8.0, 2)
    assert tr.self_s()["collect"] == pytest.approx(9.0 - 3.0)
    assert tr.self_s()["job"] == pytest.approx(4.0)
    assert union_s([(0, 1), (2, 3), (2.5, 4), (5, 5)]) == pytest.approx(3.0)
