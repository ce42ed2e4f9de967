"""The benchmark's own tests: ``python3 -m pytest perfbench -q`` from the
root of a checkout (~2 min; one shared local[4] session)."""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import datagen  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_follow_the_contract():
    bench = _bench()
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]), m
    assert {w["name"] for w in bench["workloads"]} == set(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert W.tail(list(range(30, 0, -1))) == (100.0 * 20 / 30, 20)
    assert W.tail(list(range(1, 11))) == (90.0, 9)
    assert W.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_rows_hash_ignores_row_and_column_order():
    a = checks.rows_hash(["x", "y"], [(1, 2.5), (3, None)])
    assert a == checks.rows_hash(["y", "x"], [(None, 3), (2.5, 1)])
    assert a != checks.rows_hash(["x", "y"], [(1, 2.5), (3, 0.0)])


def _hour(day: int, h: int) -> str:
    return f"2025-08-0{day}T{h:02d}:00"


def test_weather_model_hand_computed_three_deliveries():
    model = checks.WeatherModel()
    # 1: day 1 (two hours) and day 2 (one hour)
    assert model.deliver({"hourly": {
        "time": [_hour(1, 0), _hour(1, 1), _hour(2, 0)],
        "temperature_2m": [10.0, 20.0, 5.0],
        "relative_humidity_2m": [50.0, 70.0, 90.0],
    }})
    # 2: empty — changes nothing
    assert not model.deliver({"hourly": {}})
    # 3: re-delivers day 2 (replacing it whole) with one malformed time
    assert model.deliver({"hourly": {
        "time": [_hour(2, 0), "2025-08-02 at 01:00", _hour(2, 2)],
        "temperature_2m": [7.0, 100.0, 9.0],
        "relative_humidity_2m": [40.0, 0.0, 60.0],
    }})
    assert model.daily_mart() == [
        (dt.date(2025, 8, 1), 15.0, 20.0, 10.0, 60.0),
        (dt.date(2025, 8, 2), 8.0, 9.0, 7.0, 50.0),
    ]


def test_a_new_seed_changes_the_inputs():
    assert datagen.weather_deliveries(1, 30) == datagen.weather_deliveries(1, 30)
    assert datagen.weather_deliveries(1, 30) != datagen.weather_deliveries(2, 30)
    variants = [
        i for i, d in enumerate(datagen.weather_deliveries(3, 40))
        if "relative_humidity_2m" not in d["hourly"] or any(" at " in t for t in d["hourly"]["time"])
    ]
    assert len(variants) == 2 and variants[0] < 20 <= variants[1]  # one per 20 deliveries


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "hourly_elt", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# --- smoke runs on one shared session ------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run._isolate(work)
    s = run._session(work)
    s.sparkContext.setLogLevel("ERROR")
    yield s, work
    s.stop()


def _harness(spark, workload, seed, trace=False) -> W.Harness:
    s, work = spark
    tracer = probe.Tracer(s, workload, f"test-{workload}-{seed}", enabled=trace)
    return W.Harness(s, tracer, seed, os.path.join(work, f"{workload}-{seed}-{trace}"))


class SmallLakehouse(W.Lakehouse):
    EVENTS, EVENT_DAYS = 1_000, 3
    MERGE_INSERTS = 40
    MICRO_APPENDS, MICRO_ROWS = 2, 10
    DOCUMENTS = 200


@pytest.mark.parametrize("seed", [1, 2])
def test_lakehouse_smoke_passes_its_checks(spark, seed):
    h = _harness(spark, "lakehouse", seed)
    w = SmallLakehouse(h)
    w.setup(0)
    wall, lats = w.run_pass("p")
    w.verify()
    assert h.failed == 0, h.errors
    assert len(lats) == SmallLakehouse.MICRO_APPENDS and wall > 0
    assert W.delta_log_counts(w.last_table)["delta.commits"] == 5  # write, merge, 2 appends, optimize


def test_lakehouse_seeds_differ_in_their_merges(spark):
    merges = []
    for seed in (1, 2):
        w = SmallLakehouse(_harness(spark, "lakehouse", 10 + seed))
        w.setup(0)
        merges.append((w.merge_days, w.merge_src.num_rows))
    assert merges[0] != merges[1]


def test_lakehouse_corrupted_table_is_caught(spark):
    from portfolio_data_pipelines_spark.operators.delta_log import delete_where

    h = _harness(spark, "lakehouse", 3)
    w = SmallLakehouse(h)
    w.setup(0)
    w.run_pass("p")
    delete_where(h.spark, w.last_table, "event_id = 0")
    w.verify()
    assert h.failed > 0
    assert any("model" in e for e in h.errors)


def test_hourly_smoke_passes_and_a_corrupted_mart_is_caught(spark):
    h = _harness(spark, "hourly_elt", 4)
    w = W.HourlyElt(h)
    w.setup(0)
    # the bronze-only delivery's days reach the next full delivery's mart
    for models in (True, False, True):
        lat, _, _ = w.deliver(models)
        assert lat is not None
    assert h.failed == 0, h.errors
    # the first day is never re-delivered after the window moves on
    w.model.days[min(w.model.days)][0] = (dt.datetime(2025, 8, 1), 99.0, 1.0)
    while not w.deliver()[1]:
        pass
    assert h.failed == 1
    assert "differs from the payload model" in h.errors[0]


def _trace_args() -> argparse.Namespace:
    return argparse.Namespace(seconds=0.0, trace=1)


def test_traced_hourly_run_crosses_a_checkpoint_and_times_the_parse(spark):
    h = _harness(spark, "hourly_elt", 5, trace=True)
    w = W.HourlyElt(h)
    w.setup(0)
    layers = run._measure_hourly(w, h, _trace_args())["layers"]
    assert h.failed == 0, h.errors
    assert layers["delta.checkpoints"] >= 1
    assert layers["weather.parse_s"] > 0
    assert layers["exec.jobs"] > 0 and layers["exec.tasks"] >= layers["exec.jobs"]
    assert layers["catalyst.analysis_s"] >= 0 and layers["exec.job_wall_s"] > 0
    assert layers["runner.store_s"] > 0 and layers["runner.jobs_per_batch"] > 0


def test_traced_hourly_run_fails_without_the_parse_span(spark, monkeypatch):
    h = _harness(spark, "hourly_elt", 6, trace=True)
    w = W.HourlyElt(h)
    w.setup(0)
    # a runner that parses by another name leaves the timed parser unused
    monkeypatch.setattr(run, "_time_parse", lambda tr: None)
    run._measure_hourly(w, h, _trace_args())
    assert h.failed > 0
    assert all("no weather.parse span" in e for e in h.errors)


def test_traced_lakehouse_pass_measures_materializations(spark):
    h = _harness(spark, "lakehouse", 7, trace=True)
    w = SmallLakehouse(h)
    w.setup(0)
    w.run_pass("p")
    unit = run._last_span(h.tracer, "p")
    layers = run._layers(h.tracer, [unit], [unit])
    assert layers["mat.bytes_peak"] > 0 and layers["mat.rdds"] >= 0
    assert layers["plan.build_jobs"] > 0 and layers["corpus.query_s"] > 0
    assert layers["delta.merge_s"] > 0 and layers["feed.backfill_s"] > 0
    w.verify()
    assert h.failed == 0, h.errors
