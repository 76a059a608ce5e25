"""The benchmark's own tests: input generation is a pure function of the
seed, the offset-to-latency arithmetic is right on synthetic progress
records, and BENCHMARK.json's metric declarations are valid.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import app_catchup  # noqa: E402
import feed  # noqa: E402
import gen_tables  # noqa: E402
import measure  # noqa: E402
import registry_batch  # noqa: E402
import run  # noqa: E402

# -- generator determinism ---------------------------------------------------


def test_feed_is_a_function_of_the_seed():
    a, b = feed.generate(7, 20, 180), feed.generate(7, 20, 180)
    assert a.lines == b.lines
    assert a.windows == b.windows
    assert feed.generate(8, 20, 180).lines != a.lines


def test_feed_truth_matches_its_lines():
    f = feed.generate(3, 30, 180)
    pairs = [f.topic_payload(i) for i in range(len(f.lines))]
    assert len(set(pairs)) == f.n_unique == int(f.is_prime.sum())
    # each line's message id names exactly one (topic, payload)
    by_id = {}
    for m, p in zip(f.msg_id.tolist(), pairs):
        assert by_id.setdefault(m, p) == p
    # second-feed copies arrive within the bounded delay, after the primary
    first = {}
    for i in range(len(f.lines)):
        m, t = int(f.msg_id[i]), int(f.arrival_ms[i])
        if f.is_prime[i]:
            first[m] = t
        else:
            assert 1 <= t - first[m] <= 1000
    assert list(f.arrival_ms) == sorted(f.arrival_ms)


def test_near_duplicates_differ_in_one_vp_field():
    f = feed.generate(5, 30, 180)
    by_vehicle_second = {}
    for i in np.nonzero(f.is_prime)[0]:
        topic, payload = f.topic_payload(int(i))
        vp = json.loads(payload)["VP"]
        by_vehicle_second.setdefault((topic.split("/")[7], vp["tst"]), []).append(vp)
    siblings = [v for v in by_vehicle_second.values() if len(v) > 1]
    assert siblings
    for a, b in siblings:
        assert [k for k in a if a[k] != b[k]] == ["odo"]


def test_exactly_one_window_is_an_outage():
    f = feed.generate(11, 40, 240)
    alerts = {
        w: feed.expected_alert(t["primes"], t["duplicates"]) for w, t in f.windows.items()
    }
    assert {w: a for w, a in alerts.items() if a} == {f.outage_window: "FEED_DOWN"}
    assert f.windows[f.outage_window]["duplicates"] == 0


def test_tables_are_a_function_of_the_seed(tmp_path):
    def digest(d):
        return {
            n: hashlib.sha256((d / n).read_bytes()).hexdigest() for n in sorted(os.listdir(d))
        }

    rows = gen_tables.generate(1, 0.001, str(tmp_path / "a"))
    gen_tables.generate(1, 0.001, str(tmp_path / "b"))
    gen_tables.generate(2, 0.001, str(tmp_path / "c"))
    assert digest(tmp_path / "a") == digest(tmp_path / "b")
    assert digest(tmp_path / "a") != digest(tmp_path / "c")
    assert rows["lineitem"] == 6000 and rows["documents"] == 500


# -- offset -> latency arithmetic --------------------------------------------


def _progress(batch, ts, trigger_ms, start, end, rows):
    return {
        "batchId": batch,
        "timestamp": ts,
        "durationMs": {"triggerExecution": trigger_ms},
        "sources": [
            {
                "startOffset": None if start is None else json.dumps({"pos": start}),
                "endOffset": json.dumps({"pos": end}),
                "numInputRows": rows,
            }
        ],
    }


def test_commit_time_is_trigger_start_plus_execution():
    p = _progress(0, "2026-01-01T00:00:01.250Z", 500, None, 10, 1)
    t0 = measure.iso_ms("2026-01-01T00:00:00.000Z")
    assert measure.commit_ms(p) - t0 == 1750


def test_lines_map_to_the_batch_holding_their_offset():
    progress = [
        _progress(0, "2026-01-01T00:00:01.000Z", 1000, None, 100, 2),  # commits at 2 s
        _progress(1, "2026-01-01T00:00:03.000Z", 1000, 100, 100, 0),  # empty batch
        _progress(2, "2026-01-01T00:00:04.000Z", 2000, 100, 250, 3),  # commits at 6 s
    ]
    ranges = measure.batch_ranges(progress)
    assert [(s, e) for s, e, _ in ranges] == [(0, 100), (100, 250)]
    t0 = measure.iso_ms("2026-01-01T00:00:00.000Z")
    offsets = [0, 99, 100, 249, 250]
    due = [t0, t0 + 500, t0 + 500, t0 + 1000, t0]
    lat, missing = measure.forward_latencies(offsets, due, ranges)
    assert lat.tolist() == [2000, 1500, 5500, 5000]
    assert missing == 1  # offset 250 was never read


def test_runner_phases_and_state_counters():
    progress = []
    for b, (trig, upd) in enumerate([(100, 5), (300, 7)]):
        p = _progress(b, "2026-01-01T00:00:00.000Z", trig, None, 10, 10)
        p["durationMs"].update({"addBatch": trig - 20, "walCommit": 5})
        p["stateOperators"] = [
            {"numRowsTotal": 5 * (b + 1), "numRowsUpdated": upd, "memoryUsedBytes": 64,
             "commitTimeMs": 2, "allUpdatesTimeMs": 3, "numRowsDroppedByWatermark": 0}
        ]
        progress.append(p)
    phases = measure.runner_phases(progress)
    assert phases["streaming.runner.batches"] == 2
    assert phases["streaming.runner.batch_ms.p50"] == 200
    assert phases["streaming.runner.addBatch_ms"] == 360
    state = measure.state_operator(progress, "streaming.dedup_stream")
    assert state["streaming.dedup_stream.state_rows"] == 10
    assert state["streaming.dedup_stream.rows_updated"] == 12
    assert state["streaming.dedup_stream.unique_share"] == pytest.approx(12 / 20)


def _write(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_catch_up_reads_the_last_committed_batch(tmp_path):
    ckpt = str(tmp_path)
    assert app_catchup._committed_pos(ckpt, "forward") == 0  # not started
    for batch, pos in enumerate([100, 250]):
        _write(f"{ckpt}/forward/offsets/{batch}",
               ["v1", json.dumps({"batchTimestampMs": batch}), json.dumps({"pos": pos})])
    _write(f"{ckpt}/forward/commits/0", ["v1", "{}"])
    assert app_catchup._committed_pos(ckpt, "forward") == 100  # batch 1 in flight
    _write(f"{ckpt}/forward/commits/1", ["v1", "{}"])
    assert app_catchup._committed_pos(ckpt, "forward") == 250


def test_output_is_the_files_the_sink_log_lists(tmp_path):
    out = str(tmp_path)
    meta = os.path.join(out, "_spark_metadata")

    def entry(name, action):
        return json.dumps({"path": f"file://{out}/{name}", "action": action})

    _write(os.path.join(meta, "0"), ["v1", entry("a.parquet", "add")])
    _write(os.path.join(meta, "1"), ["v1", entry("b.parquet", "add"), entry("a.parquet", "delete")])
    _write(os.path.join(meta, ".1.crc"), ["x"])
    _write(os.path.join(out, "c.parquet"), ["written by a batch that did not commit"])
    assert app_catchup.committed_files(out) == [f"{out}/b.parquet"]


def _sql(kind, execution, t, root=None):
    e = {"Event": f"org.apache.spark.sql.execution.ui.SparkListenerSQLExecution{kind}",
         "executionId": execution, "time": t}
    if kind == "Start":
        e["rootExecutionId"] = execution if root is None else root
    return e


def test_query_spans_come_from_the_event_log():
    # construct 0-2 s with one eager job and checkpoint execution; the
    # write's execution runs 2.1-3.5 s; the write returns at 4 s
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 500},
        _sql("Start", 0, 400), _sql("End", 0, 1500),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        _sql("Start", 1, 2100), _sql("Start", 2, 2200, root=1),  # a nested execution
        _sql("End", 2, 2300), _sql("End", 1, 3500),
    ]
    per_query = {"q_dedup_exact": {"start": 0.0, "constructed": 2.0, "end": 4.0}}
    layers = registry_batch.query_layers(events, per_query)
    p = "queries.q_dedup_exact"
    assert layers[f"{p}.eager_jobs"] == 1
    assert layers[f"{p}.eager_s"] == pytest.approx(0.9)
    assert layers[f"{p}.plan_s"] == pytest.approx(0.1)
    assert layers[f"{p}.exec_s"] == pytest.approx(1.4)
    assert layers[f"{p}.wall_s"] == pytest.approx(4.0)
    # 0.5 s of the wall, after the write's execution ended, is in no span
    assert registry_batch.span_sum_gap(layers, ["q_dedup_exact"]) == pytest.approx(0.125)
    assert registry_batch.span_sum_gap(layers, ["q_dedup_exact", "q_agg_approx_check"]) == 1.0


# -- BENCHMARK.json ------------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metric_names_and_units_are_valid(spec):
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    for q in registry_batch.QUERY_NAMES:  # each listed query has its layer rows
        assert f"queries.{q}.construct_s" in names and f"queries.{q}.exec_s" in names
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
