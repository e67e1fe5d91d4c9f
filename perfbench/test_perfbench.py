"""Tests for the benchmark's own helpers. No Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import csv as csv_module
import json
import os
import re
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import staging  # noqa: E402
import tracing as tr  # noqa: E402
import workloads as wl  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


# --- span arithmetic ---------------------------------------------------------


def _span(name, start, end, parent=None):
    s = tr.Span(name, start, end, parent)
    if parent is not None:
        parent.children.append(s)
    return s


def test_self_time_subtracts_children():
    root = _span("build", 0.0, 10.0)
    _span("catalog.load_table", 1.0, 3.0, root)
    _span("functions.fast_vec_train", 5.0, 6.5, root)
    assert tr.self_time(root) == pytest.approx(10.0 - 2.0 - 1.5)


def test_self_time_counts_overlap_once_and_clips_to_parent():
    root = _span("build", 0.0, 10.0)
    _span("a", 2.0, 5.0, root)
    _span("b", 4.0, 6.0, root)  # overlaps a by 1 s
    _span("c", 9.0, 12.0, root)  # runs past the parent's end
    assert tr.self_time(root) == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_without_children_is_duration():
    assert tr.self_time(_span("x", 1.0, 4.0)) == pytest.approx(3.0)


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    t = tr.Tracer(enabled=True)
    with t.span("op"):
        with t.span("operators.build"):
            pass
    op, build = t.spans
    assert build.parent is op and op.children == [build]
    off = tr.Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_instrument_rebinds_and_undoes():
    mod = types.ModuleType("collimate_spark._perfbench_probe")

    def f(x):
        return x + 1

    mod.f = mod.alias = f
    sys.modules[mod.__name__] = mod
    try:
        t = tr.Tracer(enabled=True)
        undo = tr.instrument(t, mod, "f", "probe.f")
        assert mod.alias(1) == 2 and mod.f is mod.alias and mod.f is not f
        assert [s.name for s in t.spans] == ["probe.f"]
        undo()
        assert mod.f is f and mod.alias is f
    finally:
        del sys.modules[mod.__name__]


# --- rendered SQL metrics ----------------------------------------------------


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,000", 1000.0),
        ("2.7 s", 2.7),
        ("309 ms", 0.309),
        ("156.6 KiB", 156.6 * 1024),
        ("0.0 B", 0.0),
        ("total (min, med, max (stageId: taskId))\n5.4 s (1.3 s, 1.4 s, 1.4 s (stage 3.0: task 3))", 5.4),
        ("total (min, med, max (stageId: taskId))\n344.5 KiB (83.5 KiB, 88 KiB)", 344.5 * 1024),
    ],
)
def test_parse_metric(text, value):
    assert tr.parse_metric(text) == pytest.approx(value)


def test_timed_pass_count_follows_seconds_not_the_clock():
    assert run.timed_passes(1) == run.MIN_PASSES
    assert run.timed_passes(2 * run.PASS_S) == 2
    assert run.timed_passes(3 * run.PASS_S) == 3


# --- output checks -----------------------------------------------------------


def test_fingerprint_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [2, 1], "y": ["b", "a"]})
    b = pd.DataFrame({"y": ["a", "b"], "x": [1, 2]})
    assert wl.fingerprint(a) == wl.fingerprint(b)
    assert wl.fingerprint(a)["rows"] == 2
    assert wl.fingerprint(a) != wl.fingerprint(b.assign(x=[1, 3]))


def test_rounded_columns_reads_round_digits_and_aliases():
    sql = """
    SELECT k, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           ROUND(CAST(p AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1)), 4) AS Ratio,
           SUM(q) AS total, CAST(ROUND(x * 100) AS BIGINT) AS cents
    FROM t WHERE ROUND(c, 6) >= 0.9 GROUP BY k
    """
    assert wl.rounded_columns(sql) == {"revenue": 2, "ratio": 4}


def _checker():
    checker = wl.Checker.__new__(wl.Checker)  # compare() needs no inputs
    checker.sim = wl._driver_sim()
    return checker


def test_compare_allows_one_rounding_step_only():
    import pandas as pd

    checker = _checker()
    rounded = {"revenue": 2}
    want = pd.DataFrame({"k": [1, 2], "revenue": [2663335.8, 10.25]})
    tie = pd.DataFrame({"k": [1, 2], "revenue": [2663335.79, 10.25]})
    assert checker.compare(tie, want, rounded) is None
    two_steps = pd.DataFrame({"k": [1, 2], "revenue": [2663335.78, 10.25]})
    assert checker.compare(two_steps, want, rounded) is not None
    wrong_key = pd.DataFrame({"k": [1, 3], "revenue": [2663335.8, 10.25]})
    assert checker.compare(wrong_key, want, rounded) is not None
    # the step comes from the SQL's ROUND, not from the digits the values
    # show: a whole-number sum rounded to 2 places may not be off by 1
    whole = pd.DataFrame({"k": [1], "sum_qty": [1530.0]})
    off_by_one = pd.DataFrame({"k": [1], "sum_qty": [1531.0]})
    assert checker.compare(off_by_one, whole, {"sum_qty": 2}) is not None
    assert checker.compare(pd.DataFrame({"k": [1], "sum_qty": [1530.01]}), whole,
                           {"sum_qty": 2}) is None
    # a column the oracle does not round gets no step at all
    assert checker.compare(tie, want, {}) is not None


def test_expected_json_covers_every_fixed_check():
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    streams = [n for names in wl.WORKLOADS.values() for n in names if n.startswith("stream_")]
    keys = {"ingest_manifest"} | set(wl.FINGERPRINTED) | {f"{n}.output_rows" for n in streams}
    assert set(expected) == keys
    assert all(v is not None for v in expected.values())


# --- inputs ------------------------------------------------------------------


def test_staged_dirs_are_keyed_on_their_parameters(tmp_path):
    import pyarrow.parquet as pq

    sf = staging.DATA_DIR
    d4, rows = staging.stage_event_files(str(tmp_path), sf, 4)
    assert staging.stage_event_files(str(tmp_path), sf, 4) == (d4, rows)
    d5, _ = staging.stage_event_files(str(tmp_path), sf, 5)
    assert d4 != d5 and len(os.listdir(d4)) == 4
    assert rows == pq.ParquetFile(os.path.join(sf, "events.parquet")).metadata.num_rows
    staged = pq.read_table(d4)
    assert staged.schema.field("ts").type.tz == "UTC"  # watermarks need TIMESTAMP
    ts = staged.column("ts").to_pylist()
    assert ts == sorted(ts)
    csv, n, nbytes = staging.stage_lineitem_csv(str(tmp_path), sf, 3)
    assert csv.endswith("lineitem.csv") and len(os.listdir(csv)) == 3
    assert n == 60_000 and nbytes > 0
    with open(os.path.join(csv, "part-00000.csv"), newline="") as fh:
        first = next(csv_module.DictReader(fh))
    assert len(first["l_shipdate"]) == 10  # yyyy-MM-dd, as ingest detects


# --- the metric contract -----------------------------------------------------


def test_benchmark_json_names_and_units(spec):
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.fullmatch(name) and len(name) <= 64, name
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT_RE.fullmatch(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert {w["name"] for w in spec["workloads"]} == set(wl.WORKLOADS)


def _fake_pass():
    t = tr.Tracer(enabled=True)
    with t.span("op.q"):
        with t.span("operators.build"):
            with t.span("catalog.load_table"):
                pass
        with t.span("operators.exec"):
            pass
    spans = list(t.spans)
    progress = [
        {"numInputRows": 5, "durationMs": {"triggerExecution": 300, "addBatch": 200},
         "stateOperators": [{"numRowsTotal": 3, "memoryUsedBytes": 100, "commitTimeMs": 4}],
         "sink": {"numOutputRows": 1}},
    ]
    rec = {
        "wall_s": 2.0,
        "cached_peak": 10,
        "ops": {
            "q": {"s": 1.0, "out": {}, "err": None},
            "ingest_csv": {"s": 0.5, "out": {"bytes_written": 50, "manifest": {}}, "err": None},
            "stream_windowed_counts": {"s": 0.4, "out": {"progress": progress}, "err": None},
        },
    }
    inputs = wl.Inputs("sf", "csv", 100, 200, "stream", 5, "work")
    status = {k: 0.0 for k in run.STATUS_KEYS}
    return rec, spans, status, inputs


def test_every_metric_in_benchmark_json_is_emitted_with_its_unit(spec):
    rec, spans, status, inputs = _fake_pass()
    rec["layers"] = run.pass_layers(rec, spans, status, inputs)
    layers = run.run_layers([rec], [1.5], 3.0, 2048.0, failed=0, attempted=4)
    e2e = run.end_to_end(3.0, 20.0, [{"wall_s": 10.0}, {"wall_s": 11.0}])
    assert set(layers) == {m["name"] for m in spec["per_layer"]}
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert all(v != 0 for v in e2e.values())
    assert layers["trace.overhead_s"] == pytest.approx(0.5)
    assert layers["ingest.store_bytes_per_input_byte"] == pytest.approx(0.25)
    assert layers["streaming.batch_p50_ms"] == 300
    assert layers["catalog.load_table_calls"] == 1
    units = run.load_metric_spec()
    result = run.result_line(True, 4, 0, e2e, units["end_to_end"])
    parsed = json.loads(result)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
    for name, m in parsed["metrics"].items():
        assert set(m) == {"value", "unit"}
        assert m["unit"] == units["end_to_end"][name]
    with pytest.raises(RuntimeError):
        run.result_line(True, 4, 0, {"setup_s": 1.0}, units["end_to_end"])
