"""Guards for bench.py's cross-round history loader (`_load_history`).

`history_totals` in the one-line bench payload is the only in-artifact
view of prior rounds, so the loader's filtering rules are contract:
an errored round (rc != 0) must contribute NOTHING (its partial rows
would masquerade as a fast round), malformed artifacts must be skipped
rather than abort the bench, and both the driver's wrapped shape
({"rc": 0, "parsed": {...}}) and a raw payload must parse. The
one-line stdout contract is guarded too: the shed order, and the
bench_full.json sidecar written whenever the printed line lacks a
payload field. No Spark session involved — these run in milliseconds.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _write(tmp_path, name, obj):
    (tmp_path / name).write_text(obj if isinstance(obj, str) else json.dumps(obj))


def _load_from(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    return bench._load_history()


def test_wrapped_and_raw_artifacts_both_parse(tmp_path, monkeypatch):
    _write(tmp_path, "BENCH_r01.json",
           {"rc": 0, "parsed": {"value": 18.2, "queries": {"q1": 0.65}}})
    _write(tmp_path, "BENCH_r02.json",
           {"value": 14.2, "queries": {"q1": 0.61}})  # raw, no driver wrapper
    hist = _load_from(tmp_path, monkeypatch)
    assert hist == {
        "r1": {"total": 18.2, "queries": {"q1": 0.65}},
        "r2": {"total": 14.2, "queries": {"q1": 0.61}},
    }


def test_errored_round_contributes_nothing(tmp_path, monkeypatch):
    _write(tmp_path, "BENCH_r03.json",
           {"rc": 1, "parsed": {"value": 2.0, "queries": {"q1": 0.1}}})
    assert _load_from(tmp_path, monkeypatch) == {}


def test_malformed_or_queryless_artifacts_are_skipped_not_fatal(tmp_path, monkeypatch):
    _write(tmp_path, "BENCH_r04.json", "{not json")
    _write(tmp_path, "BENCH_r05.json", {"rc": 0, "parsed": {"value": 9.9}})  # no queries
    _write(tmp_path, "BENCH_r06.json",
           {"rc": 0, "parsed": {"value": 13.0, "queries": {"q1": 0.7}}})
    hist = _load_from(tmp_path, monkeypatch)
    assert list(hist) == ["r6"]
    assert hist["r6"]["total"] == 13.0


# --- r14: stdout shed order for the one-line budget ----------------------


def _payload(n_queries=20, cold=True, history=True, pad=0):
    p = {
        "metric": "headline_query_wall_clock_total",
        "value": 10.0,
        "unit": "sec",
        "queries": {f"query_name_{i:03d}": 0.123 for i in range(n_queries)},
        "sf": 0.1,
    }
    if cold:
        p["queries_cold"] = {f"query_name_{i:03d}": 0.456 for i in range(n_queries)}
    if history:
        p["history_totals"] = {f"r{i}": 13.0 for i in range(1, 14)}
    if pad:
        p["errors"] = {"_pad": "x" * pad}
    return p


def test_shed_keeps_everything_when_line_fits():
    p = _payload()
    assert len(json.dumps(p)) <= bench.STDOUT_LINE_BUDGET
    assert bench._shed_for_stdout(p) == p


def _without(p, *keys):
    return {k: v for k, v in p.items() if k not in keys}


def test_shed_drops_history_then_cold_but_never_queries():
    # pad=700: dropping history_totals alone makes the line fit
    p = _payload(pad=700)
    out = bench._shed_for_stdout(p)
    assert out == _without(p, "history_totals")
    assert len(json.dumps(out)) <= bench.STDOUT_LINE_BUDGET
    # pad=1200: only dropping BOTH extras fits; `queries` always stays
    p = _payload(pad=1200)
    out = bench._shed_for_stdout(p)
    assert out == _without(p, "history_totals", "queries_cold")
    assert len(json.dumps(out)) <= bench.STDOUT_LINE_BUDGET


def test_shed_never_touches_the_series_fields():
    p = _payload(n_queries=220, history=True)  # wide-style, hopelessly big
    out = bench._shed_for_stdout(p)
    assert out["queries"] == p["queries"]
    assert out["value"] == p["value"]
    assert "queries_cold" not in out and "history_totals" not in out


# --- bench_full.json sidecar ------------------------------------------------


def _full(p):
    return {**p, "calibration_sec": 1.0, "calibration_io_sec": 2.0}


def test_no_sidecar_when_nothing_is_shed(tmp_path):
    p = _full(_payload())
    sidecar = tmp_path / "bench_full.json"
    assert bench._stdout_line(p, str(sidecar)) == json.dumps(p)
    assert not sidecar.exists()


def test_sidecar_written_whenever_anything_was_shed(tmp_path):
    # the shed line fits, so stdout keeps `queries` — but history_totals
    # left it, so the full payload must land in the sidecar
    p = _full(_payload(pad=700))
    sidecar = tmp_path / "bench_full.json"
    line = bench._stdout_line(p, str(sidecar))
    assert json.loads(line) == _without(p, "history_totals")
    assert json.loads(sidecar.read_text()) == p


def test_oversized_line_falls_back_to_compact_summary(tmp_path):
    p = _full(_payload(n_queries=220))
    sidecar = tmp_path / "bench_full.json"
    line = json.loads(bench._stdout_line(p, str(sidecar)))
    assert line["n_queries"] == 220 and line["full_payload"] == "bench_full.json"
    assert len(json.dumps(line)) <= bench.STDOUT_LINE_BUDGET
    assert json.loads(sidecar.read_text()) == p
