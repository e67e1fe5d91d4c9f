"""The benchmark's workloads: which operations each one runs, how each
operation is built and sunk, and how its output is checked.

An operation is timed from the call into its public function until its
sink completes. ``build`` returns what ``sink`` consumes; ``sink`` returns
a small record of what came out, which the checks compare.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import uuid
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))

# The operation lists are cut to what fits the benchmark's time budget:
# every run pays a fresh JVM and a cold warm-up pass of about three times
# the timed pass, and on an idle 4-core host a run of 12 s should still
# make three timed passes, so that its median is not a single pass. Each
# kept op stands for a layer: scans and aggregation (q1), joins (q3),
# windows (window_topk), JSON parsing, the converter, the stream; Python-
# worker text kernels (minhash), ANN training and vector UDFs (ann_ivf),
# driver-side iterative build jobs and scratch caches (connected
# components), and a JVM-only dedup baseline (dedup_exact).
ANALYTICS_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_topk_per_group",
    "json_extract_events",
)
CURATION_QUERIES = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_ivf_topk",
    "dedup_connected_components",
)
# Rows-only operators (no DuckDB oracle) are checked by a row count and a
# hash of their sorted rows against ``expected.json``.
FINGERPRINTED = ("ann_ivf_topk",)

WORKLOADS = {
    # JVM only: the converter, SQL and a stateful stream; no Python workers
    "analytics": ANALYTICS_QUERIES + ("ingest_csv", "stream_windowed_counts"),
    # driver-side build jobs, scratch caches and Python-worker kernels
    "curation": CURATION_QUERIES,
}


@dataclass
class Op:
    name: str
    kind: str  # query | ingest | stream
    build: object
    sink: object


@dataclass
class Inputs:
    sf_dir: str
    csv_dir: str
    csv_rows: int
    csv_bytes: int
    stream_dir: str
    stream_rows: int
    work: str


def _noop_sink(df) -> dict:
    df.write.format("noop").mode("overwrite").save()
    return {}


def query_op(name: str, fn, inputs: Inputs) -> Op:
    return Op(name, "query", lambda spark: fn(spark, inputs.sf_dir), _noop_sink)


def ingest_op(inputs: Inputs) -> Op:
    from collimate_spark import ingest as ing  # looked up per call: tracing wraps it

    out = os.path.join(inputs.work, "ingest_out")

    def build(spark):
        return ing.ingest(spark, inputs.csv_dir, parse_dates=True)

    def sink(built) -> dict:
        typed, manifest = built
        ing.to_columnar(typed, out, manifest, write_manifest=True)
        written = sum(
            os.path.getsize(os.path.join(out, f))
            for f in os.listdir(out)
            if f.endswith(".parquet")
        )
        return {"bytes_written": written, "manifest": manifest.to_dict()}

    return Op("ingest_csv", "ingest", build, sink)


def stream_op(inputs: Inputs) -> Op:
    """Event-time windowed counts over the staged event files, one file per
    micro-batch, run to completion with a fresh checkpoint."""
    from collimate_spark.streaming import pipeline as sp

    ck_root = os.path.join(inputs.work, "checkpoints")

    def build(spark):
        schema = spark.read.parquet(inputs.stream_dir).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inputs.stream_dir)
        )
        return sp.windowed_counts(src)

    def sink(df) -> dict:
        ck = os.path.join(ck_root, uuid.uuid4().hex)
        q = (
            df.writeStream.format("noop")
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            progress = q.recentProgress
            run_id = str(q.runId)
        finally:
            q.stop()
            shutil.rmtree(ck, ignore_errors=True)
        return {
            "progress": progress,
            "run_id": run_id,
            "input_rows": sum(p["numInputRows"] for p in progress),
            "output_rows": sum(p["sink"].get("numOutputRows", 0) for p in progress),
        }

    return Op("stream_windowed_counts", "stream", build, sink)


def make_ops(workload: str, inputs: Inputs) -> list[Op]:
    from collimate_spark.operators import all_queries

    registry = all_queries()
    special = {"ingest_csv": ingest_op, "stream_windowed_counts": stream_op}
    return [
        special[n](inputs) if n in special else query_op(n, registry[n], inputs)
        for n in WORKLOADS[workload]
    ]


# ---------------------------------------------------------------------------
# Output checks (warm-up pass)


def _driver_sim():
    """The repo's DuckDB comparison (``scripts/driver_sim.py``)."""
    scripts = os.path.join(os.path.dirname(HERE), "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import driver_sim

    return driver_sim


def fingerprint(pdf) -> dict:
    """Row count + hash of the sorted rendered rows (column order fixed)."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(map(str, r)) for r in pdf[cols].itertuples(index=False))
    return {"rows": len(rows), "sha1": hashlib.sha1("\n".join(rows).encode()).hexdigest()[:16]}


_ROUND_RE = re.compile(r"\bROUND\s*\(", re.IGNORECASE)
_ALIAS_RE = re.compile(r"\s*AS\s+(\w+)", re.IGNORECASE)
_DIGITS_RE = re.compile(r",\s*(\d+)\s*$")


def rounded_columns(sql: str) -> dict[str, int]:
    """Output columns an oracle query rounds, as ``ROUND(<expr>, n) AS col``,
    mapped to ``n`` (lower-cased names)."""
    out = {}
    for m in _ROUND_RE.finditer(sql):
        depth, i = 1, m.end()
        while depth and i < len(sql):
            depth += {"(": 1, ")": -1}.get(sql[i], 0)
            i += 1
        args = sql[m.end():i - 1]
        digits = _DIGITS_RE.search(args)
        alias = _ALIAS_RE.match(sql, i)
        if digits and alias:
            out[alias.group(1).lower()] = int(digits.group(1))
    return out


class Checker:
    """Compares warm-up outputs with DuckDB oracles and the fixed
    expectations in ``expected.json``. Every check returns None when the
    output is right, else a reason; ``observed`` keeps what the fixed
    checks saw, so a run's details show it."""

    def __init__(self, inputs: Inputs):
        from collimate_spark.operators import all_oracles

        self.inputs = inputs
        self.sim = _driver_sim()
        self.con = self.sim._duck(inputs.sf_dir)
        self.oracles = all_oracles()
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.observed: dict[str, object] = {}

    def _fixed(self, key: str, got) -> str | None:
        self.observed[key] = got
        want = self.expected[key]
        return None if got == want else f"{key}: {got} vs expected.json {want}"

    def query(self, name: str, pdf) -> str | None:
        if name in self.oracles:
            sql = self.oracles[name]
            return self.compare(pdf, self.con.execute(sql).fetchdf(), rounded_columns(sql))
        if name in FINGERPRINTED:
            return self._fixed(name, fingerprint(pdf))
        return "no oracle and no fingerprint"

    def compare(self, got, want, rounded: dict[str, int]) -> str | None:
        """``driver_sim.compare``, except that a column the oracle rounds
        with ``ROUND(x, n)`` may differ by one step of ``10**-n``: Spark and
        DuckDB sum in different orders, so a total that lands on a half-step
        tie rounds up in one engine and down in the other."""
        why = self.sim.compare(got, want)
        if why is None or not why.startswith("col "):
            return why
        a, b = self.sim._norm(got), self.sim._norm(want)
        for c in a.columns:
            n = rounded.get(c.lower())
            if n is not None and a[c].dtype.kind == "f" and b[c].dtype.kind == "f":
                close = (a[c] - b[c]).abs() <= 10.0 ** -n * (1 + 1e-6)
                a.loc[close, c] = b.loc[close, c]
        return self.sim.compare(a, b)

    def ingest(self, spark, built, out: dict) -> str | None:
        from collimate_spark.ingest import audit, read_raw

        typed, manifest = built
        if manifest.n_rows != self.inputs.csv_rows:
            return f"manifest n_rows {manifest.n_rows} vs {self.inputs.csv_rows}"
        losses = audit(read_raw(spark, self.inputs.csv_dir), manifest, typed)
        if any(losses.values()):
            return f"audit losses {losses}"
        return self._fixed("ingest_manifest", out["manifest"])

    def stream(self, name: str, out: dict) -> str | None:
        if out["input_rows"] != self.inputs.stream_rows:
            return f"input rows {out['input_rows']} vs {self.inputs.stream_rows}"
        return self._fixed(f"{name}.output_rows", out["output_rows"])
