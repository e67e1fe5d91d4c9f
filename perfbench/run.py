"""End-to-end benchmark of collimate_spark.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 12 --trace 0

One closed-loop client: a single driver process on ``local[<cores>]``
runs the workload's operations one after another, in an order shuffled by
``--seed``, over the fixed seed-42 test tables in ``perfbench/data``.
Derived inputs and every file Spark writes go to ``.perfbench_work/``.

A run has three phases:

1. Set-up (``setup_s``): start the session, then one warm-up pass whose
   outputs are checked against the DuckDB oracles and fixed expectations.
2. Timed passes, as many as ``--seconds`` holds at ``PASS_S`` seconds a
   pass (at least two). Each operation is timed from the call into its
   public function until its sink completes, after ``clear_scratch()``
   and with the ANN training caches emptied, so cache fills, driver-side
   jobs and training count. ``wall_s`` is the median pass time. Every
   pass is checked against the warm-up by the row count nearest each
   plan's root, read from Spark's SQL status store.
3. Report. With ``--trace 0`` the last stdout line carries the end-to-end
   metrics. With ``--trace 1`` the run makes an untraced, a traced and an
   untraced pass instead, and the line carries the per-layer metrics of
   the traced pass, plus the tracing overhead (traced pass time minus the
   mean of its untraced neighbours).

Earlier stdout lines hold the host record and the per-operation details,
including the CPU time the hypervisor stole from the machine during the
run, which explains most run-to-run spread on a shared host.
Exit status is non-zero, with no result line, if the program cannot be
imported or run.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CSV_PARTS = 8
STREAM_FILES = 3
# The pass count is fixed by --seconds, not by the clock. The JVM keeps
# getting faster for several passes after the warm-up, so a loop that
# stops on the clock gives a loaded host's runs fewer and less-warmed
# passes, which widens the run-to-run spread. PASS_S is about one pass
# of either workload on a 4-core host.
PASS_S = 8.0
MIN_PASSES = 2

sys.path.insert(0, HERE)

import staging  # noqa: E402
import tracing as tr  # noqa: E402
import workloads as wl  # noqa: E402


def configure_environment(cores: int) -> None:
    """Keep every file Spark, its JVM and its Python workers write inside
    the work dir, and let the workers import the program."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def host_record(cores: int) -> dict:
    """Cores, CPU model, memory and bench.py's frozen calibration probes.
    The probes cost ~10 s of a run, so they are taken once per checkout
    and boot, by the first run, before its workload."""
    cpu = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    with open("/proc/sys/kernel/random/boot_id") as fh:
        boot = fh.read().strip()
    rec = {"nproc": cores, "cpu_model": cpu, "mem_total_mb": mem_kb // 1024}
    cache = os.path.join(WORK, "host_probes.json")
    try:
        with open(cache) as fh:
            probes = json.load(fh)
        if probes["boot_id"] != boot:
            probes = None
    except (OSError, ValueError, KeyError):
        probes = None
    rec["probes"] = probes
    rec["boot_id"] = boot
    return rec


def take_probes(spark, rec: dict) -> None:
    import bench

    probes = {
        "boot_id": rec["boot_id"],
        "taken_at": time.time(),
        "calibration_io_sec": bench.bench_calibration_io(),
        "calibration_sec": bench.bench_calibration(spark),
    }
    with open(os.path.join(WORK, "host_probes.json"), "w") as fh:
        json.dump(probes, fh)
    rec["probes"] = probes


def timed_passes(seconds: float) -> int:
    return max(MIN_PASSES, round(seconds / PASS_S))


def steal_s() -> float:
    """CPU time the hypervisor has taken from the CPUs since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    """Runs a workload's operations pass by pass and checks every pass."""

    def __init__(self, spark, ops, checker, tracer: tr.Tracer, seed: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.ops = ops
        self.checker = checker
        self.tracer = tracer
        self.status = tr.StatusReader(spark)
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}
        self.expect_rows: dict[str, object] = {}
        self.warm_s: dict[str, float] = {}
        self.n_pass = 0
        self.pids = (os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid()))

    def _fail(self, key: str, reason: str) -> None:
        self.failed += 1
        self.errors.setdefault(key, reason)

    def _group(self, tag: str, op: str, phase: str) -> None:
        """Tag the jobs that follow, so the status stores can be read per
        operation and phase."""
        g = f"{tag}:{op}:{phase}"
        self.sc.setJobGroup(g, g)

    def _prepare(self) -> None:
        from collimate_spark.functions import fast_vec
        from collimate_spark.scratch import clear_scratch

        with self.tracer.span("scratch.clear"):
            clear_scratch()
        fast_vec._QUANTIZER_CACHE.clear()
        fast_vec._PQ_CACHE.clear()

    def warmup(self) -> None:
        """First pass: every op once, outputs checked; records what each
        later pass must reproduce."""
        for op in self.ops:
            self._prepare()
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                self._group("warm", op.name, "build")
                built = op.build(self.spark)
                self._group("warm", op.name, "exec")
                if op.kind == "query":
                    pdf = built.toPandas()
                    self._group("warm", op.name, "check")
                    why = self.checker.query(op.name, pdf)
                else:
                    out = op.sink(built)
                    self._group("warm", op.name, "check")
                    why = (
                        self.checker.ingest(self.spark, built, out)
                        if op.kind == "ingest"
                        else self.checker.stream(op.name, out)
                    )
                    if op.kind == "stream":
                        self.expect_rows[op.name] = (out["input_rows"], out["output_rows"])
            except Exception:  # noqa: BLE001 — one op's failure is one count
                why = traceback.format_exc(limit=4)
            self.warm_s[op.name] = time.perf_counter() - t0
            if why:
                self._fail(op.name, why)
        self.sc.setJobGroup("idle", "idle")
        self.status.drain()
        groups = self.status.jobs_by_group()
        by_job = self.status.executions_by_job()
        for op in self.ops:
            if op.kind != "stream" and op.name not in self.errors:
                self.expect_rows[op.name] = self._root_rows(groups, by_job, f"warm:{op.name}:exec")

    def _root_rows(self, groups, by_job, group: str):
        execs = [by_job[int(j.jobId())] for j in groups.get(group, []) if int(j.jobId()) in by_job]
        return self.status.root_rows(max(execs)) if execs else None

    def timed_pass(self, traced: bool) -> dict:
        """One pass over the ops in a fresh shuffled order."""
        self.n_pass += 1
        tag = f"p{self.n_pass}"
        order = list(self.ops)
        self.rng.shuffle(order)
        self.tracer.reset()
        self.tracer.enabled = traced
        rec: dict = {"ops": {}, "traced": traced, "tag": tag}
        cached_peak = 0
        steal0 = steal_s()
        t_pass = time.perf_counter()
        for op in order:
            self._prepare()
            self.attempted += 1
            out, err = {}, None
            t0 = time.perf_counter()
            with self.tracer.span(f"op.{op.name}"):
                try:
                    self._group(tag, op.name, "build")
                    with self.tracer.span("operators.build"):
                        built = op.build(self.spark)
                    self._group(tag, op.name, "exec")
                    with self.tracer.span("operators.exec"):
                        out = op.sink(built)
                except Exception:  # noqa: BLE001 — one op's failure is one count
                    err = traceback.format_exc(limit=4)
            dt = time.perf_counter() - t0
            rec["ops"][op.name] = {"s": dt, "out": out, "err": err}
            if traced:
                cached_peak = max(cached_peak, self.status.cached_bytes())
        rec["wall_s"] = time.perf_counter() - t_pass
        rec["steal_s"] = steal_s() - steal0
        rec["cached_peak"] = cached_peak
        self.sc.setJobGroup("idle", "idle")
        self._check_pass(rec)
        if traced:
            spans = list(self.tracer.spans)
            rec["layers"] = pass_layers(rec, spans, self.status_layers(rec), self.checker.inputs)
        return rec

    def _check_pass(self, rec: dict) -> None:
        self.status.drain()
        groups = self.status.jobs_by_group()
        by_job = self.status.executions_by_job()
        rec["groups"], rec["by_job"] = groups, by_job
        for op in self.ops:
            r = rec["ops"][op.name]
            key = f"{rec['tag']}:{op.name}"
            if r["err"]:
                self._fail(key, r["err"])
                continue
            if op.kind == "stream":
                got = (r["out"]["input_rows"], r["out"]["output_rows"])
            else:
                got = self._root_rows(groups, by_job, f"{rec['tag']}:{op.name}:exec")
            want = self.expect_rows.get(op.name)
            if got is None or got != want:
                self._fail(key, f"rows {got} vs warm-up {want}")

    def status_layers(self, rec: dict) -> dict[str, float]:
        """Jobs, stages and Python-worker plan metrics of one traced pass,
        from Spark's status stores."""
        groups, by_job = rec["groups"], rec["by_job"]
        jobs, build_jobs, profile_jobs = [], 0, 0
        for op in self.ops:
            base = f"{rec['tag']}:{op.name}:"
            build_jobs += len(groups.get(base + "build", []))
            profile_jobs += len(groups.get(base + "build:profile", []))
            for g, js in groups.items():
                if g.startswith(base):
                    jobs += js
            out = rec["ops"][op.name]["out"]
            if op.kind == "stream" and out:
                jobs += groups.get(out["run_id"], [])
        m = {
            "operators.build_jobs": build_jobs + profile_jobs,
            "ingest.profile_jobs": profile_jobs,
            "spark.jobs": len(jobs),
        }
        m.update(self.status.stage_totals(jobs))
        execs = {by_job[int(j.jobId())] for j in jobs if int(j.jobId()) in by_job}
        m.update(self.status.python_metrics(sorted(execs)))
        return m


STATUS_KEYS = (
    ("operators.build_jobs", "ingest.profile_jobs", "spark.jobs")
    + tr.STAGE_KEYS
    + tuple(tr.PYTHON_METRICS.values())
)


def span_layers(spans: list, wall_s: float) -> dict[str, float]:
    """Per-layer times and counts from one traced pass's spans."""

    def named(name):
        return [s for s in spans if s.name == name]

    def total(name):
        return sum(s.duration for s in named(name))

    builds = named("operators.build")
    m = {
        "operators.build_s": total("operators.build"),
        "operators.build_self_s": sum(tr.self_time(s) for s in builds),
        "operators.exec_s": total("operators.exec"),
        "catalog.load_table_calls": len(named("catalog.load_table")),
        "catalog.load_table_s": total("catalog.load_table"),
        "functions.fast_vec_train_s": total("functions.fast_vec_train"),
        "scratch.frames": len(named("scratch.scache")),
        "scratch.clear_s": total("scratch.clear"),
        "trace.unaccounted_s": wall_s - sum(s.duration for s in spans if s.parent is None),
    }
    for name in ("read_raw", "profile", "apply_manifest", "to_columnar"):
        m[f"ingest.{name}_s"] = total(f"ingest.{name}")
    return m


def ingest_layers(op_rec: dict | None, inputs) -> dict[str, float]:
    if not op_rec or not op_rec["out"]:
        return {
            "ingest.bytes_written": 0.0,
            "ingest.rows_per_s": 0.0,
            "ingest.store_bytes_per_input_byte": 0.0,
        }
    written = op_rec["out"]["bytes_written"]
    return {
        "ingest.bytes_written": written,
        "ingest.rows_per_s": inputs.csv_rows / op_rec["s"],
        "ingest.store_bytes_per_input_byte": written / inputs.csv_bytes,
    }


STREAM_PHASES = {
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "latestOffset": "streaming.latest_offset_ms",
}


def stream_layers(runs, rows_per_run: int) -> dict[str, float]:
    """Micro-batch phases and state-store numbers summed over stream runs,
    given as (seconds, sink record) pairs."""
    m = dict.fromkeys(STREAM_PHASES.values(), 0.0)
    m.update({
        "streaming.batches": 0.0, "streaming.batch_p50_ms": 0.0,
        "streaming.state_rows": 0.0, "streaming.state_memory_bytes": 0.0,
        "streaming.state_commit_ms": 0.0, "streaming.rows_per_s": 0.0,
    })
    if not runs:
        return m
    latencies = []
    for _, out in runs:
        prog = out["progress"]
        m["streaming.batches"] += len(prog)
        for p in prog:
            latencies.append(p["durationMs"]["triggerExecution"])
            for phase, key in STREAM_PHASES.items():
                m[key] += p["durationMs"].get(phase, 0)
            for so in p.get("stateOperators", []):
                m["streaming.state_commit_ms"] += so.get("commitTimeMs", 0)
        last = prog[-1].get("stateOperators", []) if prog else []
        m["streaming.state_rows"] += sum(so.get("numRowsTotal", 0) for so in last)
        m["streaming.state_memory_bytes"] += max(
            (sum(so.get("memoryUsedBytes", 0) for so in p.get("stateOperators", [])) for p in prog),
            default=0,
        )
    m["streaming.batch_p50_ms"] = tr.median(latencies)
    m["streaming.rows_per_s"] = rows_per_run * len(runs) / sum(s for s, _ in runs)
    return m


def pass_layers(rec: dict, spans: list, status: dict, inputs) -> dict[str, float]:
    """Every per-layer metric of one traced pass."""
    ops = rec["ops"]
    m = {
        "operators.ops_failed": sum(1 for r in ops.values() if r["err"]),
        "scratch.cached_bytes": rec["cached_peak"],
    }
    m.update(span_layers(spans, rec["wall_s"]))
    m.update(status)
    m.update(ingest_layers(ops.get("ingest_csv"), inputs))
    m.update(stream_layers(
        [(r["s"], r["out"]) for n, r in ops.items() if n.startswith("stream_") and r["out"]],
        inputs.stream_rows,
    ))
    return m


def run_layers(traced: list, untraced_walls: list, session_s: float, peak_rss_mb: float,
               failed: int, attempted: int):
    """Per-layer metrics of a traced run: medians over its traced passes,
    plus the run-level numbers."""
    m = {k: tr.median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
    m["session.get_session_s"] = session_s
    m["session.peak_rss_mb"] = peak_rss_mb
    m["trace.overhead_s"] = tr.median([p["wall_s"] for p in traced]) - (
        sum(untraced_walls) / len(untraced_walls)
    )
    m["bench.failed_ratio"] = failed / attempted
    return m


def end_to_end(session_s: float, warmup_s: float, passes: list):
    return {
        "setup_s": session_s + warmup_s,
        "wall_s": tr.median([p["wall_s"] for p in passes]),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited
    (its Python workers are stopped with the session)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def install_tracing(tracer: tr.Tracer, sc) -> None:
    """Spans around the program's public functions the operations call."""
    from collimate_spark import catalog, ingest, scratch
    from collimate_spark.functions import fast_vec

    def profile_group():
        g = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{g}:profile", "profile")

    for args in (
        (catalog, "load_table", "catalog.load_table"),
        (fast_vec, "trained_quantizer", "functions.fast_vec_train"),
        (fast_vec, "trained_pq_codebooks", "functions.fast_vec_train"),
        (scratch, "scache", "scratch.scache"),
        (ingest, "read_raw", "ingest.read_raw"),
        (ingest, "apply_manifest", "ingest.apply_manifest"),
        (ingest, "to_columnar", "ingest.to_columnar"),
    ):
        tr.instrument(tracer, *args)
    # profile's jobs get their own job group, so they can be counted
    tr.instrument(tracer, ingest, "profile", "ingest.profile", on_call=profile_group)


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    """The last stdout line: exactly the metrics BENCHMARK.json names."""
    if set(values) != set(units):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}"
        )
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    })


def load_metric_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    steal0 = steal_s()
    spec = load_metric_spec()
    cores = len(os.sched_getaffinity(0))
    configure_environment(cores)
    sys.path.insert(0, ROOT)
    import collimate_spark  # noqa: F401 — fail before any work if absent
    from collimate_spark.session import get_session

    sf_dir = staging.DATA_DIR
    csv_dir, csv_rows, csv_bytes = staging.stage_lineitem_csv(WORK, sf_dir, CSV_PARTS)
    stream_dir, stream_rows = staging.stage_event_files(WORK, sf_dir, STREAM_FILES)
    inputs = wl.Inputs(sf_dir, csv_dir, csv_rows, csv_bytes, stream_dir, stream_rows, WORK)
    host = host_record(cores)
    t_inputs = time.perf_counter() - t_start

    t0 = time.perf_counter()
    spark = get_session("perfbench")
    session_s = time.perf_counter() - t0
    try:
        probe_s = 0.0
        if host["probes"] is None:
            t0 = time.perf_counter()
            take_probes(spark, host)
            probe_s = time.perf_counter() - t0
        tracer = tr.Tracer(enabled=False)
        runner = Runner(spark, wl.make_ops(args.workload, inputs), wl.Checker(inputs), tracer, args.seed)
        t0 = time.perf_counter()
        runner.warmup()
        warmup_s = time.perf_counter() - t0
        if args.trace:
            install_tracing(tracer, spark.sparkContext)
            # untraced, traced, untraced: a warming trend cancels out of
            # traced minus the mean of its neighbours
            passes = [runner.timed_pass(traced=t) for t in (False, True, False)]
        else:
            passes = [runner.timed_pass(traced=False) for _ in range(timed_passes(args.seconds))]
        peak_rss_mb = sum(vm_hwm_mb(pid) for pid in runner.pids)
    finally:
        stop_spark(spark)

    walls = [p["wall_s"] for p in passes if not p["traced"]]
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        values = run_layers(traced, walls, session_s, peak_rss_mb, runner.failed, runner.attempted)
        units = spec["per_layer"]
    else:
        values = end_to_end(session_s, warmup_s, [p for p in passes if not p["traced"]])
        units = spec["end_to_end"]
    line = result_line(runner.failed == 0, runner.attempted, runner.failed, values, units)
    print(json.dumps({"host": host}))
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "inputs_s": round(t_inputs, 3), "probe_s": round(probe_s, 3),
        "session_s": round(session_s, 3), "warmup_s": round(warmup_s, 3),
        "peak_rss_mb": round(peak_rss_mb, 1), "steal_s": round(steal_s() - steal0, 2),
        "pass_wall_s": [round(p["wall_s"], 3) for p in passes],
        "pass_steal_s": [round(p["steal_s"], 2) for p in passes],
        "pass_traced": [p["traced"] for p in passes],
        "op_s": {
            n: [round(runner.warm_s[n], 3)] + [round(p["ops"][n]["s"], 3) for p in passes]
            for n in passes[0]["ops"]
        },
        "observed": runner.checker.observed,
        "errors": runner.errors,
    }))
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
