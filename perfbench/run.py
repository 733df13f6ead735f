"""Seeded end-to-end benchmark of flatbread_spark.

    python3 perfbench/run.py --workload margin_tables --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one client thread, closed loop:
each request starts when the previous one has returned. A run is a fixed
number of requests, whole cycles of the workload's request schedule, so
every run measures the same request mix however fast the library is;
``--seconds`` is recorded with the result but does not change the count.
Untimed warm-up requests on small inputs come first. Inputs are generated
from ``(seed, request index)`` before each request's timer starts, every
output is checked against :mod:`oracle` after it stops, and the library's
caches are released and verified empty between requests.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on Spark's
event log, records a span around every call into a library layer, and
prints the per-layer metrics of :mod:`layers`. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. A full
record of the run (per-request latencies, spans) is written under
``perfbench/out/results`` for ``perfbench/report.py``.
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import sys
import threading
import time
import traceback
from contextlib import redirect_stdout
from io import StringIO

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import tracing as tr  # noqa: E402
import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# each cycle launches a JVM (5-10 s on a 4-core host); two cycles keep a
# whole run, set-up included, near one minute
SETUP_CYCLES = 2
# no request starts after MAX_WALL_S (those left count as failed); one
# still running at REQUEST_TIMEOUT_S has its jobs cancelled; the whole run
# is abandoned at ABORT_S, so a run always ends within 180 s
MAX_WALL_S = 110.0
REQUEST_TIMEOUT_S = 45.0
ABORT_S = 170.0
DRIVER_MEMORY = "2g"
FIRST_TOUCH_ROWS = 1_000


def _prepare_env(run_dir: str, traced: bool) -> None:
    """Everything the JVM and Python workers need, set before the JVM starts:
    local[nproc], a heap that fits a 15 GiB host, the repository on the
    workers' import path, and every scratch and log directory inside
    ``run_dir``. The heap starts at its maximum: left to grow, G1 expands it
    by run-to-run timing and the peak RSS splits into modes 40% apart."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = tmp
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        env.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        f"-Dderby.system.home={tmp}", f"-Xms{DRIVER_MEMORY}")))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None


def _jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM the session's gateway launched."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM line in the JVM's /proc status")


class Context:
    """What a workload's ``run`` may touch: the session, the tracer, and
    the per-request layer records of the traced run."""

    def __init__(self, spark, tracer: tr.Tracer):
        self.spark = spark
        self.tracer = tracer
        self.values: dict = {}
        self._plan_df = None
        self._streams: list = []
        self._timer: threading.Timer | None = None
        self.timed_out = False

    # -- request lifecycle
    def begin(self, index: int) -> None:
        sc = self.spark.sparkContext
        self.tracer.request = index
        self.values = {}
        self._plan_df = None
        self._streams = []
        self.timed_out = False
        sc.setJobGroup(f"perfbench-{index}", f"perfbench request {index}", True)
        if self.tracer.enabled:
            sc.setLocalProperty("perfbench.request", str(index))
        self._timer = threading.Timer(REQUEST_TIMEOUT_S, self._cancel, (index,))
        self._timer.daemon = True
        self._timer.start()

    def end(self) -> None:
        self._timer.cancel()
        self._timer.join()

    def _cancel(self, index: int) -> None:
        self.timed_out = True
        for q in self._streams:
            try:
                q.stop()
            except Exception:  # the query may already have ended
                traceback.print_exc()
        self.spark.sparkContext.cancelJobGroup(f"perfbench-{index}")

    # -- layer records (traced run only)
    def record(self, name: str, value: float) -> None:
        self.values[name] = value

    def watch_stream(self, q) -> None:
        self._streams.append(q)

    def record_stream(self, progress) -> None:
        if not self.tracer.enabled:
            return
        durations = [p["durationMs"].get("triggerExecution", 0) for p in progress]
        commits = sum(op.get("commitTimeMs", 0) for p in progress
                      for op in p.get("stateOperators", []))
        state = sum(op.get("numRowsTotal", 0) for op in
                    (progress[-1].get("stateOperators", []) if progress else []))
        self.values.update({
            "streaming.batches": len(progress),
            "streaming.batch_p50_ms": tr.median(durations),
            "streaming.commit_ms": commits,
            "streaming.state_rows": state,
        })

    def plan_of(self, df) -> None:
        if self.tracer.enabled:
            self._plan_df = df

    def flush_plan(self) -> None:
        """Plan facts of the request's final frame, read after its timer
        stopped: ``explain()`` text with the library's own audit patterns."""
        if self._plan_df is None:
            return
        from flatbread_spark.plans.audit import MARKS

        buf = StringIO()
        with redirect_stdout(buf):
            self._plan_df.explain()
        text = buf.getvalue()
        plan = text.split("== Physical Plan ==", 1)[-1]
        marks = dict(MARKS)
        self.values["plan.scans"] = len(re.findall(marks["scans"], plan))
        self.values["plan.exchanges"] = len(re.findall(marks["exchanges"], plan))
        self.values["plan.nodes"] = sum(1 for line in plan.splitlines()
                                        if re.match(r"^[\s:|+-]*[A-Z*(]", line))
        self._plan_df = None


def _setup(work_dir: str, cycles: int):
    """Start the session ``cycles`` times, each time cold: the JVM of the
    previous cycle is shut down, so every ``get_spark`` launches a JVM and
    applies the driver conf, as a user's first session does. Each start is
    followed by the session's first action, counting a small parquet file
    written before the timer starts. Returns (session of the last cycle,
    setup seconds, get_spark seconds)."""
    import pyarrow as pa

    from flatbread_spark import get_spark

    path = os.path.join(work_dir, "first_touch.parquet")
    os.makedirs(work_dir, exist_ok=True)
    gen.write_parquet(pa.table({"id": pa.array(range(FIRST_TOUCH_ROWS), pa.int64())}), path)
    setup, start = [], []
    spark = None
    for _ in range(cycles):
        if spark is not None:
            _shutdown()
        t0 = time.perf_counter()
        spark = get_spark(app="perfbench")
        start.append(time.perf_counter() - t0)
        n = spark.read.parquet(path).count()
        setup.append(time.perf_counter() - t0)
        if n != FIRST_TOUCH_ROWS:
            raise RuntimeError(f"first action counted {n} rows, expected {FIRST_TOUCH_ROWS}")
    os.remove(path)
    return spark, setup, start


def _warmup(workload, ctx: Context) -> float:
    """Run the workload's warm-up requests (small inputs, untraced, neither
    timed nor checked), so that the timed requests find the JIT and the
    Python workers started, as they are in a session that has been in use.
    Returns the warm-up wall in seconds."""
    import flatbread_spark as fb

    t0 = time.perf_counter()
    traced, ctx.tracer.enabled = ctx.tracer.enabled, False
    for k in workload.warmup:
        # a whole number of schedule cycles past the timed indices: same
        # schedule position k, inputs of their own
        req = workload.make(workload.requests * 1000 + k, small=True)
        ctx.begin(req.index)
        try:
            workload.run(ctx, req)
        except Exception as e:  # the timed requests will show it
            print(f"warm-up request {req.index} ({req.kind}) failed: {e}"[:500], file=sys.stderr)
        ctx.end()
        for q in ctx.spark.streams.active:
            q.stop()
        fb.release_caches()
        workload.cleanup(req)
    ctx.tracer.enabled = traced
    return time.perf_counter() - t0


def _loop(workload, ctx: Context, deadline: float):
    """Run the workload's ``requests`` requests in order. Requests that
    cannot start before ``deadline`` are recorded as failed, so a run
    always attempts the same requests."""
    import flatbread_spark as fb

    records, measured = [], 0.0
    for i in range(workload.requests):
        if time.monotonic() >= deadline:
            print(f"request {i} not started: run wall limit reached", file=sys.stderr)
            records.append({"index": i, "kind": workload.kind_of(i), "rows": 0,
                            "latency_s": None, "start": None, "end": None, "ok": False,
                            "error": "not started: run wall limit", "layers": {}})
            continue
        req = workload.make(i)
        if fb.pinned_tags():
            raise RuntimeError(f"caches still pinned before request {i}: {fb.pinned_tags()}")
        ctx.begin(i)
        err = None
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("request"):
                out = workload.run(ctx, req)
        except Exception as e:  # a failed request is counted, not fatal
            err = f"{type(e).__name__}: {e}"[:500]
        dt = time.perf_counter() - t0
        w1 = time.time()
        ctx.end()
        if err is None and ctx.timed_out:
            err = "timed out"
        if err is None:
            ctx.flush_plan()
            errs = workload.check(req, out)
            if errs:
                err = "oracle: " + "; ".join(errs[:3])
            else:
                ctx.values.update(workload.layer_values(req, out))
        else:
            for q in ctx.spark.streams.active:
                q.stop()
            fb.release_caches()
        if err is not None:
            print(f"request {i} ({req.kind}) failed: {err}", file=sys.stderr)
        records.append({
            "index": i, "kind": req.kind, "rows": req.rows, "latency_s": dt,
            "start": w0, "end": w1, "ok": err is None, "error": err,
            "layers": dict(ctx.values),
        })
        measured += dt
        workload.cleanup(req)
    return records, measured


def _end_to_end(records, measured, setup, rss_mb) -> dict:
    """The metrics ``BENCHMARK.json`` gates. The request tail needs more
    samples than a run holds; ``report.py`` pools the runs for it."""
    lat = [r["latency_s"] for r in records if r["latency_s"] is not None]
    rows = sum(r["rows"] for r in records if r["ok"])
    values = {
        "setup_s": tr.median(setup),
        "request_p50_s": tr.median(lat),
        "input_rows_per_s": rows / measured if measured else 0.0,
        "jvm_peak_rss_mb": rss_mb,
    }
    return {name: {"value": values[name], "unit": unit}
            for name, (unit, _better) in layers.declared("end_to_end").items()}


def _per_layer(records, spans, start_times, event_lines) -> dict:
    """Median over requests of each per-layer value; 0 where the workload
    never enters the layer. Each record's ``layers`` is completed with the
    request's own values."""
    jobs, stages, ran = tr.parse_event_log(event_lines)
    by_req: dict[int, list] = {}
    for j in jobs.values():
        r = j.props.get("perfbench.request")
        if r is not None:
            by_req.setdefault(int(r), []).append(j)
    spans_by_req: dict[int, list] = {}
    for s in spans:
        spans_by_req.setdefault(s["request"], []).append(s)
    declared = layers.declared("per_layer")
    samples: dict[str, list] = {name: [] for name in declared}
    samples["session.start_s"] = list(start_times)
    for rec in records:
        if rec["start"] is None:
            continue
        rs = spans_by_req.get(rec["index"], [])
        rjobs = by_req.get(rec["index"], [])
        vals = dict(rec["layers"])
        for s in rs:
            m = layers.SPAN_METRICS.get(s["name"])
            if m:
                vals[m] = vals.get(m, 0.0) + (s["end"] - s["start"])
        build = [s["end"] - s["start"] for s in rs if s["name"].startswith("operators.")]
        if build:
            vals["operators.margin_build_s"] = sum(build)
        for span_name, m in layers.SPAN_JOB_METRICS.items():
            if any(s["name"] == span_name for s in rs):
                vals[m] = sum(j.props.get("perfbench.span") == span_name for j in rjobs)
        vals.update(tr.request_job_stats(rjobs, stages, ran, rec["start"], rec["end"]))
        rec["layers"] = vals
        for k, v in vals.items():
            if k in samples and k != "session.start_s":
                samples[k].append(v)
    return {name: {"value": float(tr.median(samples[name])), "unit": unit}
            for name, (unit, _better) in declared.items()}


def _self_check(spans) -> float:
    """Largest |sum of self times - request wall| over requests: a request's
    spans must account for its wall exactly."""
    st = tr.self_times(spans)
    by_req: dict = {}
    for s in spans:
        by_req.setdefault(s["request"], []).append(s)
    worst = 0.0
    for rs in by_req.values():
        wall = sum(s["end"] - s["start"] for s in rs if s["parent"] is None)
        worst = max(worst, abs(sum(st[s["id"]] for s in rs) - wall))
    return worst


def _abort_after(seconds: float) -> threading.Timer:
    """Kill the JVM and exit non-zero if the run is still going after
    ``seconds`` (a hung worker or driver call must not hang the run)."""
    def abort():
        from pyspark import SparkContext

        print(f"run exceeded {seconds:.0f} s; aborting", file=sys.stderr)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    t = threading.Timer(seconds, abort)
    t.daemon = True
    t.start()
    return t


def _shutdown() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="recorded with the result; a run is a fixed number of requests")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)
    t_start = time.monotonic()
    watchdog = _abort_after(ABORT_S)

    out_root = os.path.join(HERE, "out")
    run_dir = os.path.join(out_root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir, traced)
    sys.path.insert(0, ROOT)
    try:
        import flatbread_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import flatbread_spark from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    workload = WORKLOADS[args.workload](args.seed, os.path.join(run_dir, "inputs"))
    try:
        spark, setup, start_times = _setup(os.path.join(run_dir, "inputs"), SETUP_CYCLES)
        sc = spark.sparkContext

        def enter(name):
            sc.setLocalProperty("perfbench.span", name)

        tracer = tr.Tracer(traced, on_enter=enter, on_exit=enter)
        ctx = Context(spark, tracer)
        warmup_s = _warmup(workload, ctx)
        records, measured = _loop(workload, ctx, t_start + MAX_WALL_S)
        rss = _jvm_peak_rss_mb(spark)
        app_id = sc.applicationId
    finally:
        _shutdown()

    attempted = len(records)
    failed = sum(not r["ok"] for r in records)
    e2e = _end_to_end(records, measured, setup, rss)
    result = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "measured_s": measured, "setup_s": setup,
              "warmup_s": warmup_s,
              "records": records, "end_to_end": e2e}
    if traced:
        logs = glob.glob(os.path.join(run_dir, "eventlog", app_id + "*"))
        lines = open(logs[0]).readlines() if logs else []
        metrics = _per_layer(records, tracer.dump(), start_times, lines)
        worst = _self_check(tracer.dump())
        result.update(spans=tracer.dump(), per_layer=metrics, self_check_max_err_s=worst,
                      event_log_found=bool(logs))
        print(f"span self-time check: max |sum(self) - request wall| = {worst:.3g} s")
        if not logs:
            print("warning: no event log found; spark.* metrics are 0", file=sys.stderr)
    else:
        metrics = e2e
    print(f"requests: {attempted} attempted, {failed} failed, failed_ratio {failed / max(attempted, 1):.4f}")
    print(f"request_p50_s over {attempted} samples")
    os.makedirs(os.path.join(out_root, "results"), exist_ok=True)
    with open(os.path.join(out_root, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(result, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    watchdog.cancel()
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
