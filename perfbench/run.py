"""Closed-loop benchmark of the dataprofiler_spark engine.

    python3 perfbench/run.py --workload profile_stream --seed 1 \
        --seconds 8 --trace 0

Run from the root of a checkout. Starts Spark with the engine's
``get_spark()`` on ``local[<usable cores>]`` and generates the
workload's inputs from ``--seed`` (cached under ``.bench_work/``). A
cold set-up round (load, one-time builds, one warm-up operation) is
followed by a warm one, whose time is ``setup_s``, and by
``WARM_SECONDS`` of untimed operations.
Then one operation at a time is driven (the next starts when the last
returns) for ``--seconds`` of operation time, and every output is
checked. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``); the
line before it (``# summary``) names every figure with its unit.

``--trace 1`` splits the time in two: an untraced half, then a half on
a fresh SparkContext with Spark's event log on and spans around the
calls into each layer. Per-layer figures come from the traced half,
and ``trace.overhead_s`` is its median operation time minus the
untraced half's. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
# operations run, checked but untimed, between set-up and the timed
# phase: the JIT keeps speeding operations up for about their first
# 10 s (measured on both workloads)
WARM_SECONDS = 8

E2E_UNITS = {"setup_s": "s", "items_per_s": "items/s", "op_p50_s": "s",
             "peak_rss_mb": "MB"}

# per-layer metric → unit; layers a workload does not call report 0
LAYER_UNITS = {
    "session.start_s": "s", "session.restart_s": "s", "data.load_s": "s",
    "profile_plan.profile_s": "s", "profile_plan.jobs": "count",
    "profile_plan.tasks": "count", "profile_plan.wide_agg_groups": "count",
    "profile_plan.wide_agg_s": "s", "profile_plan.counts_pass_s": "s",
    "profile_plan.driver_s": "s", "profile_plan.executor_cpu_s": "s",
    "profile_plan.gc_s": "s", "profile_plan.input_bytes": "bytes",
    "profile_plan.shuffle_bytes": "bytes",
    "profile_plan.scheduler_delay_s": "s",
    "state.merge_s": "s", "state.json_s": "s", "state.json_bytes": "bytes",
    "report.build_s": "s", "report.diff_s": "s",
    "incremental.update_s": "s", "incremental.self_s": "s",
    "pipeline.curate_s": "s", "pipeline.keep_ratio": "ratio",
    "pipeline.jobs": "count", "pipeline.shuffle_bytes": "bytes",
    "pipeline.executor_cpu_s": "s",
    "labeler.predict_s": "s", "labeler.jobs": "count",
    "labeler.shuffle_bytes": "bytes", "labeler.executor_cpu_s": "s",
    "ann_index.build_s": "s", "ann_index.query_s": "s",
    "ann_index.jobs": "count", "ann_index.input_bytes": "bytes",
    "ann_index.recall_at_10": "ratio",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.stage_retries": "count",
    "spark.persisted_rdds": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.driver_s": "s",
    "trace.overhead_s": "s",
}


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Session:
    """The Spark session under test, restartable inside one JVM."""

    def __init__(self, cores: int, work: str):
        self.cores = cores
        local = os.path.join(work, "spark-local")
        os.makedirs(local, exist_ok=True)
        self.conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temp files inside the checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        }
        self.spark = None

    def start(self, extra: dict | None = None):
        from dataprofiler_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores,
                               extra_conf={**self.conf, **(extra or {})})
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def jvm_pid(self):
        from pyspark import SparkContext
        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _timed_loop(wl, sess, seconds: float, tracer=None) -> list[dict]:
    """Closed loop: one operation in flight until ``seconds`` of
    operation time have passed. Each operation checks its own output
    before returning (under 1 ms: dictionary comparisons, or a NumPy
    replay of an ANN query)."""
    from workloads import CheckFailed

    ops, busy = [], 0.0
    while busy < seconds:
        rec = {"error": None}
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span("op"):
                    rec["items"] = wl.op()
            else:
                rec["items"] = wl.op()
        except CheckFailed as e:
            rec["error"] = f"check: {e}"
        except Exception as e:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        rec["lat"] = time.perf_counter() - t0
        rec.setdefault("items", 0)
        rec["persisted_rdds"] = sess.persisted_rdds()
        busy += rec["lat"]
        ops.append(rec)
    return ops


def _quantile(xs, q):
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] \
        if len(xs) > 1 else xs[0]


def _patch_layers(tracer):
    """Spans around the program's internal layer calls (the benchmark's
    own calls are wrapped by the workloads themselves)."""
    from dataprofiler_spark.plans.profile_plan import Profiler
    from dataprofiler_spark.state import DatasetState

    def keep_times(span, state):
        span.attrs["times"] = dict(state.times)

    tracer.patch(Profiler, "profile", "profile_plan.profile", keep_times)
    tracer.patch(DatasetState, "__add__", "state.merge")


def _layer_metrics(tracer, log, ops_b, ops_a, wl, setup_info) -> dict:
    from spans import attribute_jobs, layer_stats

    attribute_jobs(tracer.spans, log["jobs"])
    m = {k: 0.0 for k in LAYER_UNITS}
    m["session.start_s"] = setup_info["session_start_s"]
    m["session.restart_s"] = setup_info["restart_s"]

    def put(prefix, name, keys):
        st = layer_stats(tracer, name)
        for metric, key in keys.items():
            m[f"{prefix}.{metric}"] = st.get(key, 0.0)
        return st

    put("data", "data.load", {"load_s": "wall_s"})
    pp = put("profile_plan", "profile_plan.profile", {
        "profile_s": "wall_s", "jobs": "jobs", "tasks": "tasks",
        "driver_s": "driver_s", "executor_cpu_s": "executor_cpu_s",
        "gc_s": "gc_s", "input_bytes": "input_bytes",
        "shuffle_bytes": "shuffle_bytes",
        "scheduler_delay_s": "scheduler_delay_s"})
    prof = tracer.named("profile_plan.profile")
    if prof:
        for metric, key in (("wide_agg_groups", "wide_agg_groups"),
                            ("wide_agg_s", "wide_agg"),
                            ("counts_pass_s", "counts_pass")):
            m[f"profile_plan.{metric}"] = statistics.median(
                s.attrs.get("times", {}).get(key, 0.0) for s in prof)
    merge = put("state", "state.merge", {"merge_s": "wall_s"})
    put("state", "state.json", {"json_s": "wall_s"})
    js = tracer.named("state.json")
    if js:
        m["state.json_bytes"] = statistics.median(
            s.attrs.get("bytes", 0) for s in js)
    put("report", "report.build", {"build_s": "wall_s"})
    put("report", "report.diff", {"diff_s": "wall_s"})
    upd = put("incremental", "incremental.update", {"update_s": "wall_s"})
    if upd:
        m["incremental.self_s"] = max(0.0, upd["wall_s"]
                                      - pp.get("wall_s", 0.0)
                                      - merge.get("wall_s", 0.0))
    put("pipeline", "pipeline.curate", {
        "curate_s": "wall_s", "jobs": "jobs",
        "shuffle_bytes": "shuffle_bytes",
        "executor_cpu_s": "executor_cpu_s"})
    put("labeler", "labeler.predict", {
        "predict_s": "wall_s", "jobs": "jobs",
        "shuffle_bytes": "shuffle_bytes",
        "executor_cpu_s": "executor_cpu_s"})
    put("ann_index", "ann_index.query", {
        "query_s": "wall_s", "jobs": "jobs", "input_bytes": "input_bytes"})
    put("ann_index", "ann_index.build", {"build_s": "wall_s"})
    summary = wl.summary()
    m["pipeline.keep_ratio"] = summary.get("keep_ratio") or 0.0
    m["ann_index.recall_at_10"] = summary.get("recall_at_10") or 0.0

    # per operation, with every span nested in it
    put("spark", "op", {
        "jobs": "jobs", "tasks": "tasks", "executor_run_s": "executor_run_s",
        "executor_cpu_s": "executor_cpu_s", "gc_s": "gc_s",
        "driver_s": "driver_s"})
    m["spark.failed_tasks"] = sum(
        t["failed"] for j in log["jobs"] for t in j["tasks"])
    m["spark.stage_retries"] = log["stage_retries"]
    m["spark.persisted_rdds"] = max(
        [o["persisted_rdds"] for o in ops_a + ops_b], default=0)
    lat_a = [o["lat"] for o in ops_a]
    lat_b = [o["lat"] for o in ops_b]
    if lat_a and lat_b:
        m["trace.overhead_s"] = (statistics.median(lat_b)
                                 - statistics.median(lat_a))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # everything the run writes stays under the checkout
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    from spans import Tracer, read_event_log
    from workloads import WORKLOADS, CheckFailed

    import dataprofiler_spark  # noqa: F401  (fails fast without the program)

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    n_files = 2 * cores
    man = gen.ensure_inputs(WORK, args.workload, args.seed, n_files)

    wl = WORKLOADS[args.workload](man)
    sess = Session(cores, WORK)
    failed_setup = []

    def set_up(tracer=None):
        """One set-up round: load and build, then a warm-up operation.
        Returns the set-up spans (warm-up spans are dropped)."""
        try:
            wl.setup(sess.spark)
        except CheckFailed as e:
            failed_setup.append(f"set-up check: {e}")
        kept = list(tracer.spans) if tracer else []
        try:
            wl.op()
        except Exception as e:  # counted like a failed operation
            failed_setup.append(f"warm-up: {type(e).__name__}: {e}")
        wl.reset()
        return kept

    try:
        t_start = time.perf_counter()
        sess.start()
        session_start_s = time.perf_counter() - t_start
        t0 = time.perf_counter()
        set_up()
        setup_cold_s = session_start_s + time.perf_counter() - t0
        t0 = time.perf_counter()
        set_up()
        setup_s = time.perf_counter() - t0
        warm = _timed_loop(wl, sess, WARM_SECONDS)

        half = args.seconds / 2 if args.trace else args.seconds
        ops_a = _timed_loop(wl, sess, half)
        ops_b, tracer, log_dir, restart_s = [], None, None, 0.0
        if args.trace:
            log_dir = os.path.join(WORK, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
            t0 = time.perf_counter()
            sess.start({"spark.eventLog.enabled": "true",
                        "spark.eventLog.dir": log_dir,
                        "spark.eventLog.compress": "false"})
            restart_s = time.perf_counter() - t0
            tracer = Tracer()
            wl.tracer = tracer
            tracer.spans = set_up(tracer)
            _patch_layers(tracer)
            ops_b = _timed_loop(wl, sess, half, tracer)
            tracer.restore()
            wl.tracer = None
        errors = wl.finish()
        if errors:
            (ops_b or ops_a)[-1]["error"] = "; ".join(errors)
        jvm = sess.jvm_pid()
        peak_rss = _vm_hwm_mb("self") + (_vm_hwm_mb(jvm) if jvm else 0.0)
    finally:
        sess.shutdown()

    ops = warm + ops_a + ops_b
    lat = [o["lat"] for o in ops_a]
    failed = sum(o["error"] is not None for o in ops) + len(failed_setup)
    attempted = len(ops) + len(failed_setup)
    e2e = {
        "setup_s": setup_s,
        "items_per_s": sum(o["items"] for o in ops_a) / sum(lat),
        "op_p50_s": statistics.median(lat),
        "peak_rss_mb": peak_rss,
    }
    summary = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    if len(lat) >= 40:
        summary["op_p75_s"] = {"value": _quantile(lat, 75), "unit": "s"}
    if len(lat) >= 100:
        summary["op_p90_s"] = {"value": _quantile(lat, 90), "unit": "s"}
    summary["failed_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    extra = wl.summary()
    if extra.get("recall_at_10") is not None:
        summary["recall_at_10"] = {"value": extra["recall_at_10"],
                                   "unit": "ratio"}
    info = {"workload": args.workload, "seed": args.seed, "ops": len(lat),
            "warm_ops": len(warm),
            "op_s": [round(x, 4) for x in lat],
            "setup_cold_s": setup_cold_s,
            "session_start_s": session_start_s,
            "persisted_rdds_max": max(o["persisted_rdds"] for o in ops),
            "inputs": {k: man[k] for k in ("rows", "files", "bytes")},
            "errors": failed_setup + [o["error"] for o in ops
                                      if o["error"]][:5],
            **extra}
    print("# summary " + json.dumps(summary))
    print("# info " + json.dumps(info))

    if args.trace:
        try:
            log = read_event_log(log_dir)
        finally:
            shutil.rmtree(log_dir, ignore_errors=True)
        setup_info = {"session_start_s": session_start_s,
                      "restart_s": restart_s}
        layers = _layer_metrics(tracer, log, ops_b, ops_a, wl, setup_info)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
