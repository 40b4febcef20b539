"""Benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One closed-loop client drives the
workload from this process on ``local[4]`` with the shipped
``session.get_spark()`` config: set-up, which ends with one untimed
warm-up op, then measured ops back to back until they have taken
``--seconds`` seconds (two at least).  Each op's output check runs after
it, outside its timing.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` enables
Spark's event log, alternates untraced and traced ops, and prints the
per-layer metrics; its spans (``operators/tracing.SPAN_SCHEMA`` rows),
their ``span_rollup``/``critical_path`` and per-job metrics are written
under ``.perfbench_work/trace/``.

Everything the run writes lives under ``.perfbench_work/`` in the
repository root.  The last stdout line is the result object; the line
before it holds the host-noise audit fields.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
#: untimed ops at the end of set-up
WARMUP_OPS = 1
#: measured ops: at least this many, and as many as ``--seconds`` holds
MIN_OPS = 2


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), sampled from /proc every 0.5 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def sample_kb(self) -> int:
        tree = [os.getpid()]
        for p in tree:  # grows while iterating: breadth-first walk
            try:
                for tid in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{tid}/children") as f:
                        tree.extend(int(c) for c in f.read().split())
            except OSError:
                continue
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page_kb
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self.sample_kb())
            self._stop_evt.wait(0.5)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, self.sample_kb())
        return self.peak_kb / 1024.0


def calibration_s(spark) -> float:
    """``bench.py``'s fixed CPU-bound calibration job, best of 3."""
    best = None
    for _ in range(3):
        t0 = time.time()
        spark.range(32_000_000).selectExpr(
            "sum(pmod(xxhash64(id), 1000000007)) AS h"
        ).write.format("noop").mode("overwrite").save()
        best = min(best or 1e9, time.time() - t0)
    return best


def configure_env(work: str, trace: bool) -> str | None:
    """Keep every file the run writes under ``work`` and, for a traced
    run, turn on Spark's uncompressed single-file event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return log_dir


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        proc.wait(timeout=60)


def common_layer_metrics(rows, by_span, ops: dict, traced, untraced, walls) -> dict:
    """Spark-engine, Python-boundary and driver metrics per traced op
    (medians), plus the tracing overhead."""
    from perfbench import trace as T

    per_op = []
    for k in traced:
        sid = ops[k]["span"]
        root = next(r for r in rows if r["span_id"] == sid)
        jobs = [j for r in T.subtree(rows, sid) for j in by_span.get(r["span_id"], [])]
        s = T.sum_jobs(jobs)
        end = root["start_ms"] + root["dur_ms"]
        total = s["total_ms"]
        per_op.append({
            "spark.jobs": s["jobs"],
            "spark.stages": s["stages"],
            "spark.tasks": s["tasks"],
            "spark.executor_run_s": s["run_ms"] / 1e3,
            "spark.executor_cpu_s": s["cpu_ns"] / 1e9,
            "spark.gc_s": s["gc_ms"] / 1e3,
            "spark.scheduler_delay_s": s["sched_ms"] / 1e3,
            "spark.shuffle_write_mb": s["shuffle_write_b"] / 1e6,
            "spark.shuffle_read_mb": s["shuffle_read_b"] / 1e6,
            "spark.spill_mb": s["spill_b"] / 1e6,
            "spark.input_mb": s["input_b"] / 1e6,
            "spark.output_mb": s["output_b"] / 1e6,
            "spark.task_failures": s["task_failures"],
            "python.boot_s": s["boot_ms"] / 1e3,
            "python.init_s": s["init_ms"] / 1e3,
            "python.total_s": total / 1e3,
            "python.data_sent_mb": s["sent_b"] / 1e6,
            "python.data_received_mb": s["recv_b"] / 1e6,
            "python.boot_ratio": s["boot_ms"] / total if total else 0.0,
            "driver.build_s": (root["dur_ms"] - T.job_busy_ms(
                jobs, root["start_ms"], end)) / 1e3,
            "driver.py4j_calls": ops[k]["py4j"],
        })
    m = {name: statistics.median(v[name] for v in per_op) for name in per_op[0]}
    m["trace.overhead_s"] = (statistics.median(walls[k] for k in traced)
                             - statistics.median(walls[k] for k in untraced))
    return m


def write_artifacts(spark, tracer, rows, by_span, out_dir: str) -> None:
    """Spans in SPAN_SCHEMA shape with per-span job metrics as attrs,
    plus the engine's own span_rollup and critical_path over them."""
    from gpt_rag_ingestion_spark.operators.tracing import (
        SPAN_SCHEMA, critical_path, span_rollup,
    )

    from perfbench import trace as T

    os.makedirs(out_dir, exist_ok=True)
    out = []
    for r in rows:
        attrs = dict(r["attrs"])
        attrs["py4j_calls"] = str(tracer.py4j_by_span.get(r["span_id"], 0))
        for k, v in T.sum_jobs(by_span.get(r["span_id"], [])).items():
            attrs[k] = str(v)
        out.append((r["trace_id"], r["span_id"], r["parent_id"], r["name"],
                    r["start_ms"], r["dur_ms"], r["ok"], attrs))
    spans = spark.createDataFrame(out, SPAN_SCHEMA)
    spans.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "spans"))
    for name, df in (("rollup", span_rollup(spans)), ("critical_path", critical_path(spans))):
        with open(os.path.join(out_dir, f"{name}.json"), "w") as f:
            json.dump([r.asDict() for r in df.collect()], f, indent=1, default=str)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    sys.path.insert(0, ROOT)
    from perfbench import metrics as M

    if args.workload not in [w["name"] for w in M.WORKLOADS]:
        ap.error(f"unknown workload {args.workload!r}")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        audit, result = run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"audit": audit}))
    print(json.dumps(result))
    return 0


def run(args, work: str, t_start: float) -> tuple[dict, dict]:
    from perfbench import metrics as M

    trace = bool(args.trace)
    log_dir = configure_env(work, trace)
    loadavg_start = os.getloadavg()

    from gpt_rag_ingestion_spark.session import get_spark

    from perfbench import trace as T

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    # set-up is timed from here: JVM launch is PySpark's, not the program's
    t_setup = time.monotonic()
    spark_start_s = t_setup - t_start
    # memory is a traced-run metric: the sampler thread would compete
    # with the Spark driver's py4j calls for the interpreter lock
    sampler = RssSampler() if trace else None
    try:
        if sampler is not None:
            sampler.start()
        tracer = T.Tracer(spark, f"{args.workload}-{args.seed}") if trace else None
        if args.workload == M.INGEST:
            from perfbench.ingest import WRAPPED as wrapped, IngestIncremental

            wl = IngestIncremental(spark, work, args.seed, tracer)
        else:
            from perfbench.queries import QuerySuite

            wl, wrapped = QuerySuite(spark, tracer, ROOT), []
        def one_op(k: int, traced: bool) -> tuple[float, bool]:
            """Untimed delta, the timed op, then its untimed check."""
            wl.prepare(k)
            if traced:
                if hasattr(wl, "before_traced"):
                    wl.before_traced(k)
                tracer.patch(wrapped)
                n0 = tracer._py4j
            ok = True
            t0 = time.monotonic()
            try:
                wl.op(k, traced)
            except Exception:
                traceback.print_exc()
                ok = False
            wall = time.monotonic() - t0
            if traced:
                tracer.unpatch()
                wl.ops[k]["py4j"] = tracer._py4j - n0
                if ok and hasattr(wl, "after_traced"):
                    wl.after_traced(k)
            if ok:
                try:
                    ok = wl.check_op(k)
                except Exception:
                    traceback.print_exc()
                    ok = False
            return wall, ok

        wl.setup()
        # the first ops after set-up run the JIT-cold code paths of an op
        # (1.2-1.5x the steady op time), so set-up ends with warm-up ops
        for k in range(1, WARMUP_OPS + 1):
            if not one_op(k, False)[1]:
                wl.problems.append(f"warm-up op {k} failed")
        setup_s = time.monotonic() - t_setup
        setup_problems = list(wl.problems)

        walls, failed, traced_ops, untraced_ops = {}, [], [], []
        k, op_time = WARMUP_OPS, 0.0
        while True:
            k += 1
            # a traced run alternates untraced and traced ops; the seed's
            # parity picks which comes first, so that over many seeds the
            # warm-up trend cancels out of trace.overhead_s
            traced = trace and k % 2 == args.seed % 2
            walls[k], ok = one_op(k, traced)
            op_time += walls[k]
            (traced_ops if traced else untraced_ops).append(k)
            if not ok:
                failed.append(k)
            if (op_time >= args.seconds and len(walls) >= MIN_OPS
                    and (not trace or (traced_ops and untraced_ops))):
                break
        peak_rss_mb = sampler.stop() if sampler is not None else None
        measured = untraced_ops if not trace else traced_ops + untraced_ops
        op_walls = [walls[k] for k in sorted(measured)]

        audit = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": os.cpu_count(), "pyspark": __import__("pyspark").__version__,
            "loadavg_start": [round(x, 2) for x in loadavg_start],
            "spark_start_s": round(spark_start_s, 4),
            "setup_s": round(setup_s, 4),
            "calibration_s": round(calibration_s(spark), 4),
            "ops": len(op_walls), "op_s": [round(w, 4) for w in op_walls],
            "failed_ops": failed, "problems": wl.problems[:20],
            "defects": wl.defects[:20],
        }

        if not trace:
            metrics = {
                "setup_s": setup_s,
                "op_s.p50": statistics.median(walls[k] for k in untraced_ops),
            }
        else:
            computed = {"failed_ops_ratio": len(failed) / len(measured),
                        "peak_rss_mb": peak_rss_mb}
            good = [k for k in traced_ops if k not in failed]
            good_untraced = [k for k in untraced_ops if k not in failed]
            if good and good_untraced:
                T.wait_for_listeners(spark)
                jobs = T.read_event_log(T.event_log_file(log_dir))
                rows = tracer.rows()
                by_span = T.attribute(jobs, rows, tracer.trace_id)
                computed.update(common_layer_metrics(
                    rows, by_span, wl.ops, good, good_untraced, walls))
                computed.update(wl.layer_metrics(
                    rows, by_span, good, good_untraced, walls))
                out_dir = os.path.join(WORK_ROOT, "trace", f"{args.workload}-seed{args.seed}")
                write_artifacts(spark, tracer, rows, by_span, out_dir)
                audit["trace_artifacts"] = os.path.relpath(out_dir, ROOT)
            unknown = set(computed) - set(M.UNITS)
            if unknown:
                raise RuntimeError(f"undeclared metrics: {sorted(unknown)}")
            audit["not_applicable"] = sorted(
                n for n, *_ in M.PER_LAYER if n not in computed)
            metrics = {n: computed.get(n, 0.0) for n, *_ in M.PER_LAYER}
        audit["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        if tracer is not None:
            tracer.close()
    finally:
        stop_spark(spark)
        if sampler is not None and sampler.is_alive():
            sampler.stop()  # the run raised before the ops ended

    result = {
        "correct": not setup_problems and not failed,
        "attempted": len(measured),
        "failed": len(failed),
        "metrics": {n: {"value": v, "unit": M.UNITS[n]} for n, v in metrics.items()},
    }
    return audit, result


if __name__ == "__main__":
    sys.exit(main())
