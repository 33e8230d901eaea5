"""Benchmark for the corpus pipeline: batch dedup, vector kNN, and
ingest-while-serving.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed, computes the expected outputs, measures set-up, runs the
workload in a worker process for --seconds and checks every output.
The last line of stdout is one JSON object: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("corpus_dedup", "vector_knn", "crawl_ingest_serve")
RUN_BUDGET_S = 170.0
DRIVER_MEM = "2g"

E2E = {
    "setup_s": "s",
    "cold_run_s": "s",
    "run_s_p50": "s",
    "rows_per_s": "rows/s",
    "freshness_s_p50": "s",
    "freshness_s_tail": "s",
    "query_s_p50": "s",
    "query_s_tail": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "io.tables.scan_s": "s",
    "io.tables.rows_read": "count",
    "io.tables.bytes_read": "bytes",
    "functions.text.gate_s": "s",
    "functions.text.rows_in": "count",
    "functions.text.rows_out": "count",
    "functions.html.extract_s": "s",
    "functions.html.rows": "count",
    "dedup.signatures_s": "s",
    "dedup.pairs_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.pair_yield": "fraction",
    "dedup.cc_s": "s",
    "dedup.cc_jobs": "count",
    "dedup.clusters": "count",
    "similarity.ivf_build_s": "s",
    "similarity.calibrate_s": "s",
    "similarity.nprobe": "count",
    "similarity.route_ivf": "count",
    "similarity.route_quantized": "count",
    "similarity.knn_s": "s",
    "similarity.candidates": "count",
    "similarity.recall_at_5": "fraction",
    "similarity.rows_short": "count",
    "similarity.pq_encode_s": "s",
    "similarity.pq_adc_s": "s",
    "streaming.tick_s": "s",
    "streaming.tick_overhead_s": "s",
    "streaming.batches": "count",
    "streaming.rows": "count",
    "streaming.backlog_files": "count",
    "streaming.landing_lateness_s": "s",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_total": "count",
    "reads.files_scanned": "count",
    "reads.rows_scanned_per_row_out": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_busy_s": "s",
    "spark.scheduler_wait_s": "s",
    "spark.python_s": "s",
    "spark.python_bytes": "bytes",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "errors.rate": "fraction",
    "trace.iterations": "count",
    "trace.run_s_p50_traced": "s",
    "trace.run_s_p50_untraced": "s",
    "trace.overhead_s": "s",
    "trace.self_time_gap_s": "s",
    "trace.unattributed_s": "s",
    "trace.count_s": "s",
}


class BenchError(Exception):
    """The benchmark could not produce a result."""


def _check_checkout() -> None:
    for rel in ("etl_dagster_service_crawler_spark/session.py", "tools/verify_local.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise BenchError(f"{rel} not found under {ROOT}: run from a checkout")


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[2]) == pgid:
                        return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of a child's process group (JVM, Python
    workers) and wait until all of it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)


def _start(spec_path: str, env: dict, deadline: float):
    """Start the worker; return (process, seconds from start to READY).
    setup_s is this one sample: a second JVM start (~9 s) per run does
    not fit the run-time budget (README, "Sizing")."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--spec", spec_path]
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            cwd=ROOT, start_new_session=True)
    try:
        for line in proc.stdout:
            if line.strip() == "READY":
                return proc, time.time() - t0
            if time.time() > deadline:
                break
        raise BenchError("worker exited or timed out before its session was ready")
    except BaseException:
        _stop_group(proc)
        raise


def _finish(proc: subprocess.Popen, deadline: float) -> None:
    try:
        proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise BenchError("worker timed out") from None
    finally:
        _stop_group(proc)
    if proc.returncode != 0:
        raise BenchError(f"worker exited with code {proc.returncode}")


def prepare(workload: str, seed: int, seconds: float, in_dir: str) -> dict:
    """Write the seeded inputs and compute the expected outputs."""
    import gen
    import oracles
    import workloads

    if workload == "corpus_dedup":
        gen.write_corpus(seed, in_dir)
        return {"rows": gen.DEDUP_DOCS, "expected": oracles.dedup_expected(in_dir)}
    if workload == "vector_knn":
        gen.write_vectors(seed, in_dir)
        return {"rows": gen.VEC_ROWS, "expected": oracles.knn_expected(in_dir)}
    n_files = 1 + int(seconds / workloads.LANDING_INTERVAL_S)
    n_files += workloads.BURSTS * workloads.BURST_FILES
    staged = gen.write_landing_files(seed, in_dir, n_files)
    return {
        "staged": staged,
        "docs_per_file": gen.LANDING_DOCS_PER_FILE,
        "expected": oracles.extract_expected(staged),
    }


def summarize(res: dict, setup: float, trace: bool) -> dict:
    """The reported metrics: {name: (value, note)}."""
    from spans import median

    if not trace:
        out = {"setup_s": (setup, "n=1")}
        for name, v in res["e2e"].items():
            note = f"n={v[1]}" + (f", p{v[2]:.1f}" if len(v) > 2 else "")
            out[name] = (v[0], note)
        out["peak_rss_mb"] = (res["peak_rss_mb"], "VmHWM driver + JVM")
        return out
    layers = res["layers"]
    out = {}
    for name in PER_LAYER:
        vals = [d[name] for d in layers if name in d]
        out[name] = (median(vals) if vals else 0.0, f"median of {len(vals)}")
    out["session.start_s"] = (res["session_start_s"], "worker")
    out["streaming.landing_lateness_s"] = (res.get("landing_lateness_s", 0.0), "max")
    for k, v in res.get("reads", {}).items():
        out[k] = (v, "median")
    traced, untraced = res["overhead"]
    out["trace.iterations"] = (len(layers), "")
    out["trace.run_s_p50_traced"] = (traced, "")
    out["trace.run_s_p50_untraced"] = (untraced, "")
    out["trace.overhead_s"] = (traced - untraced, "traced - untraced")
    out["errors.rate"] = (res["failed"] / res["attempted"], "")
    return out


def run(args) -> dict:
    _check_checkout()
    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S
    base = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    trace_dir = os.path.join(base, f"trace-{args.workload}-s{args.seed}")
    in_dir = os.path.join(run_dir, "input")
    for d in ("tmp", "local", "ivf", "input", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    if args.trace:
        os.makedirs(trace_dir, exist_ok=True)
    try:
        prep = prepare(args.workload, args.seed, args.seconds, in_dir)
        with open(os.path.join(run_dir, "expected.json"), "w") as fh:
            json.dump(prep.pop("expected"), fh)
        spec = {
            "workload": args.workload, "seconds": args.seconds,
            "trace": bool(args.trace), "run_dir": run_dir, "input_dir": in_dir,
            "trace_dir": trace_dir, "expected": os.path.join(run_dir, "expected.json"),
            "out": os.path.join(run_dir, "result.json"), **prep,
        }
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_IVF_ROOT": os.path.join(run_dir, "ivf"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
            # every JVM of the run (launcher and driver): no hsperfdata
            # file in the system temp dir, temp files under the run dir
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "PYSPARK_PYTHON": sys.executable,
        })
        proc, setup = _start(spec_path, env, deadline)
        _finish(proc, deadline)
        with open(spec["out"]) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for f in res.get("failures", []):
        print(f"failed: {f}", file=sys.stderr)
    return {"res": res, "metrics": summarize(res, setup, bool(args.trace))}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its workers and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        out = run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    res, metrics = out["res"], out["metrics"]
    units = PER_LAYER if args.trace else E2E
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} attempted={res['attempted']} failed={res['failed']}")
    if "note" in res:
        print(f"# {res['note']}")
    for name, (value, note) in metrics.items():
        print(f"{name:34s} {value:14.6g} {units[name]:9s} {note}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            name: {"value": value, "unit": units[name]}
            for name, (value, _) in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
