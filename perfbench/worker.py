"""Benchmark worker: one process, one Spark session, one workload.

Started by run.py. Prints `READY` once `get_spark()` has answered a
trivial action (run.py times process start to that line as setup_s),
then runs the workload and writes its raw result as JSON to the spec's
`out` path.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the checkout root: the package

import spans  # noqa: E402
from spans import median  # noqa: E402

LAYER_SPANS = {
    "io.tables": "io.tables.scan_s",
    "functions.text": "functions.text.gate_s",
    "functions.html": "functions.html.extract_s",
    "dedup.signatures": "dedup.signatures_s",
    "dedup.pairs": "dedup.pairs_s",
    "dedup.cc": "dedup.cc_s",
    "similarity.ivf_build": "similarity.ivf_build_s",
    "similarity.calibrate": "similarity.calibrate_s",
    "similarity.knn": "similarity.knn_s",
    "similarity.pq_encode": "similarity.pq_encode_s",
    "similarity.pq_adc": "similarity.pq_adc_s",
    "io.sinks": "sinks.write_s",
    "streaming.tick": "streaming.tick_s",
    "trace.count": "trace.count_s",
}


def _status_kb(pid: int, key: str = "VmHWM") -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for k in kids.get(p, []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mb() -> float:
    """VmHWM of this Python driver plus its JVM (the java descendant)."""
    jvm = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    jvm += _status_kb(p)
        except OSError:
            continue
    return (_status_kb(os.getpid()) + jvm) / 1024


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a 1 GB initial heap: without it G1's early expansion steps land
        # peak_rss_mb on 1.2 or 1.6 GB at random for the same serve run
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')} -Xms1g"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


# the sum of an iteration's span self times may differ from its
# independently timed wall by at most this (the code outside the root
# span: a clock read and a try block)
SELF_TIME_TOLERANCE_S = 0.05


def iteration_layers(tracer, events: dict, it: int, wall: float,
                     span_names=None) -> dict:
    """Per-layer metrics of traced iteration `it`: layer span durations,
    Spark work charged to the iteration's spans, and the gap between
    the span self times and the iteration's wall time."""
    own = [s for s in tracer.spans if s.iteration == it and
           (span_names is None or s.name in span_names)]
    ids = {s.id for s in own}
    out: dict[str, float] = {}
    for s in own:
        if s.name in LAYER_SPANS:
            k = LAYER_SPANS[s.name]
            out[k] = out.get(k, 0.0) + s.dur
    spark = dict.fromkeys(spans.SPARK_KEYS, 0.0)
    for s in own:
        if s.name == "trace.count":
            continue
        for k, v in events.get(s.id, {}).items():
            spark[k] += v
    for k in ("jobs", "tasks", "task_busy_s", "scheduler_wait_s", "python_s",
              "python_bytes", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
              "gc_s", "failed_tasks"):
        out[f"spark.{k}"] = spark[k]
    for s in own:
        if s.name == "dedup.cc":
            out["dedup.cc_jobs"] = events.get(s.id, {}).get("jobs", 0.0)
    roots = [s for s in own if s.parent is None or s.parent not in ids]
    selfs = spans.self_times(own)
    out["trace.self_time_gap_s"] = wall - sum(selfs[s.id] for s in own)
    out["trace.unattributed_s"] = sum(selfs[r.id] for r in roots)
    return out


def run_batch(ctx, workload: str, rows: int) -> dict:
    import workloads

    # one warm iteration (~7.5 s dedup, ~8-10 s kNN) is most of the run's
    # window; a median of two halves the weight of a single slow one
    one = {"corpus_dedup": workloads.dedup_iteration,
           "vector_knn": workloads.knn_iteration}[workload]
    iters = workloads.batch_loop(ctx, one, min_warm=2)
    res = {
        "attempted": len(iters),
        "failed": sum(not r["ok"] for r in iters),
        "e2e": workloads.batch_metrics(iters, rows),
    }
    if workload == "vector_knn":
        res["note"] = "knn route per iteration: " + ", ".join(
            f"{r['arm']} nprobe={r['nprobe']}" for r in iters if "arm" in r
        )
    if ctx.trace:
        traced = [r for r in iters[1:] if r["traced"]]
        untraced = [r for r in iters[1:] if not r["traced"]]
        res["traced_iterations"] = [(r["i"], r["wall"]) for r in traced]
        res["layer_counts"] = [r.get("layers", {}) for r in traced]
        res["overhead"] = (median([r["wall"] for r in traced]),
                           median([r["wall"] for r in untraced]))
    return res


def run_serve(ctx, staged: list[str], docs_per_file: int) -> dict:
    import workloads

    r = workloads.serve(ctx, staged, docs_per_file)
    window = [t for t in r["ticks"] if t["phase"] == "window"]
    untraced = [t["wall"] for t in window if not t["traced"]]
    q = [x["lat"] for x in r["queries"] if not x["traced"]]
    f_tail = spans.tail(r["fresh"])
    q_tail = spans.tail(q)
    e2e = {
        "cold_run_s": (r["cold"]["wall"], 1),
        "run_s_p50": (median(untraced), len(untraced)),
        "rows_per_s": (median(r["burst_rates"]), len(r["burst_rates"])),
        "freshness_s_p50": (median(r["fresh"]), len(r["fresh"])),
        "freshness_s_tail": (f_tail[0], len(r["fresh"]), f_tail[1]),
        "query_s_p50": (median(q), len(q)),
        "query_s_tail": (q_tail[0], len(q), q_tail[1]),
    }
    attempted = len(r["ticks"]) + len(r["queries"]) + 1
    failed = sum(not t["ok"] for t in r["ticks"]) + sum(not x["ok"] for x in r["queries"])
    failed += 0 if r["sink_ok"] else 1
    res = {"attempted": attempted, "failed": failed, "e2e": e2e,
           "landing_lateness_s": r["landing_lateness_s"]}
    if ctx.trace:
        traced = [t for t in window if t["traced"]]
        tq = [x for x in r["queries"] if x["traced"]]
        res["traced_iterations"] = [(t["i"], t["wall"]) for t in traced]
        res["layer_counts"] = [
            {
                "streaming.tick_overhead_s": t["wall"] - t["sink_s"] - t["html_s"],
                "streaming.batches": t["batches"],
                "streaming.rows": t["rows"],
                "streaming.backlog_files": t["backlog"],
                "functions.html.rows": t["html_rows"],
            }
            for t in traced
        ]
        res["reads"] = {
            "reads.files_scanned": median([x["files"] for x in tq]),
            "reads.rows_scanned_per_row_out": median(
                [x["rows_in"] / max(1, x["rows_out"]) for x in tq]
            ),
        }
        res["overhead"] = (median([t["wall"] for t in traced]), median(untraced))
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    args = ap.parse_args()
    with open(args.spec) as fh:
        spec = json.load(fh)
    # the JVM inherits fd 1: give it stderr, and keep run.py's pipe for
    # READY only, so that the pipe closes when this process exits rather
    # than when the JVM has finished shutting down (~2 s; run.py kills it)
    ready = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    t0 = time.time()
    from etl_dagster_service_crawler_spark.session import get_spark

    spark = get_spark(app_name="perfbench",
                      extra_conf=spark_conf(spec["run_dir"], spec["trace"]))
    spark.range(1).count()
    start_s = time.time() - t0
    print("READY", file=ready, flush=True)

    import workloads

    with open(spec["expected"]) as fh:
        expected = json.load(fh)
    tracer = spans.Tracer(spec["trace"], spark.sparkContext)
    ctx = workloads.Ctx(
        spark=spark, input_dir=spec["input_dir"],
        run_dir=spec["run_dir"], seconds=spec["seconds"], trace=spec["trace"],
        expected=expected, tracer=tracer,
    )
    if spec["workload"] == "crawl_ingest_serve":
        res = run_serve(ctx, spec["staged"], spec["docs_per_file"])
    else:
        res = run_batch(ctx, spec["workload"], spec["rows"])
    res["failures"] = ctx.failures
    res["peak_rss_mb"] = peak_rss_mb()
    res["session_start_s"] = start_s
    if spec["trace"]:
        spark.stop()  # completes the event log; untraced, run.py kills the JVM
        events = spans.parse_event_log(
            spans.find_event_log(os.path.join(spec["run_dir"], "eventlog"))
        )
        layers = []
        for (it, wall), counts in zip(res["traced_iterations"], res["layer_counts"]):
            names = None
            if spec["workload"] == "crawl_ingest_serve":
                names = {"streaming.tick", "functions.html", "io.sinks", "trace.count"}
            layers.append(iteration_layers(tracer, events, it, wall, names) | counts)
            gap = layers[-1]["trace.self_time_gap_s"]
            if abs(gap) > SELF_TIME_TOLERANCE_S:
                res["failed"] += 1
                res["failures"].append(
                    f"traced iteration {it}: span self times miss its wall by {gap:.3f} s"
                )
        res["layers"] = layers
        tracer.dump(os.path.join(spec["trace_dir"], "spans.json"))
        with open(os.path.join(spec["trace_dir"], "spark_by_span.json"), "w") as fh:
            json.dump(events, fh)
    with open(spec["out"], "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
