"""The three benchmark workloads, run inside the worker process.

Each workload calls the package's public functions on the generated
inputs and checks every output against the expectations computed before
the run (oracles.py). A failed check, an exception or a timeout counts
as a failed operation.

In a traced run the layer calls are wrapped in spans (spans.Tracer) and
lazy outputs are materialized at each layer boundary, which breaks
Spark's stage fusion: traced self times attribute work, they are not
the untraced cost. Traced and untraced iterations alternate in one
process, and the gap between their medians is reported as the tracing
overhead.
"""

from __future__ import annotations

import json
import os
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import oracles
from spans import Tracer, median, tail

LANDING_INTERVAL_S = 0.125  # one crawl drop per interval, open loop
TICK_INTERVAL_S = 1.0  # scheduled ScheduledPipeline.run_once cadence
READERS = 2
TICK_TIMEOUT_S = 60.0
DRAIN_TICKS = 5
# corpus_dedup reads its committed version in this many rounds of three
# reads per iteration, each read one query_s sample (~0.1 s): 30 samples
# over the two warm iterations, so the tail rule lands below the maximum
READ_ROUNDS = 5
# after the window: bursts of drops landed at once, each committed by
# one tick, whose rows over its wall time are the ingest rate at a fixed
# batch (during the window the schedule is saturated, so the committed
# rate there is the writer's offered rate)
BURSTS = 2
BURST_FILES = 40


@dataclass
class Ctx:
    spark: object
    input_dir: str
    run_dir: str
    seconds: float
    trace: bool
    expected: dict
    tracer: Tracer
    off: Tracer = field(default_factory=lambda: Tracer(False))
    failures: list = field(default_factory=list)

    def tracer_for(self, traced: bool) -> Tracer:
        return self.tracer if traced else self.off


# ---- shared batch loop ------------------------------------------------------


def batch_loop(ctx: Ctx, one_iteration, min_warm: int = 1) -> list[dict]:
    """Closed loop, one client: a cold iteration, then warm iterations
    back to back until ctx.seconds have passed and at least min_warm
    untraced ones have run. In a traced run warm iterations alternate
    traced / untraced (at least one traced)."""
    out: list[dict] = []
    deadline = None
    i = 0
    while True:
        # traced first: the untraced iteration then has had more
        # warm-up, so trace.overhead_s errs high rather than low
        traced = ctx.trace and i % 2 == 1
        tr = ctx.tracer_for(traced)
        t0 = time.time()
        info: dict = {}
        try:
            with tr.span("iteration", i):
                info = one_iteration(ctx, i, tr)
            ok = info.pop("ok")
            why = info.pop("why", "")
        except Exception as e:  # noqa: BLE001 - a failed iteration is a measured failure
            traceback.print_exc()
            ok, why = False, repr(e)
        wall = time.time() - t0
        if not ok:
            ctx.failures.append(f"iteration {i}: {why}")
        out.append({"i": i, "wall": wall, "ok": ok, "traced": traced, **info})
        if deadline is None:
            deadline = time.time() + ctx.seconds
        i += 1
        warm = out[1:]
        enough = sum(not r["traced"] for r in warm) >= min_warm and (
            not ctx.trace or any(r["traced"] for r in warm)
        )
        if enough and time.time() >= deadline:
            return out


def batch_metrics(iters: list[dict], rows: int) -> dict:
    warm = [r for r in iters[1:] if not r["traced"]]
    walls = [r["wall"] for r in warm]
    fresh = [r["fresh"] for r in warm if "fresh" in r]  # absent if it raised
    queries = [q for r in warm for q in r.get("queries", ())]
    f_tail = tail(fresh)
    q_tail = tail(queries)
    return {
        "cold_run_s": (iters[0]["wall"], 1),
        "run_s_p50": (median(walls), len(walls)),
        "rows_per_s": (rows * len(walls) / sum(walls), len(walls)),
        "freshness_s_p50": (median(fresh), len(fresh)),
        "freshness_s_tail": (f_tail[0], len(fresh), f_tail[1]),
        "query_s_p50": (median(queries), len(queries)),
        "query_s_tail": (q_tail[0], len(queries), q_tail[1]),
    }


# ---- corpus_dedup -----------------------------------------------------------


def dedup_iteration(ctx: Ctx, i: int, tr: Tracer) -> dict:
    """Text gates -> MinHash signatures, LSH candidates and exact verify
    -> connected-component labels -> one versioned sink write, read back
    and checked. The gated corpus is staged as a table between the clean
    and dedup stages, as a scheduled ETL job hands it over."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.functions.text import lang_id, quality_score
    from etl_dagster_service_crawler_spark.io.sinks import read_versioned, sink_versioned
    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.llm import (
        CLEAN_QUALITY_MIN,
        minhash_label_members,
        q_dedup_minhash_verify,
    )

    spark = ctx.spark
    stage = os.path.join(ctx.run_dir, "stage", str(i))
    sink_root = os.path.join(ctx.run_dir, "sink")
    t0 = time.time()
    with tr.span("io.tables", i):
        docs = tr.force(load_table(spark, ctx.input_dir, "documents"))
    with tr.span("functions.text", i):
        gated = docs.where(
            (lang_id(F.col("text")) == F.col("lang"))
            & (quality_score(F.col("text"), F.col("n_chars")) >= CLEAN_QUALITY_MIN)
        )
        gated = tr.force(gated)
        gated.write.parquet(os.path.join(stage, "documents.parquet"))
    with tr.span("dedup.signatures", i):
        # builds the md5 shingle signatures and band keys eagerly and
        # returns the lazy candidate-join + verify frame
        pairs = q_dedup_minhash_verify(spark, stage)
    with tr.span("dedup.pairs", i):
        pairs = tr.force(pairs)
    with tr.span("dedup.cc", i):
        ids = load_table(spark, stage, "documents").select("doc_id")
        labels = tr.force(minhash_label_members(pairs, ids))
    with tr.span("io.sinks", i):
        sink_versioned(labels, sink_root, i)
    fresh = time.time() - t0
    exp = ctx.expected
    queries = []
    ok = True
    for _ in range(READ_ROUNDS):
        with tr.span("reads", i):
            # what a consumer of the committed version reads, each read
            # timed as one query: all labels, the largest clusters, the
            # duplicate count
            t1 = time.time()
            v = read_versioned(spark, sink_root, i)
            out = v.toPandas()
            t2 = time.time()
            top = (
                v.where("is_dup").groupBy("label").count()
                .orderBy(F.desc("count"), "label").limit(10).collect()
            )
            t3 = time.time()
            n_dup = v.agg(F.sum(F.col("is_dup").cast("int"))).collect()[0][0]
            queries += [t2 - t1, t3 - t2, time.time() - t3]
        got = oracles.fingerprint(out)
        sizes = out[out["is_dup"]].groupby("label").size()
        want_top = sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        ok = ok and (
            got == exp["labels"]
            and n_dup == int(out["is_dup"].sum())
            and [(r["label"], r["count"]) for r in top] == want_top
        )
    info = {"ok": ok, "why": f"labels {got}, expected {exp['labels']}", "fresh": fresh,
            "queries": queries}
    if tr.enabled:
        with tr.span("trace.count", i):
            info["layers"] = {
                "io.tables.rows_read": docs.count(),
                "io.tables.bytes_read": _bytes(ctx.input_dir),
                "functions.text.rows_in": docs.count(),
                "functions.text.rows_out": gated.count(),
                "dedup.candidate_pairs": exp["candidate_pairs"],
                "dedup.verified_pairs": pairs.count(),
                "dedup.clusters": int(out.loc[out["is_dup"], "label"].nunique()),
                **_sink_files(os.path.join(sink_root, f"v{i:05d}"), sink_root),
            }
        info["layers"]["dedup.pair_yield"] = (
            info["layers"]["dedup.verified_pairs"] / max(1, exp["candidate_pairs"])
        )
    return info


def _bytes(table_dir: str) -> int:
    """Bytes of the parquet files the scan read."""
    return sum(
        os.path.getsize(os.path.join(table_dir, f))
        for f in os.listdir(table_dir)
        if f.endswith(".parquet")
    )


def _sink_files(written: str, root: str) -> dict:
    def parquet(d):
        return [
            os.path.join(r, f)
            for r, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        ]

    new = parquet(written)
    return {
        "sinks.files_written": len(new),
        "sinks.bytes_written": sum(os.path.getsize(f) for f in new),
        "sinks.files_total": len(parquet(root)),
    }


# ---- vector_knn -------------------------------------------------------------

KNN_RECALL_PIN = 0.8  # tests/test_corpus.py::test_knn_join_recall_vs_bruteforce


def knn_iteration(ctx: Ctx, i: int, tr: Tracer) -> dict:
    """Force-build the IVF index and its nprobe calibration and PQ-encode
    the corpus, then answer two query batches: the top-5 self-join,
    routed to the IVF or quantized arm, and the standing ADC queries."""
    import pyarrow.parquet as pq

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.operators.similarity import (
        calibration_cached,
        ivf_build,
        ivf_index_dir,
        knn_join_cells,
        knn_join_quantized,
        pq_adc_topk,
        pq_codebook,
        pq_encode,
        route_knn,
    )
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        KNN_RERANK_CANDIDATES,
        KNN_TARGET_RECALL,
    )
    from etl_dagster_service_crawler_spark.workloads.llm import (
        PQ_EXPORT_CODES,
        PQ_EXPORT_SUB,
        TOPK_QUERY_IDS,
    )

    spark = ctx.spark
    path = os.path.join(ctx.input_dir, "embeddings.parquet")
    n = pq.ParquetFile(path).metadata.num_rows
    c = max(16, int(n**0.5 / 2))  # the knn_join family's cell-count rule
    index_dir = ivf_index_dir(ctx.input_dir, n_centroids=c)
    exp = ctx.expected
    t0 = time.time()
    with tr.span("io.tables", i):
        emb = tr.force(load_table(spark, ctx.input_dir, "embeddings"))
    with tr.span("similarity.ivf_build", i):
        ivf_build(emb, index_dir, n_centroids=c, force=True)
    with tr.span("similarity.calibrate", i):
        centroids = spark.read.parquet(f"{index_dir}/centroids")
        _, curve = calibration_cached(
            emb, centroids, index_dir, target_recall=KNN_TARGET_RECALL, k=5
        )
    with tr.span("similarity.pq_encode", i):
        codes = pq_encode(emb, pq_codebook(emb, PQ_EXPORT_SUB, PQ_EXPORT_CODES),
                          PQ_EXPORT_SUB).toPandas()
    fresh = time.time() - t0  # both indexes built: IVF cells and PQ codes
    arm, nprobe = route_knn(curve, c, KNN_TARGET_RECALL)
    t1 = time.time()
    with tr.span("similarity.knn", i):
        if arm == "ivf":
            knn = knn_join_cells(
                emb, k=5, n_centroids=c, nprobe=nprobe, centroids=centroids,
                assignments=spark.read.parquet(f"{index_dir}/assignments"),
            )
        else:
            knn = knn_join_quantized(
                emb, k=5, r_candidates=KNN_RERANK_CANDIDATES, n_rows=n
            )
        got = knn.select("qid", "nid").toPandas()
    query = time.time() - t1
    approx = got.groupby("qid")["nid"].apply(list).to_dict()
    recall = oracles.recall_at_k(approx, exp["topk"])
    why = []
    if recall < KNN_RECALL_PIN:
        why.append(f"{arm} arm: recall@5 {recall:.4f} < {KNN_RECALL_PIN}")
    t1 = time.time()
    with tr.span("similarity.pq_adc", i):
        adc = pq_adc_topk(emb, TOPK_QUERY_IDS, k=5, n_sub=PQ_EXPORT_SUB,
                          n_codes=PQ_EXPORT_CODES).toPandas()
    query += time.time() - t1  # the two query batches, without the recall check
    if oracles.fingerprint(codes) != exp["pq_codes"]:
        why.append("pq_encode codes differ from SQL_PQ_ENCODE_EXPORT")
    if oracles.fingerprint(adc) != exp["pq_adc"]:
        why.append("pq_adc_topk differs from SQL_PQ_ADC_TOPK")
    info = {"ok": not why, "why": "; ".join(why), "fresh": fresh, "queries": [query],
            "recall": recall, "arm": arm, "nprobe": nprobe}
    if tr.enabled:
        with tr.span("trace.count", i):
            info["layers"] = {
                "io.tables.rows_read": emb.count(),
                "io.tables.bytes_read": _bytes(ctx.input_dir),
                "similarity.nprobe": nprobe,
                "similarity.route_ivf": int(arm == "ivf"),
                "similarity.route_quantized": int(arm != "ivf"),
                "similarity.candidates": _knn_candidates(index_dir, path, nprobe)
                if arm == "ivf" else n * (n - 1),
                "similarity.recall_at_5": recall,
                # neighbour rows missing from the top-5 contract (a vector
                # alone in its probed cells gets fewer than 5, README)
                "similarity.rows_short": n * 5 - len(got),
            }
    return info


def _knn_candidates(index_dir: str, emb_path: str, nprobe: int) -> int:
    """Candidate pairs the IVF arm scores: for every vector, the members
    of its nprobe closest cells (qcos desc, cid asc), itself excluded."""
    import pyarrow.parquet as pq

    cent = pq.read_table(f"{index_dir}/centroids").to_pandas().sort_values("cid")
    C = np.array(cent["cvec"].tolist(), dtype=np.float64)
    sizes = (
        pq.read_table(f"{index_dir}/assignments", columns=["cid"])
        .to_pandas()["cid"].value_counts()
        .reindex(cent["cid"], fill_value=0).to_numpy()
    )
    V = oracles.read_vectors(os.path.dirname(emb_path)).astype(np.float64)
    V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    order = np.argsort(-(V @ C.T), axis=1, kind="stable")[:, :nprobe]
    return int(sizes[order].sum() - len(V))


# ---- crawl_ingest_serve -----------------------------------------------------


def _source_files(ckpt: str, batch: int) -> list[str]:
    """Files the file stream source assigned to `batch`, from its
    checkpoint log (`sources/0/<batch>` or the `.compact` roll-up)."""
    d = os.path.join(ckpt, "sources", "0")
    for name in (str(batch), f"{batch}.compact"):
        p = os.path.join(d, name)
        if os.path.exists(p):
            with open(p) as fh:
                lines = fh.read().splitlines()[1:]  # first line: log version
            entries = [json.loads(x) for x in lines if x.strip()]
            return [
                os.path.basename(e["path"]) for e in entries
                if e.get("batchId", batch) == batch
            ]
    return []


class _ServeState:
    """Landing, commit and query records shared by the serve threads."""

    def __init__(self, docs_per_file: int):
        self.lock = threading.Lock()
        self.docs_per_file = docs_per_file
        self.landed: dict[str, float] = {}
        self.committed: dict[str, float] = {}
        self.committed_rows = 0
        self.queries: list[dict] = []
        self.ticks: list[dict] = []
        self.stop = threading.Event()
        self.tick_span = None
        self.tick_no = 0
        self.sink_s = 0.0
        self.html_s = 0.0
        self.html_rows = 0

    def landed_rows(self) -> int:
        with self.lock:
            return len(self.landed) * self.docs_per_file


def serve(ctx: Ctx, staged: list[str], docs_per_file: int) -> dict:
    """Open-loop crawl drops, scheduled availableNow ticks of a
    ScheduledPipeline writing through the dual parquet sink, and two
    closed-loop readers querying the growing sink."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.functions.html import EXTRACT_SQL, PAGE_SQL
    from etl_dagster_service_crawler_spark.io.sinks import dual_sink_parquet_foreach_batch
    from etl_dagster_service_crawler_spark.streaming.ingest import DOCUMENTS_SCHEMA
    from etl_dagster_service_crawler_spark.streaming.jobs import ScheduledPipeline

    spark = ctx.spark
    land = os.path.join(ctx.run_dir, "landing")
    out = os.path.join(ctx.run_dir, "serve")
    main, side = os.path.join(out, "main"), os.path.join(out, "side")
    ckpt = os.path.join(out, "_checkpoint")
    os.makedirs(land, exist_ok=True)
    st = _ServeState(docs_per_file)
    sink = dual_sink_parquet_foreach_batch(main, side, ["doc_id", "job_url"])

    def build(spark, source):
        # the crawl_extract_2min job's transform over the landing dir;
        # streaming.ingest.stream_documents would stage a one-file
        # symlink dir instead (README, findings)
        s = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(source)
        pages = s.select("doc_id", F.expr(PAGE_SQL).alias("html"))
        cols = [F.col("doc_id")] + [
            F.expr(e.format(h="html")).alias(f) for f, e in EXTRACT_SQL.items()
        ]
        return pages.select(*cols)

    def foreach_batch(df, epoch_id):
        tr = ctx.tracer_for(st.tick_span is not None)
        t0 = time.time()
        with tr.span("functions.html", st.tick_no, parent=st.tick_span):
            df = tr.force(df)
        t1 = time.time()
        with tr.span("io.sinks", st.tick_no, parent=st.tick_span):
            sink(df, epoch_id)
        t2 = time.time()
        files = _source_files(ckpt, epoch_id)
        with st.lock:
            for f in files:
                st.committed[f] = t2
            st.committed_rows += len(files) * docs_per_file
            st.html_s += t1 - t0
            st.sink_s += t2 - t1
        if tr.enabled:
            with tr.span("trace.count", st.tick_no, parent=st.tick_span):
                n = df.count()
            with st.lock:
                st.html_rows += n

    job = ScheduledPipeline(
        name="crawl_extract_serve",
        build=build,
        interval=f"{TICK_INTERVAL_S} seconds",
        observe_cols=["job_name", "job_url", "salary", "location"],
        output_mode="append",
        foreach_batch=foreach_batch,
        result_reader=lambda s: s.read.parquet(main),
        checkpoint_dir=ckpt,
    )

    def land_file(k: int) -> None:
        name = os.path.basename(staged[k])
        tmp = os.path.join(land, f".{name}.tmp")
        os.link(staged[k], tmp)
        os.replace(tmp, os.path.join(land, name))  # atomic landing
        with st.lock:
            st.landed[name] = time.time()

    def tick(traced: bool, phase: str) -> dict:
        tr = ctx.tracer_for(traced)
        with st.lock:
            backlog = len(st.landed) - len(st.committed)
            rows_before = st.committed_rows
            st.sink_s = st.html_s = 0.0
            st.html_rows = 0
        t0 = time.time()
        with tr.span("streaming.tick", st.tick_no) as span:
            st.tick_span = span
            try:
                status = job.run_once(spark, land, timeout_s=TICK_TIMEOUT_S)
                ok = status.ok
                batches, rows = status.n_batches, status.n_rows
            except Exception:  # noqa: BLE001 - a failed tick is a measured failure
                traceback.print_exc()
                ok, batches, rows = False, 0, 0
            finally:
                st.tick_span = None
        wall = time.time() - t0
        ok = ok and wall < TICK_TIMEOUT_S  # run_once stops a late query quietly
        with st.lock:
            rec = {
                "i": st.tick_no, "phase": phase, "wall": wall, "ok": ok,
                "traced": traced,
                "batches": batches, "rows": rows, "backlog": backlog,
                "committed": st.committed_rows - rows_before,
                "sink_s": st.sink_s, "html_s": st.html_s, "html_rows": st.html_rows,
            }
            st.ticks.append(rec)
            st.tick_no += 1
        if not ok:
            ctx.failures.append(f"tick {rec['i']}")
        return rec

    def read_query(k: int, traced: bool) -> None:
        tr = ctx.tracer_for(traced)
        kind = ("scan", "rollup", "topk")[k % 3]
        with st.lock:
            lo = st.committed_rows
        files = len([f for f in os.listdir(main) if f.endswith(".parquet")])
        t0 = time.time()
        ok = False
        n_out = 0
        try:
            with tr.span(f"reads.{kind}", k):
                df = spark.read.parquet(main)
                if kind == "scan":
                    r = df.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.countDistinct("doc_id").alias("ids"),
                        F.sum(F.length("description")).alias("chars"),
                    ).collect()[0]
                    n_out = 1
                    total = r["n"]
                    ok = r["ids"] == r["n"]
                elif kind == "rollup":
                    rows = (
                        df.groupBy("location", "job_category")
                        .agg(F.count(F.lit(1)).alias("jobs"))
                        .collect()
                    )
                    n_out = len(rows)
                    total = sum(r["jobs"] for r in rows)
                    ok = True
                else:
                    rows = df.orderBy(F.col("doc_id").desc()).limit(10).select(
                        "doc_id", "job_name", "salary"
                    ).collect()
                    n_out = len(rows)
                    ids = [r["doc_id"] for r in rows]
                    total = None
                    ok = ids == sorted(set(ids), reverse=True) and len(ids) == 10
            hi = st.landed_rows()
            if total is not None:
                ok = ok and lo <= total <= hi
        except Exception:  # noqa: BLE001 - a failed query is a measured failure
            traceback.print_exc()
        lat = time.time() - t0
        if not ok:
            ctx.failures.append(f"query {kind} {k}")
        with st.lock:
            st.queries.append({
                "kind": kind, "lat": lat, "ok": ok, "traced": traced,
                "files": files, "rows_in": lo, "rows_out": n_out,
            })

    # cold: the first drop and the first tick, before the serve window
    land_file(0)
    cold = tick(False, "cold")
    n_files = len(staged)
    n_window = n_files - BURSTS * BURST_FILES
    t_start = time.time()
    lateness: list[float] = []

    def writer():
        for k in range(1, n_window):
            due = t_start + k * LANDING_INTERVAL_S
            time.sleep(max(0.0, due - time.time()))
            lateness.append(time.time() - due)
            land_file(k)

    def ticker():
        k = 1
        while not st.stop.is_set():
            due = t_start + k * TICK_INTERVAL_S
            time.sleep(max(0.0, due - time.time()))
            if st.stop.is_set():
                return
            tick(ctx.trace and k % 2 == 1, "window")  # traced first, as batch_loop
            k += 1

    def reader(r: int):
        k = r
        while not st.stop.is_set():
            read_query(k, ctx.trace and (k // READERS) % 2 == 0)
            k += READERS

    threads = [threading.Thread(target=writer), threading.Thread(target=ticker)]
    threads += [threading.Thread(target=reader, args=(r,)) for r in range(READERS)]
    for t in threads:
        t.start()
    threads[0].join()
    st.stop.set()
    for t in threads[1:]:
        t.join(timeout=TICK_TIMEOUT_S + 30)

    def drain():
        # every landed drop must reach the sink (exactly once)
        for _ in range(DRAIN_TICKS):
            if len(st.committed) == len(st.landed):
                return
            tick(False, "drain")

    drain()
    window_files = set(st.landed) - {os.path.basename(staged[0])}
    burst_rates = []
    for b in range(BURSTS):
        for k in range(n_window + b * BURST_FILES, n_window + (b + 1) * BURST_FILES):
            land_file(k)
        rec = tick(False, "burst")
        burst_rates.append(rec["committed"] / rec["wall"])
        drain()
    final = spark.read.parquet(main).toPandas()
    dup_ids = int(final["doc_id"].duplicated().sum())
    lost = n_files * docs_per_file - final["doc_id"].nunique()
    extract_ok = oracles.fingerprint(final) == ctx.expected["extract"]
    if dup_ids or lost or not extract_ok:
        ctx.failures.append(
            f"sink: {dup_ids} duplicate and {lost} lost doc_ids, extract match {extract_ok}"
        )
    return {
        "cold": cold,
        "ticks": st.ticks,
        "queries": st.queries,
        "fresh": [
            st.committed[f] - st.landed[f]
            for f in window_files
            if f in st.committed
        ],
        "burst_rates": burst_rates,
        "landing_lateness_s": max(lateness, default=0.0),
        "sink_ok": not (dup_ids or lost or not extract_ok),
    }
