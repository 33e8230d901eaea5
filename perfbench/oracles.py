"""Expected outputs, computed once per seed outside the timed region.

The dedup and html-extract expectations come from DuckDB running the
package's own oracle SQL. kNN neighbours come from an exact numpy
top-5, and PQ codes and ADC top-k from DuckDB running SQL_PQ_ENCODE_EXPORT
and SQL_PQ_ADC_TOPK. Outputs are compared by the
order-insensitive value hash the repository's oracle gate uses
(`tools.verify_local.frame_fingerprint`).
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

from tools.verify_local import frame_fingerprint

from etl_dagster_service_crawler_spark.workloads.llm import (
    CLEAN_QUALITY_MIN,
    SQL_MINHASH_BAND_EXPORT,
    SQL_PIPELINE_MINHASH_DEDUP,
    SQL_PQ_ADC_TOPK,
    SQL_PQ_ENCODE_EXPORT,
    SQL_QUALITY_SCORE,
    _lang_id_sql,
)
from etl_dagster_service_crawler_spark.workloads.sources_wl import _sql_html_extract

KNN_K = 5


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def materialized(sql: str) -> str:
    """The same query with every CTE marked MATERIALIZED. DuckDB 1.0
    otherwise re-evaluates a CTE per reference, and per iteration of a
    recursive CTE (SQL_PIPELINE_MINHASH_DEDUP: 16 s -> 1.7 s at 6k
    docs; the PQ pair: 5.3 s -> 3.5 s at 2k vectors; same rows)."""
    return re.sub(
        r"(^|WITH |WITH RECURSIVE |,\s*)(\w+) AS \(",
        lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (",
        sql,
        flags=re.M,
    )


def fingerprint(pdf) -> list:
    """[rows, sorted columns, value hash] — JSON-friendly."""
    n, cols, h = frame_fingerprint(pdf)
    return [n, cols, h]


def _gated_documents(con: duckdb.DuckDBPyConnection, path: str) -> None:
    """`documents` = the raw drop after the two text gates, the SQL twin
    of functions.text lang_id == lang AND quality_score >= 0.2."""
    con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{path}')")
    lang_sql = _lang_id_sql().replace("FROM documents", "FROM raw")
    score_sql = SQL_QUALITY_SCORE.replace("FROM documents", "FROM raw")
    con.execute(
        f"""CREATE TABLE documents AS
        SELECT r.* FROM raw r
        JOIN ({lang_sql}) g ON g.doc_id = r.doc_id
        JOIN ({score_sql}) s ON s.doc_id = r.doc_id
        WHERE g.lang_guess = r.lang AND s.score >= {CLEAN_QUALITY_MIN}"""
    )


def dedup_expected(sf_dir: str) -> dict:
    con = connect()
    try:
        _gated_documents(con, f"{sf_dir}/documents.parquet")
        labels = con.execute(materialized(SQL_PIPELINE_MINHASH_DEDUP)).fetchdf()
        (rows_in,) = con.execute("SELECT count(*) FROM raw").fetchone()
        (rows_out,) = con.execute("SELECT count(*) FROM documents").fetchone()
        # the candidate set of workloads.llm.q_dedup_minhash_verify: band
        # key collisions, each unordered pair once
        (cand,) = con.execute(
            f"""WITH bands AS ({SQL_MINHASH_BAND_EXPORT})
            SELECT count(*) FROM (
              SELECT DISTINCT a.doc_id, b.doc_id FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id)"""
        ).fetchone()
    finally:
        con.close()
    clusters = int(labels.loc[labels["is_dup"], "label"].nunique())
    return {
        "labels": fingerprint(labels),
        "rows_in": int(rows_in),
        "rows_out": int(rows_out),
        "candidate_pairs": int(cand),
        "clusters": clusters,
    }


def exact_topk(vecs: np.ndarray, k: int = KNN_K, block: int = 1024) -> np.ndarray:
    """Exact cosine top-k per row, self excluded, ties to the smaller id
    (the knn_join contract: order by cos desc, nid asc)."""
    v = vecs.astype(np.float64)
    v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
    out = np.empty((len(v), k), dtype=np.int64)
    for lo in range(0, len(v), block):
        s = v[lo : lo + block] @ v.T
        s[np.arange(len(s)), np.arange(lo, lo + len(s))] = -np.inf
        part = np.argpartition(-s, k - 1, axis=1)[:, :k]
        for r, cand in enumerate(part):
            out[lo + r] = cand[np.lexsort((cand, -s[r, cand]))]
    return out


def read_vectors(sf_dir: str) -> np.ndarray:
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    return flat.reshape(t.num_rows, -1)


def knn_expected(sf_dir: str) -> dict:
    con = connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        enc = con.execute(materialized(SQL_PQ_ENCODE_EXPORT)).fetchdf()
        adc = con.execute(materialized(SQL_PQ_ADC_TOPK)).fetchdf()
    finally:
        con.close()
    return {
        "topk": exact_topk(read_vectors(sf_dir)).tolist(),
        "pq_codes": fingerprint(enc),
        "pq_adc": fingerprint(adc),
    }


def extract_expected(files: list[str]) -> dict:
    con = connect()
    try:
        listed = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{listed}])")
        out = con.execute(_sql_html_extract()).fetchdf()
    finally:
        con.close()
    return {"extract": fingerprint(out)}


def recall_at_k(approx: dict[int, list[int]], exact: list[list[int]]) -> float:
    """Mean over every row of |approx top-k ∩ exact top-k| / k."""
    hits = 0
    for qid, truth in enumerate(exact):
        hits += len(set(approx.get(qid, ())) & set(truth))
    return hits / (len(exact) * KNN_K)
