import numpy as np

import gen
import oracles
from etl_dagster_service_crawler_spark.workloads.llm import (
    SQL_PIPELINE_MINHASH_DEDUP,
    SQL_PQ_ADC_TOPK,
    SQL_PQ_ENCODE_EXPORT,
)


def test_materialized_ctes_keep_the_oracle_rows(tmp_path):
    import pyarrow.parquet as pq

    pq.write_table(gen.documents_table(2, n_docs=400), str(tmp_path / "documents.parquet"))
    pq.write_table(gen.embeddings_table(4, n=300), str(tmp_path / "embeddings.parquet"))
    con = oracles.connect()
    oracles._gated_documents(con, str(tmp_path / "documents.parquet"))
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet')"
    )
    for sql in (SQL_PIPELINE_MINHASH_DEDUP, SQL_PQ_ENCODE_EXPORT, SQL_PQ_ADC_TOPK):
        assert "MATERIALIZED" in oracles.materialized(sql)
        plain = con.execute(sql).fetchdf()
        mat = con.execute(oracles.materialized(sql)).fetchdf()
        assert len(plain) and oracles.fingerprint(plain) == oracles.fingerprint(mat)
        if sql is SQL_PIPELINE_MINHASH_DEDUP:
            assert plain["is_dup"].any()


def test_exact_topk_matches_full_sort():
    rng = np.random.default_rng(0)
    v = rng.standard_normal((500, 16)).astype(np.float32)
    x = v / np.linalg.norm(v, axis=1, keepdims=True)
    s = x.astype(np.float64) @ x.T.astype(np.float64)
    np.fill_diagonal(s, -np.inf)
    want = np.argsort(-s, axis=1, kind="stable")[:, : oracles.KNN_K]
    assert (oracles.exact_topk(v, block=128) == want).all()


def test_recall_at_k():
    exact = [[1, 2, 3, 4, 5], [0, 2, 3, 4, 5]]
    assert oracles.recall_at_k({0: [1, 2, 3, 4, 5], 1: [0, 2, 3, 9, 8]}, exact) == 0.8
    assert oracles.recall_at_k({}, exact) == 0.0
