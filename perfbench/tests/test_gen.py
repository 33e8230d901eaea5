import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

import gen
from etl_dagster_service_crawler_spark.io.tables import TABLES


def _digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_same_seed_writes_byte_identical_inputs(tmp_path):
    digests = []
    for run in ("a", "b", "c"):
        d = tmp_path / run
        seed = 5 if run != "c" else 6
        gen.write_corpus(seed, str(d))
        gen.write_vectors(seed, str(d))
        staged = gen.write_landing_files(seed, str(d / "drops"), 3)
        digests.append(
            [_digest(d / "documents.parquet"), _digest(d / "embeddings.parquet")]
            + [_digest(p) for p in staged]
        )
    assert digests[0] == digests[1]
    assert all(x != y for x, y in zip(digests[0], digests[2]))


def test_inputs_have_the_fixture_schemas(tmp_path):
    gen.write_corpus(1, str(tmp_path))
    gen.write_vectors(1, str(tmp_path))
    for name in ("documents", "embeddings"):
        cols = pq.read_schema(os.path.join(tmp_path, f"{name}.parquet")).names
        assert cols == [c for c, _ in TABLES[name]]


def test_corpus_shape():
    t = gen.documents_table(3).to_pandas()
    assert len(t) == gen.DEDUP_DOCS
    assert list(t["doc_id"]) == list(range(gen.DEDUP_DOCS))
    # the hot cluster: one original text shared (up to edits) by 2% of docs
    # shows as the most frequent first-eight-token prefix
    prefix = t["text"].str.split().str[:8].str.join(" ")
    assert prefix.value_counts().iloc[0] >= gen.DEDUP_DOCS * gen.HOT_CLUSTER_SHARE * 0.5


def test_landing_ids_are_disjoint_and_contiguous():
    ids = [gen.landing_table(1, k).column("doc_id").to_pylist() for k in range(3)]
    flat = [i for x in ids for i in x]
    assert flat == list(range(3 * gen.LANDING_DOCS_PER_FILE))


def test_vector_shape_does_not_depend_on_the_seed():
    a, b = (gen.embeddings_table(seed).to_pandas() for seed in (1, 2))
    assert (a["label"].value_counts().sort_index()
            == b["label"].value_counts().sort_index()).all()
    # the same centres: per-component means agree up to the noise
    means = [
        np.stack(t.loc[t["label"] == 0, "embedding"].to_numpy()).mean(axis=0)
        for t in (a, b)
    ]
    assert np.linalg.norm(means[0] - means[1]) < 0.1
