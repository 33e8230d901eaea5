"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files. Files are shaped like the package's
fixture directories (`documents.parquet`, `embeddings.parquet` with the
columns `io.tables.TABLES` pins), so `load_table` and `readStream`
read them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the package's lang_id stopword lists, restricted to words that belong
# to one language only ("de" and "un" are shared by fr/es), so a text
# written in one language votes for it unambiguously
LANG_WORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "und", "ein", "zu"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "y"],
    "zh": ["的", "是", "了", "在", "和"],
}
LANGS = list(LANG_WORDS)
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)

# corpus_dedup shape
DEDUP_DOCS = 3000
VOCAB = 600
HOT_CLUSTER_SHARE = 0.02  # one cluster holds 2% of the corpus
ZIPF_A = 2.0
MAX_CLUSTER = 30
# token substitutions per near-duplicate: with ~50-100 shingles, 0-2
# edits keep Jaccard to the original >= 0.8, 3-4 edits land just below
EDIT_CHOICES = [0, 1, 2, 3, 4]
EDIT_P = [0.15, 0.3, 0.25, 0.2, 0.1]
MISLABEL_SHARE = 0.05  # lang label disagrees with the text: gate drops
SHORT_SHARE = 0.05  # 12-30 tokens: low quality score

# vector_knn shape
VEC_ROWS = 2000
VEC_DIM = 64
VEC_COMPONENTS = 48
VEC_SPREAD = 0.25  # within-component std relative to unit-norm centres
NEAR_DUP_SHARE = 0.1
NEAR_DUP_NOISE = 0.01

# crawl_ingest_serve shape
LANDING_DOCS_PER_FILE = 20


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct lowercase pseudo-words (no stopword collides: all are
    at least 4 letters)."""
    letters = np.array(list("bcdfghjklmnprstvwz"))
    vowels = np.array(list("aeiou"))
    words: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        k = int(rng.integers(2, 4))
        w = "".join(
            letters[rng.integers(len(letters))] + vowels[rng.integers(len(vowels))]
            for _ in range(k)
        )
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _doc_tokens(
    rng: np.random.Generator, vocab: list[str], lang: str, n_tok: int
) -> list[str]:
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    toks = [vocab[i] for i in rng.choice(len(vocab), size=n_tok, p=p)]
    stop = LANG_WORDS[lang]
    n_stop = max(1, int(n_tok * rng.uniform(0.1, 0.3)))
    for pos in rng.choice(n_tok, size=min(n_stop, n_tok), replace=False):
        toks[pos] = stop[int(rng.integers(len(stop)))]
    return toks


def cluster_sizes(n_docs: int) -> list[int]:
    """Near-duplicate cluster sizes, the same for every seed: one hot
    cluster of HOT_CLUSTER_SHARE, then Zipf(ZIPF_A) sizes capped at
    MAX_CLUSTER in their expected proportions, topped up with
    singletons. Fixed sizes keep the pair and CC work of a run from
    varying with the seed; the seed varies the texts and edits."""
    hot = max(2, int(n_docs * HOT_CLUSTER_SHARE))
    p = np.arange(1, MAX_CLUSTER + 1, dtype=np.float64) ** -ZIPF_A
    p /= p.sum()
    n_clusters = (n_docs - hot) / float((np.arange(1, MAX_CLUSTER + 1) * p).sum())
    sizes = [hot]
    for size in range(MAX_CLUSTER, 1, -1):
        sizes += [size] * int(n_clusters * p[size - 1])
    return sizes + [1] * (n_docs - sum(sizes))


def documents_table(seed: int, n_docs: int = DEDUP_DOCS) -> pa.Table:
    """A crawl corpus with Zipf-sized near-duplicate clusters.

    Originals are word soup over a Zipf-weighted vocabulary plus their
    language's stopwords. Each cluster is an original plus copies with
    0-4 token substitutions, so some copies sit just below the 0.8
    Jaccard bar. One hot cluster holds HOT_CLUSTER_SHARE of the corpus,
    which makes one hot LSH bucket and one hot connected component
    (cluster_sizes). A share of documents is short (low quality score)
    or carries a wrong lang label, so the text gates drop rows."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, VOCAB)
    sizes = cluster_sizes(n_docs)
    texts: list[str] = []
    langs: list[str] = []
    sources: list[str] = []
    for k, size in enumerate(sizes):
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
        short = rng.random() < SHORT_SHARE and k > 0  # the hot cluster is never short
        n_tok = int(rng.integers(12, 30) if short else rng.integers(50, 100))
        base = _doc_tokens(rng, vocab, lang, n_tok)
        source = f"src{int(rng.integers(N_SOURCES))}"
        for j in range(size):
            toks = list(base)
            if j:
                edits = int(rng.choice(EDIT_CHOICES, p=EDIT_P))
                for pos in rng.choice(n_tok, size=edits, replace=False):
                    toks[pos] = vocab[int(rng.integers(len(vocab)))]
            label = lang
            if rng.random() < MISLABEL_SHARE:
                label = LANGS[(LANGS.index(lang) + 1 + int(rng.integers(4))) % 5]
            texts.append(" ".join(toks))
            langs.append(label)
            sources.append(source)
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    sources = [sources[i] for i in order]
    return pa.table(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOCS_SCHEMA,
    )


def embeddings_table(seed: int, n: int = VEC_ROWS, dim: int = VEC_DIM) -> pa.Table:
    """Vectors from a Gaussian mixture around unit-norm centres, with a
    NEAR_DUP_SHARE of rows that are a noisy copy of another row. The
    mixture gives IVF cells real structure to prune on; the copies give
    each a near-certain nearest neighbour.

    The centres and the component sizes are the same for every seed
    (as cluster_sizes does for corpus_dedup), so the k-means work, the
    calibrated nprobe and the routed arm do not vary with the seed; the
    seed draws the noise, which rows are copied, and the row order."""
    centres = np.random.default_rng([VEC_COMPONENTS, dim]).standard_normal(
        (VEC_COMPONENTS, dim)
    )
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    rng = np.random.default_rng([seed, 2])
    n_dup = int(n * NEAR_DUP_SHARE)
    n_base = n - n_dup
    comp = np.arange(n_base) % VEC_COMPONENTS
    base = centres[comp] + VEC_SPREAD / np.sqrt(dim) * rng.standard_normal(
        (n_base, dim)
    )
    # copies are spread over the components the same way for every seed
    src = np.concatenate([
        rng.choice(np.flatnonzero(comp == c), size=len(range(c, n_dup, VEC_COMPONENTS)),
                   replace=False)
        for c in range(VEC_COMPONENTS)
    ])
    dups = base[src] + NEAR_DUP_NOISE / np.sqrt(dim) * rng.standard_normal(
        (n_dup, dim)
    )
    vecs = np.vstack([base, dups]).astype(np.float32)
    labels = np.concatenate([comp, comp[src]]).astype(np.int32)
    order = rng.permutation(n)
    vecs, labels = vecs[order], labels[order]
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(vecs.reshape(-1), type=pa.float32()),
    )
    return pa.table(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels},
        schema=EMB_SCHEMA,
    )


def landing_table(seed: int, file_no: int, n: int = LANDING_DOCS_PER_FILE) -> pa.Table:
    """One crawl drop: documents with ids file_no*n .. file_no*n+n-1."""
    rng = np.random.default_rng([seed, 3, file_no])
    vocab = _vocab(np.random.default_rng([seed, 3]), 200)
    texts, langs, sources = [], [], []
    for _ in range(n):
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
        texts.append(" ".join(_doc_tokens(rng, vocab, lang, int(rng.integers(20, 60)))))
        langs.append(lang)
        sources.append(f"src{int(rng.integers(N_SOURCES))}")
    return pa.table(
        {
            "doc_id": np.arange(file_no * n, file_no * n + n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOCS_SCHEMA,
    )


def write_corpus(seed: int, out_dir: str) -> str:
    _write(documents_table(seed), os.path.join(out_dir, "documents.parquet"))
    return out_dir


def write_vectors(seed: int, out_dir: str) -> str:
    _write(embeddings_table(seed), os.path.join(out_dir, "embeddings.parquet"))
    return out_dir


def write_landing_files(seed: int, out_dir: str, n_files: int) -> list[str]:
    """Stage n_files crawl drops (not yet landed) under out_dir."""
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"drop-{i:05d}.parquet")
        _write(landing_table(seed, i), p)
        paths.append(p)
    return paths
