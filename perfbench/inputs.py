"""Seeded input generators. Every workload input is derived from the one
`--seed` argument; the program under test only ever sees the files
written here.

* `clustered_vectors` is the benchmark's own generator: unit vectors
  drawn from a Gaussian mixture, so IVF cells and LSH buckets see the
  skew of real embeddings (uniform random vectors have no neighbour
  structure and put IVF recall near its floor).
* The corpus tables come from the repository's `tools/gen_scale`
  generators, imported unchanged and called with sub-seeds.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def sub_seed(seed: int, stream: str) -> int:
    """Independent, stable sub-seed per input stream."""
    return int(np.random.SeedSequence([seed, *stream.encode()]).generate_state(1)[0])


def load_tool(root: Path, name: str):
    """Import `tools/<name>.py` from the checkout without putting
    `tools/` on sys.path."""
    spec = importlib.util.spec_from_file_location(name, root / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_vectors(path: Path, id_col: str, ids: np.ndarray, V: np.ndarray) -> None:
    flat = pa.array(V.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, V.size + 1, V.shape[1], dtype=np.int32))
    pq.write_table(
        pa.table({id_col: pa.array(ids, pa.int64()), "embedding": pa.ListArray.from_arrays(offsets, flat)}),
        path,
    )


def clustered_vectors(
    out: Path, seed: int, n_vectors: int, dim: int, n_clusters: int, batches: list[int]
) -> dict[str, np.ndarray]:
    """Write `corpus.parquet` (doc_id, embedding) and `queries_<b>.parquet`
    (q_id, embedding) with `batches[b]` queries each; return the float32
    arrays and query ids for the brute-force reference. Query ids continue
    after the corpus ids, so a query never matches itself."""
    rng = np.random.default_rng(sub_seed(seed, "vectors"))
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # uneven cluster weights: some IVF cells are much fuller than others.
    # They are fixed, not drawn from the seed, so the cell sizes -- and
    # with them the search cost -- do not swing between seeds.
    weights = 0.75 ** np.arange(n_clusters)
    weights /= weights.sum()

    def draw(n: int) -> np.ndarray:
        member = rng.choice(n_clusters, size=n, p=weights)
        # noise of norm ~0.8 around a unit center: cosine to the
        # center ~0.78, so clusters overlap but stay distinct
        V = centers[member] + 0.8 * rng.standard_normal((n, dim)) / np.sqrt(dim)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        return V.astype(np.float32)

    corpus = draw(n_vectors)
    _write_vectors(out / "corpus.parquet", "doc_id", np.arange(n_vectors), corpus)
    arrays = {"corpus": corpus}
    first = n_vectors
    for b, n in enumerate(batches):
        Q = draw(n)
        ids = first + np.arange(n)
        first += n
        _write_vectors(out / f"queries_{b}.parquet", "q_id", ids, Q)
        arrays[f"queries_{b}"], arrays[f"q_ids_{b}"] = Q, ids
    return arrays


def query_corpus(root: Path, out: Path, seed: int, n_docs: int, n_vecs: int, n_events: int) -> None:
    """An sf0.1-shaped directory: documents, embeddings, events and the
    TPC-H-shaped tables at sf_mult=1."""
    gs = load_tool(root, "gen_scale")
    gs.gen_documents(out, n_docs, seed=sub_seed(seed, "documents"))
    gs.gen_embeddings(out, n_vecs, seed=sub_seed(seed, "embeddings"))
    gs.gen_events(out, n_events, seed=sub_seed(seed, "events"))
    gs.gen_tpch(out, 1, seed=sub_seed(seed, "tpch"))
