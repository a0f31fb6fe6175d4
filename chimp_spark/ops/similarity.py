"""Similarity over embedding columns (array<float>): exact top-k and
the corpus-join path. Repeated ANN queries go through ``ann_index``,
which persists these signatures / centroids once.

- ``cosine_topk``: brute-force exact top-k for a query vector. The
  query is a broadcast literal; the dot product is a Catalyst
  ``aggregate(zip_with(...))`` fold, so the scan stays JVM-side,
  whole-stage-codegen'd, and embarrassingly parallel. This is the
  baseline/verifier.
- ``rp_signatures_multi`` / ``ann_params``: random-hyperplane LSH
  signatures over several tables in one corpus pass, sized for the
  corpus; ``ivf_centroids`` trains IVF's coarse quantizer.
- ``embedding_near_dup_pairs``: pairs with cosine >= threshold via
  LSH buckets + exact verification (near-dup image/text dedup shape),
  the corpus-join workload a batch of millions of queries really is.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._util import id_ddl


def _cosine_expr(col: str, query: list[float]):
    q = F.array(*[F.lit(float(x)) for x in query])
    dot = F.aggregate(
        F.zip_with(F.col(col), q, lambda a, b: a * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.sqrt(
        F.aggregate(F.col(col), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )
    nq = float(np.sqrt(np.dot(query, query)))
    return dot / (nv * F.lit(nq))


def cosine_topk(
    df: DataFrame, query: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity (JVM-side fold, no UDF)."""
    return (
        df.select(id_col, _cosine_expr(vec_col, query).alias("cos"))
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


def _pairwise_cosine(vec_col: str, qvec_col: str):
    """Cosine between two array columns — Catalyst fold, no UDF."""
    dot = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col(qvec_col),
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    nv = F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x)
    )
    nq = F.sqrt(
        F.aggregate(F.col(qvec_col), F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x)
    )
    return dot / (nv * nq)


def _dense_matrix(vecs: pa.Array, dim: int, n_rows: int) -> np.ndarray:
    """Validated (n_rows, dim) float32 matrix from an arrow
    list<float> batch column: checks nulls, ragged lengths, and
    honors array offsets — a blind ``.values`` reshape silently
    misaligns ids with vectors on sliced or ragged input."""
    if vecs.null_count:
        raise ValueError("embedding column: null vectors unsupported")
    arr = vecs.cast(pa.list_(pa.float32()))
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    lens = np.diff(offs)
    if lens.size and not (lens == dim).all():
        raise ValueError(
            f"embedding column: ragged vectors (expected dim {dim}, "
            f"got lengths {np.unique(lens)[:5]})"
        )
    child = arr.values.slice(int(offs[0]) if offs.size else 0, int(lens.sum()))
    if child.null_count:
        raise ValueError("embedding column: null elements unsupported")
    flat = np.asarray(child, dtype=np.float32)
    return flat.reshape(n_rows, dim) if n_rows else flat.reshape(0, dim)


def probe_buckets(sig: int, nbits: int, multiprobe: int) -> list[int]:
    """The query bucket plus every bucket within ``multiprobe`` bit
    flips — sum_{j<=m} C(nbits, j) probes, driver-side math only.
    Bounded at 4096 probes: past that the isin literal list bloats
    the plan and the probe set stops pruning anything."""
    from itertools import combinations
    from math import comb

    m = min(max(multiprobe, 0), nbits)
    total = sum(comb(nbits, j) for j in range(m + 1))
    if total > 4096:
        raise ValueError(
            f"multiprobe={multiprobe} over {nbits} bits expands to "
            f"{total} probe buckets (> 4096): use fewer flips, fewer "
            f"bits, or more tables"
        )
    out = {sig}
    for j in range(1, m + 1):
        for bits in combinations(range(nbits), j):
            f = sig
            for b in bits:
                f ^= 1 << b
            out.add(f)
    return sorted(out)


def _hyperplanes(dim: int, nbits: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((nbits, dim)).astype(np.float32)


def rp_signatures_multi(
    df: DataFrame, dim: int, nbits: int, tables: int,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 7,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-cosine) bucket signatures
    (t, id, bucket) for ALL hyperplane tables in ONE corpus pass: each
    Arrow batch is projected against every table's planes before moving
    on (the matmuls dominate; the scan amortizes). The caller's id type
    rides through, so string url keys work."""
    from .. import _ship

    _ship.ensure(df.sparkSession)
    planes_all = np.stack(
        [_hyperplanes(dim, nbits, seed + 1009 * t) for t in range(tables)]
    )
    sel = df.select(id_col, vec_col)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        weights = 1 << np.arange(nbits, dtype=np.int64)
        for b in batches:
            ids = b.column(0)
            mat = _dense_matrix(b.column(1), dim, b.num_rows)
            for t in range(tables):
                proj = mat @ planes_all[t].T
                sig = ((proj > 0) @ weights).astype(np.int64)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.full(b.num_rows, t, dtype=np.int32)), ids,
                     pa.array(sig)],
                    names=["t", "id", "bucket"],
                )

    return sel.mapInArrow(kernel, f"t int, id {id_ddl(sel)}, bucket long")


def ann_params(n_vectors: int, target_bucket: int = 256, tables: int = 4) -> dict:
    """Corpus-size-aware ANN configuration: nbits so the expected
    bucket holds ~target_bucket vectors (n / 2^nbits), and several
    independent tables to recover the recall a single random-hyperplane
    table loses as buckets shrink. 10^12 vectors / 256-bucket target ->
    nbits=32, tables>=4."""
    import math

    nbits = max(4, int(math.ceil(math.log2(max(n_vectors, 2) / target_bucket))))
    return {"nbits": nbits, "tables": tables}


def ivf_centroids(
    df: DataFrame, dim: int, n_centroids: int = 64, sample: int = 8192,
    iters: int = 10, id_col: str = "vec_id", vec_col: str = "embedding",
    seed: int = 7,
) -> np.ndarray:
    """Train an IVF coarse quantizer: k-means (cosine / normalized) on
    a bounded driver-side RANDOM sample. ``limit()`` alone would read
    the first partitions only — a corpus laid out by a key correlated
    with the embedding clusters would then train every centroid on one
    region. The sample is a rand()-keyed top-k (TakeOrderedAndProject:
    each task keeps a ``sample``-row heap — ONE corpus pass, no prior
    count() pass, driver memory capped at default 8k vectors = ~2 MB
    at dim 64); centroids broadcast to executors via closure."""
    rows = (
        df.select(F.col(vec_col), F.rand(seed).alias("__r"))
        .orderBy("__r").limit(sample).drop("__r").collect()
    )
    if not rows:
        raise ValueError("ivf_centroids: empty input")
    mat = np.asarray([r[vec_col] for r in rows], dtype=np.float32)
    if mat.ndim != 2 or mat.shape[0] == 0:
        raise ValueError("ivf_centroids: empty or ragged sample")
    if mat.shape[1] != dim:
        raise ValueError(f"ivf_centroids: expected dim {dim}, got {mat.shape[1]}")
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    k = min(n_centroids, mat.shape[0])
    cent = mat[rng.choice(mat.shape[0], k, replace=False)].copy()
    for _ in range(iters):
        sims = mat @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def embedding_near_dup_pairs(
    df: DataFrame, threshold: float = 0.95, nbits: int = 12, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 7,
    tables: int = 1,
) -> DataFrame:
    """Near-duplicate vector pairs: LSH bucket equi-join -> exact cosine
    verify (array ops). Bucket join bounds the candidate set; scale
    recall/cost with (nbits, tables) — see ann_params. All tables'
    signatures come from ONE corpus pass and one (t, bucket) self-join
    (was one scan + join per table)."""
    sigs = rp_signatures_multi(df, dim, nbits, tables, id_col, vec_col, seed)
    pairs = (
        sigs.alias("l")
        .join(
            sigs.alias("r"),
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    j = (
        pairs.join(vecs.withColumnRenamed("id", "a").withColumnRenamed("v", "va"), "a")
        .join(vecs.withColumnRenamed("id", "b").withColumnRenamed("v", "vb"), "b")
    )
    return (
        j.withColumn("cos", _pairwise_cosine("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )
