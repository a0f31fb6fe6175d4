"""Persisted ANN indexes: build once, query by partition-pruned scans.

The index-free helpers in ``similarity`` recompute signatures /
centroid assignments over the whole corpus per query — fine for batch
joins, wrong for query serving: at 100 TB every top-k would pay a full
corpus scan. These builders write the index ONCE as a partitioned
parquet table; queries read only the probed partitions (visible as
``PartitionFilters`` on the index scan — pinned in tests/test_plans).

Layout (one JSON params manifest over parquet data):

    <root>/ann_index.json     params manifest: kind, dim, nbits/tables/
                              seed/n_pfx (lsh) or n_centroids (ivf),
                              id/vec column names
    <root>/centroids.npy      (ivf) the trained coarse quantizer
    <root>/index/             parquet, partitioned by
                                (t, pfx)   [lsh]  or
                                (list_id)  [ivf]

LSH partitioning: a 32-bit bucket space can't be one directory per
bucket, so the partition key is ``pfx = bucket & (n_pfx-1)`` (bounded
fan-out, default 256 dirs/table); the full ``bucket`` column is stored
and sorted within partitions, so the residual bucket predicate prunes
at row-group granularity via parquet min/max after the directory-level
partition prune. Vectors are stored IN the index (storage = tables x
corpus) so a query never rejoins the corpus.

Query cost: LSH reads ~(probes/n_pfx) of each table's partition space;
IVF reads nprobe/n_centroids of the corpus. Both rank exactly within
candidates (cosine fold, JVM-side).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import id_ddl
from .similarity import (
    _dense_matrix,
    _hyperplanes,
    cosine_topk,
    ivf_centroids,
    probe_buckets,
)

_MANIFEST = "ann_index.json"
FORMAT_VERSION = 2  # v2: the index is partitioned by a leading epoch
# directory (epoch=N/t=../pfx=.. or epoch=N/list_id=..) so a growing
# corpus APPENDS an epoch instead of re-paying the full build; v1
# (no epoch level) indexes still load and query. Loaders refuse
# formats NEWER than this instead of misreading them.


def _write_manifest(root: str, meta: dict) -> None:
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".{_MANIFEST}.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, os.path.join(root, _MANIFEST))


def load_manifest(root: str) -> dict:
    with open(os.path.join(root, _MANIFEST)) as f:
        meta = json.load(f)
    if meta.get("format", 1) > FORMAT_VERSION:
        raise ValueError(
            f"index at {root} has format {meta['format']} > supported "
            f"{FORMAT_VERSION}; rebuild or upgrade"
        )
    return meta


def _invalidate_manifest(root: str) -> None:
    """Rebuild start-point: the stale manifest (old planes/seed/epoch
    list) must die BEFORE its data does. A crash mid-rebuild then
    leaves an unloadable directory — a clean refusal at load — instead
    of a loadable index whose manifest params mismatch the new data,
    which would return wrong neighbors with no error."""
    try:
        os.remove(os.path.join(root, _MANIFEST))
    except FileNotFoundError:
        pass


def _epoch_dir(root: str, epoch: int) -> str:
    return os.path.join(root, "index", f"epoch={epoch}")


def _read_index(spark: SparkSession, root: str, meta: dict) -> DataFrame:
    """Scan ONLY the manifest-listed epoch directories. An orphan
    epoch dir (data written by a crashed append whose manifest entry
    never landed) must stay invisible: its fingerprint is unrecorded,
    so the retried append is rightly accepted — scanning the orphan
    too would double every one of its candidates. A PENDING entry is
    included iff its directory exists: the publish rename is atomic,
    so an existing dir is complete data that only missed the final
    manifest rewrite. v1 indexes (no epoch level) read the whole dir."""
    base = os.path.join(root, "index")
    if "epochs" not in meta:
        return spark.read.parquet(base)
    paths = [
        os.path.join(base, f"epoch={e['epoch']}")
        for e in meta["epochs"]
        if not e.get("pending") or os.path.isdir(_epoch_dir(root, e["epoch"]))
    ]
    if not paths:
        raise ValueError(f"index at {root} has no committed epochs")
    return spark.read.option("basePath", base).parquet(*paths)


def _stage_epoch_entry(root: str, meta: dict, epoch: int,
                       fingerprint: str | None) -> None:
    """Record the epoch in the manifest BEFORE the rename publishes
    its data: the fingerprint must never exist on disk without being
    findable by _next_epoch, or a retried append double-indexes."""
    meta["epochs"] = meta.get("epochs", []) + [
        {"epoch": epoch, "fingerprint": fingerprint, "pending": True}
    ]
    _write_manifest(root, meta)


def _commit_epoch_entry(root: str, meta: dict, epoch: int) -> None:
    for e in meta["epochs"]:
        if e["epoch"] == epoch:
            e.pop("pending", None)
    _write_manifest(root, meta)


def _norm_quantize_bits(quantize_bits: int | None) -> int | None:
    """Validate + normalize the builder option: falsy -> None (so a
    0/None mismatch can't refuse an equivalent append), and codes must
    fit the int8 storage — bits outside [2, 8] would silently wrap
    int8 (sign-flipped vectors, wrong neighbors, no error)."""
    if not quantize_bits:
        return None
    if not 2 <= quantize_bits <= 8:
        raise ValueError(
            f"quantize_bits={quantize_bits}: must be in [2, 8] (codes are "
            f"stored as int8)"
        )
    return int(quantize_bits)


def _quantize_rows(mat: np.ndarray, qbits: int) -> tuple[pa.Array, pa.Array]:
    """Symmetric per-row quantization of a dense (n, dim) matrix ->
    (codes: fixed-size list<int8>, scales: float32). Cosine is
    invariant to the positive per-row scale, so index ranking runs on
    the CODES directly; scales are stored for reconstruction. Null
    vectors were already rejected upstream by _dense_matrix."""
    qmax = float((1 << (qbits - 1)) - 1)
    amax = np.abs(mat).max(axis=1)
    scale = np.where(amax > 0, amax / qmax, 1.0).astype(np.float32)
    codes = np.rint(mat / scale[:, None]).astype(np.int8)
    fsl = pa.FixedSizeListArray.from_arrays(
        pa.array(codes.ravel(), pa.int8()), mat.shape[1]
    ).cast(pa.list_(pa.int8()))
    return fsl, pa.array(scale)


def _sig_vec_kernel(df: DataFrame, dim: int, planes_by_t: list[np.ndarray],
                    id_col: str, vec_col: str,
                    qbits: int | None = None) -> DataFrame:
    """(t, id, bucket, vec[, vscale]) rows for every table's
    hyperplane set — ONE corpus pass emits all tables (vs one scan per
    table). With ``qbits`` the stored vectors are int8 codes (4x
    smaller index; signatures still come from the full-precision
    input)."""
    from .. import _ship

    _ship.ensure(df.sparkSession)
    sel = df.select(id_col, F.col(vec_col).cast("array<float>").alias(vec_col))
    nbits = planes_by_t[0].shape[0]
    planes_all = np.stack(planes_by_t)  # (tables, nbits, dim)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        weights = 1 << np.arange(nbits, dtype=np.int64)
        for b in batches:
            ids = b.column(0)
            vecs = b.column(1)
            mat = _dense_matrix(vecs, dim, b.num_rows)
            if qbits:
                stored, scales = _quantize_rows(mat, qbits)
            for t, planes in enumerate(planes_all):
                proj = mat @ planes.T
                sig = ((proj > 0) @ weights).astype(np.int64)
                cols = [
                    pa.array(np.full(b.num_rows, t, dtype=np.int32)),
                    ids,
                    pa.array(sig),
                ]
                if qbits:
                    yield pa.RecordBatch.from_arrays(
                        cols + [stored, scales],
                        names=["t", "id", "bucket", "vec", "vscale"],
                    )
                else:
                    yield pa.RecordBatch.from_arrays(
                        cols + [vecs], names=["t", "id", "bucket", "vec"]
                    )

    _idt = id_ddl(sel)  # string url keys work too
    if qbits:
        out_ddl = f"t int, id {_idt}, bucket long, vec array<tinyint>, vscale float"
    else:
        out_ddl = f"t int, id {_idt}, bucket long, vec array<float>"
    return sel.mapInArrow(kernel, out_ddl)


def _next_epoch(
    root: str, params: dict, fingerprint: str | None
) -> tuple[dict, int]:
    """Validate an append against the existing manifest: every index
    parameter must match EXACTLY (appending with different planes /
    centroids / prefix masks would silently corrupt recall), the index
    must be epoch-partitioned (format >= 2), and a corpus fingerprint
    already indexed is refused (appending the same files twice doubles
    every candidate). Returns (manifest, new_epoch).

    Pending markers from a crashed append are resolved here first: the
    publish rename is atomic, so directory existence IS the commit bit
    — an existing dir means the data published but the final manifest
    rewrite was lost (promote: its fingerprint counts as indexed, so
    the retry is refused); a missing dir means nothing published
    (drop: the retry must be accepted)."""
    meta = load_manifest(root)
    if "epochs" not in meta:
        raise ValueError(
            f"index at {root} predates epoch partitioning (format "
            f"{meta.get('format', 1)}): rebuild once to enable append"
        )
    resolved, changed = [], False
    for e in meta["epochs"]:
        if e.get("pending"):
            changed = True
            if not os.path.isdir(_epoch_dir(root, e["epoch"])):
                continue
            e = {k: v for k, v in e.items() if k != "pending"}
        resolved.append(e)
    if changed:
        meta["epochs"] = resolved
        _write_manifest(root, meta)
    if "id_type" in params and "id_type" not in meta:
        # manifest predates id_type (r5): validate against the STORED
        # data's actual parquet schema instead of refusing every
        # legacy append, and backfill the manifest
        stored = _stored_id_type(root)
        if stored is not None and stored != params["id_type"]:
            raise ValueError(
                f"append refused: id type {params['id_type']!r} != the "
                f"index's stored {stored!r} (mixed id schemas under one "
                f"index directory fail at query time)"
            )
        meta["id_type"] = stored or params["id_type"]
        _write_manifest(root, meta)
    for k, v in params.items():
        if meta.get(k) != v:
            raise ValueError(
                f"append refused: param {k}={v!r} != index's {meta.get(k)!r} "
                f"(an index's planes/centroids are fixed at build time)"
            )
    if fingerprint is not None:
        done = {e.get("fingerprint") for e in meta["epochs"]}
        if fingerprint in done:
            raise ValueError(
                f"append refused: corpus fingerprint {fingerprint!r} is "
                f"already indexed (epoch "
                f"{[e['epoch'] for e in meta['epochs'] if e.get('fingerprint') == fingerprint]})"
            )
    return meta, max(e["epoch"] for e in meta["epochs"]) + 1


def _stored_id_type(root: str) -> str | None:
    """DDL type of the persisted index's id column, read from one data
    file's parquet schema; None when unreadable or unmapped (caller
    then trusts the append's declared type)."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(root, "index", "**", "*.parquet"),
                      recursive=True)
    if not files:
        return None
    try:
        t = pq.read_schema(files[0]).field("id").type
    except (OSError, KeyError):
        return None
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    return None


def _write_epoch(idx: DataFrame, root: str, epoch: int,
                 partition_cols: list[str]) -> None:
    """Crash-safe epoch write: the partitioned data lands in a staged
    dir, then ONE directory rename publishes it as index/epoch=N —
    queries never see a partially-written epoch. The caller records
    the epoch in the manifest (pending) BEFORE calling this, so a
    crash in the rename-to-manifest-commit window leaves a pending
    entry that _next_epoch resolves by directory existence; a crash
    earlier leaves only an invisible staging dir."""
    import glob
    import shutil
    import uuid

    # sweep staging dirs orphaned by a hard crash mid-write: the
    # pending manifest entry is dropped on retry, but the multi-GB
    # .staged dir itself would otherwise accumulate forever
    # (single-writer assumption, like the rest of the protocol)
    for d in glob.glob(os.path.join(root, ".epoch-*.staged")):
        shutil.rmtree(d, ignore_errors=True)
    staged = os.path.join(root, f".epoch-{epoch}-{uuid.uuid4().hex[:8]}.staged")
    try:
        idx.write.mode("overwrite").partitionBy(*partition_cols).parquet(staged)
        os.makedirs(os.path.join(root, "index"), exist_ok=True)
        final = os.path.join(root, "index", f"epoch={epoch}")
        if os.path.exists(final):
            raise FileExistsError(f"epoch dir already exists: {final}")
        os.rename(staged, final)
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def build_lsh_index(
    df: DataFrame, root: str, dim: int, nbits: int = 16, tables: int = 4,
    seed: int = 7, n_pfx: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
    append: bool = False, fingerprint: str | None = None,
    quantize_bits: int | None = None,
) -> dict:
    """Build + persist a multi-table random-hyperplane index.

    One corpus pass computes every table's signatures; the write is
    partitioned by (epoch, t, pfx) and sorted by bucket within
    partitions so queries prune directories first, then row groups.
    Size (nbits, tables) with similarity.ann_params.

    ``append=True`` indexes ONLY ``df`` (the new vectors) as a new
    epoch — build cost proportional to the appended slice, not the
    corpus; queries read every epoch transparently (epoch is just a
    leading partition directory). Params must match the manifest
    exactly; pass ``fingerprint`` (e.g. scan.units_fingerprint of the
    appended files) to record what each epoch indexed and refuse
    double-appends. Returns the manifest.

    ``quantize_bits=8`` stores int8 codes instead of float32 vectors,
    serving the SAME queries: cosine ranking is invariant to the
    per-vector scale, so the query path runs on codes unchanged
    (recall loses only the int8 rounding noise). Candidates scanned,
    shuffled, and held in memory shrink 4x (ByteType vs FloatType);
    on-disk parquet saves ~40% (parquet has no INT8 physical type —
    codes ride as dictionary-encoded INT32). Signatures are still
    computed from full-precision input. All epochs of an index share
    the setting (validated on append).

    Why the LIVE index stays parquet-native instead of the engine's
    own FOR+bitpack list frames (which reach the full ~4x on disk,
    pinned in test_ann_storage_three_shapes_pinned): queries prune
    (t, pfx) directories and bucket row groups with plain parquet
    pushdown and rank codes straight off the scan; engine frames
    would need a decode hop before any candidate could be ranked.
    Engine framing is the ARCHIVAL shape for index snapshots, not the
    serving shape."""
    n_pfx = int(min(1 << nbits, n_pfx or 256))
    quantize_bits = _norm_quantize_bits(quantize_bits)
    params = {
        "kind": "lsh", "dim": dim, "nbits": nbits, "tables": tables,
        "seed": seed, "n_pfx": n_pfx, "id_col": id_col, "vec_col": vec_col,
        "quantize_bits": quantize_bits,
        # the id TYPE is part of the contract: appending string keys
        # onto a bigint index would write mixed-schema parquet under
        # one directory and fail (or mis-handle ids) only at query
        # time, far from the bad append
        "id_type": id_ddl(df.select(id_col)),
    }
    if append:
        meta, epoch = _next_epoch(root, params, fingerprint)
    else:
        import shutil

        _invalidate_manifest(root)  # stale manifest dies before its data
        shutil.rmtree(os.path.join(root, "index"), ignore_errors=True)
        meta = {"format": FORMAT_VERSION, **params, "epochs": []}
        epoch = 0
    planes_by_t = [_hyperplanes(dim, nbits, seed + 1009 * t) for t in range(tables)]
    rows = _sig_vec_kernel(df, dim, planes_by_t, id_col, vec_col,
                           qbits=quantize_bits)
    idx = rows.withColumn("pfx", F.col("bucket").bitwiseAND(F.lit(n_pfx - 1)))
    if append:
        _stage_epoch_entry(root, meta, epoch, fingerprint)
    _write_epoch(
        idx.repartition("t", "pfx").sortWithinPartitions("bucket"),
        root, epoch, ["t", "pfx"],
    )
    if append:
        _commit_epoch_entry(root, meta, epoch)
    else:
        meta["epochs"] = [{"epoch": epoch, "fingerprint": fingerprint}]
        _write_manifest(root, meta)
    return meta


def _lsh_probes(meta: dict, query: list[float], multiprobe: int) -> dict[int, list[int]]:
    """Per-table probe bucket sets (query bucket + <=multiprobe-bit
    flips) — driver-side math on the manifest's seeds, no corpus I/O."""
    nbits = meta["nbits"]
    q = np.asarray(query, dtype=np.float32)
    weights = 1 << np.arange(nbits, dtype=np.int64)
    out: dict[int, list[int]] = {}
    for t in range(meta["tables"]):
        planes = _hyperplanes(meta["dim"], nbits, meta["seed"] + 1009 * t)
        qsig = int(((q @ planes.T) > 0) @ weights)
        out[t] = probe_buckets(qsig, nbits, multiprobe)
    return out


def lsh_index_topk(
    spark: SparkSession, root: str, query: list[float], k: int = 10,
    multiprobe: int = 1,
) -> DataFrame:
    """ANN top-k against a persisted LSH index: the scan reads ONLY the
    probed (t, pfx) partitions (directory prune) and within them only
    row groups whose bucket range overlaps the probes (min/max prune);
    exact cosine ranks the surviving candidates."""
    meta = load_manifest(root)
    if meta["kind"] != "lsh":
        raise ValueError(f"index at {root} is kind={meta['kind']!r}, not lsh")
    if len(query) != meta["dim"]:
        raise ValueError(f"query dim {len(query)} != index dim {meta['dim']}")
    probes = _lsh_probes(meta, query, multiprobe)
    n_pfx = meta["n_pfx"]
    pfx_all = sorted({p & (n_pfx - 1) for ps in probes.values() for p in ps})
    per_table = [
        (F.col("t") == t) & F.col("bucket").isin(ps) for t, ps in probes.items()
    ]
    idx = (
        _read_index(spark, root, meta)
        # leading conjuncts over the PARTITION columns alone -> directory
        # prune; the OR-of-tables residual exactifies per-table buckets
        .filter(F.col("pfx").isin(pfx_all))
        .filter(reduce(lambda a, b: a | b, per_table))
    )
    cands = idx.select(
        F.col("id").alias(meta["id_col"]), F.col("vec").alias(meta["vec_col"])
    ).dropDuplicates([meta["id_col"]])
    return cosine_topk(cands, query, k, meta["id_col"], meta["vec_col"])


def build_ivf_index(
    df: DataFrame, root: str, dim: int, n_centroids: int = 64,
    sample: int = 8192, iters: int = 10, seed: int = 7,
    id_col: str = "vec_id", vec_col: str = "embedding",
    append: bool = False, fingerprint: str | None = None,
    quantize_bits: int | None = None,
) -> dict:
    """Train the coarse quantizer (one bounded-sample pass), assign the
    corpus (one pass), persist partitioned by (epoch, list_id). Queries
    scan nprobe/n_centroids of the data — the IVF contract.

    ``append=True`` assigns ONLY ``df`` with the STORED centroids (the
    quantizer is fixed at build time — retraining would orphan prior
    epochs' assignments) and publishes it as a new epoch; params must
    match the manifest, and an already-indexed ``fingerprint`` is
    refused."""
    from .. import _ship

    _ship.ensure(df.sparkSession)
    quantize_bits = _norm_quantize_bits(quantize_bits)
    params = {
        "kind": "ivf", "dim": dim, "seed": seed,
        "id_col": id_col, "vec_col": vec_col,
        "quantize_bits": quantize_bits,
        "id_type": id_ddl(df.select(id_col)),  # see build_lsh_index
    }
    if append:
        meta, epoch = _next_epoch(root, params, fingerprint)
        # validate the REQUESTED centroid count, not the actual one:
        # ivf_centroids clamps to the sample size, so an append issued
        # with the exact same arguments as the original build must not
        # be refused just because the stored count was clamped
        stored_req = meta.get("n_centroids_requested", meta.get("n_centroids"))
        if n_centroids != stored_req:
            raise ValueError(
                f"append refused: param n_centroids={n_centroids!r} != "
                f"index's requested {stored_req!r} (an index's centroids "
                f"are fixed at build time)"
            )
        cent = np.load(os.path.join(root, "centroids.npy"))
    else:
        import shutil

        _invalidate_manifest(root)  # stale manifest dies before its data
        shutil.rmtree(os.path.join(root, "index"), ignore_errors=True)
        epoch = 0
        cents = ivf_centroids(df, dim, n_centroids, sample, iters, id_col, vec_col, seed)
        cent = np.ascontiguousarray(cents, dtype=np.float32)
        meta = {
            "format": FORMAT_VERSION, **params,
            "n_centroids": int(cent.shape[0]),
            "n_centroids_requested": n_centroids, "epochs": [],
        }
    sel = df.select(id_col, F.col(vec_col).cast("array<float>").alias(vec_col))
    qbits = quantize_bits

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column(0)
            vecs = b.column(1)
            mat = _dense_matrix(vecs, dim, b.num_rows)
            norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            assign = ((mat / norms) @ cent.T).argmax(axis=1).astype(np.int32)
            if qbits:
                stored, scales = _quantize_rows(mat, qbits)
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array(assign), stored, scales],
                    names=["id", "list_id", "vec", "vscale"],
                )
            else:
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array(assign), vecs], names=["id", "list_id", "vec"]
                )

    _idt = id_ddl(sel)
    rows = sel.mapInArrow(
        kernel,
        f"id {_idt}, list_id int, vec array<tinyint>, vscale float"
        if qbits else f"id {_idt}, list_id int, vec array<float>",
    )
    if not append:
        # centroids land BEFORE the epoch data: the manifest is written
        # last either way, so no ordering leaves a loadable-but-broken
        # index behind
        os.makedirs(root, exist_ok=True)
        np.save(os.path.join(root, "centroids.npy"), cent)
    if append:
        _stage_epoch_entry(root, meta, epoch, fingerprint)
    _write_epoch(rows.repartition("list_id"), root, epoch, ["list_id"])
    if append:
        _commit_epoch_entry(root, meta, epoch)
    else:
        meta["epochs"] = [{"epoch": epoch, "fingerprint": fingerprint}]
        _write_manifest(root, meta)
    return meta


def ivf_index_topk(
    spark: SparkSession, root: str, query: list[float], k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k against a persisted IVF index: centroid math on the
    driver picks nprobe lists; the scan reads ONLY those list_id
    partitions; exact cosine ranks within them."""
    meta = load_manifest(root)
    if meta["kind"] != "ivf":
        raise ValueError(f"index at {root} is kind={meta['kind']!r}, not ivf")
    if len(query) != meta["dim"]:
        raise ValueError(f"query dim {len(query)} != index dim {meta['dim']}")
    cent = np.load(os.path.join(root, "centroids.npy"))
    q = np.asarray(query, dtype=np.float32)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = [int(x) for x in np.argsort(-(cent @ qn))[:nprobe]]
    idx = _read_index(spark, root, meta).filter(F.col("list_id").isin(probes))
    cands = idx.select(
        F.col("id").alias(meta["id_col"]), F.col("vec").alias(meta["vec_col"])
    ).dropDuplicates([meta["id_col"]])  # an id re-indexed by a later
    # epoch (overlapping append) must not consume two top-k slots
    return cosine_topk(cands, query, k, meta["id_col"], meta["vec_col"])


# ---------------------------------------------------------------------------
# Batch queries: Q vectors, ONE pruned index scan
# ---------------------------------------------------------------------------

_MAX_QUERY_BATCH = 100_000


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


def _collect_queries(
    queries: DataFrame, qid_col: str, vec_col: str, dim: int
) -> list[tuple]:
    """Driver-side query block. Probe math needs the raw vectors, and
    a serving batch is bounded (thousands) — the collect moves no more
    rows than the result itself. A MILLION-query 'batch' is a join
    workload, not a serving batch: use similarity.rp_signatures_multi
    + the candidate-pair join path instead of an index."""
    rows = queries.select(qid_col, vec_col).limit(_MAX_QUERY_BATCH + 1).collect()
    if len(rows) > _MAX_QUERY_BATCH:
        raise ValueError(
            f"query batch exceeds {_MAX_QUERY_BATCH}: that is a corpus-join "
            f"workload — use similarity.rp_signatures_multi banding, not "
            f"per-query index probes"
        )
    out = []
    seen = set()
    for r in rows:
        qid, vec = r[0], r[1]
        if qid is None:
            # a NULL qid would silently vanish in the probe equi-joins
            # (SQL null equality) instead of erroring
            raise ValueError("query batch contains a NULL query id")
        if qid in seen:
            raise ValueError(f"duplicate query id {qid!r} in batch")
        seen.add(qid)
        if vec is None or len(vec) != dim:
            raise ValueError(
                f"query {qid!r}: dim {None if vec is None else len(vec)} "
                f"!= index dim {dim}"
            )
        out.append((qid, [float(x) for x in vec]))
    return out


def _query_block_df(spark: SparkSession, qrows: list[tuple], qid_type) -> DataFrame:
    from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

    schema = StructType([
        StructField("__qid", qid_type),
        StructField("__qvec", ArrayType(FloatType())),
    ])
    return spark.createDataFrame(qrows, schema)


def _rank_topk(cand: DataFrame, qid_col: str, id_col: str, k: int) -> DataFrame:
    """Exact cosine rank within each query's candidates. The window
    shuffle moves only (qid, id, cos)-sized candidate rows — bounded
    by probed-bucket sizes, never the corpus."""
    from pyspark.sql import Window

    w = Window.partitionBy("__qid").orderBy(F.desc("cos"), F.col("id"))
    return (
        cand.withColumn("cos", _pairwise_cosine("vec", "__qvec"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(qid_col), F.col("id").alias(id_col),
            "cos", "rank",
        )
    )


def lsh_index_topk_batch(
    spark: SparkSession, root: str, queries: DataFrame, k: int = 10,
    multiprobe: int = 1, qid_col: str = "qid", vec_col: str = "embedding",
) -> DataFrame:
    """Top-k for a BATCH of query vectors against a persisted LSH
    index: all queries' probes are unioned into ONE partition-pruned
    index scan (directory prune on the probed pfx set, row-group
    min/max prune on the probed bucket set), a broadcast join on
    (t, bucket) exactifies per-query membership, a broadcast of the
    query block provides vectors for the cosine, and a per-query
    window ranks. Q sequential lsh_index_topk calls would pay Q scans;
    this pays one. -> (qid, id, cos, rank <= k)."""
    meta = load_manifest(root)
    if meta["kind"] != "lsh":
        raise ValueError(f"index at {root} is kind={meta['kind']!r}, not lsh")
    qrows = _collect_queries(queries, qid_col, vec_col, meta["dim"])
    if not qrows:
        raise ValueError("empty query batch")
    # one signature matmul per TABLE for the whole batch — per-query
    # _lsh_probes would regenerate every table's hyperplane matrix Q
    # times on the driver
    nbits = meta["nbits"]
    qmat = np.asarray([q for _, q in qrows], dtype=np.float32)
    weights = 1 << np.arange(nbits, dtype=np.int64)
    probe_rows: list[tuple] = []
    for t in range(meta["tables"]):
        planes = _hyperplanes(meta["dim"], nbits, meta["seed"] + 1009 * t)
        sigs = ((qmat @ planes.T) > 0) @ weights
        for (qid, _), qsig in zip(qrows, sigs):
            probe_rows.extend(
                (qid, t, p)
                for p in probe_buckets(int(qsig), nbits, multiprobe)
            )
    n_pfx = meta["n_pfx"]
    pfx_all = sorted({b & (n_pfx - 1) for _, _, b in probe_rows})
    idx = _read_index(spark, root, meta).filter(F.col("pfx").isin(pfx_all))
    buckets_all = sorted({b for _, _, b in probe_rows})
    if len(buckets_all) <= 4096:
        # row-group min/max prune; exactness comes from the probe join.
        # For very large batches the literal list would bloat the plan
        # for little pruning value — the partition prune still holds.
        idx = idx.filter(F.col("bucket").isin(buckets_all))

    qid_type = queries.schema[qid_col].dataType
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    probes_df = spark.createDataFrame(
        probe_rows,
        StructType([
            StructField("__qid", qid_type),
            StructField("t", IntegerType()),
            StructField("bucket", LongType()),
        ]),
    )
    cand = (
        idx.join(F.broadcast(probes_df), ["t", "bucket"])
        .select("__qid", "id", "vec")
        .dropDuplicates(["__qid", "id"])  # same candidate via several tables
        .join(F.broadcast(_query_block_df(spark, qrows, qid_type)), "__qid")
    )
    return _rank_topk(cand, qid_col, meta["id_col"], k)


def ivf_index_topk_batch(
    spark: SparkSession, root: str, queries: DataFrame, k: int = 10,
    nprobe: int = 4, qid_col: str = "qid", vec_col: str = "embedding",
) -> DataFrame:
    """Batch top-k against a persisted IVF index: one scan over the
    UNION of all queries' nprobe lists (directory prune on list_id), a
    broadcast probe join assigns candidates to queries, exact cosine
    ranks per query. -> (qid, id, cos, rank <= k)."""
    meta = load_manifest(root)
    if meta["kind"] != "ivf":
        raise ValueError(f"index at {root} is kind={meta['kind']!r}, not ivf")
    qrows = _collect_queries(queries, qid_col, vec_col, meta["dim"])
    if not qrows:
        raise ValueError("empty query batch")
    cent = np.load(os.path.join(root, "centroids.npy"))
    qmat = np.asarray([q for _, q in qrows], dtype=np.float32)
    qnorm = qmat / np.maximum(
        np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12
    )
    order = np.argsort(-(qnorm @ cent.T), axis=1)[:, :nprobe]
    probe_rows = [
        (qid, int(lst))
        for (qid, _), lists in zip(qrows, order)
        for lst in lists
    ]
    lists_all = sorted({lst for _, lst in probe_rows})
    idx = _read_index(spark, root, meta).filter(F.col("list_id").isin(lists_all))
    qid_type = queries.schema[qid_col].dataType
    from pyspark.sql.types import IntegerType, StructField, StructType

    probes_df = spark.createDataFrame(
        probe_rows,
        StructType([
            StructField("__qid", qid_type),
            StructField("list_id", IntegerType()),
        ]),
    )
    cand = (
        idx.join(F.broadcast(probes_df), ["list_id"])
        .select("__qid", "id", "vec")
        .dropDuplicates(["__qid", "id"])  # cross-epoch re-indexed ids
        .join(F.broadcast(_query_block_df(spark, qrows, qid_type)), "__qid")
    )
    return _rank_topk(cand, qid_col, meta["id_col"], k)
