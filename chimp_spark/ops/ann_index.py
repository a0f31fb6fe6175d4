"""Persisted ANN indexes: build once, query by partition-pruned scans.

The builders write the index ONCE as partitioned parquet; a top-k reads
only the probed partitions (``PartitionFilters`` on the index scan,
pinned in tests/test_plans), never the corpus.

    <root>/_log/<N:08d>.json                  one record per build or append
    <root>/index/run=<run_id>/t=../pfx=../    [lsh] one build's or append's data
    <root>/index/run=<run_id>/list_id=../     [ivf]
    <root>/index/run=<run_id>/_centroids.npy  [ivf] the build's coarse quantizer

A run id is ``r<hex>``, so the ``run`` partition column infers as a
string. A build record holds ``kind``, the params, ``fingerprint`` and
``run_id``; an append record holds ``run_id``, ``fingerprint`` and
``base``, the run id of the build it extends. A builder writes its run
directory first, then links one record through the engine's commit log
(``engine.manifest.Log``, put-if-absent).

Read rule: the live index is the last build record plus the appends
after it whose ``base`` is that build's run id, skipping an append whose
fingerprint an earlier live record holds. Epoch = position in that list.
Queries scan only the live runs' directories, so:

- a run no record names (a crash before the link) is invisible, and a
  retried append of its fingerprint is accepted;
- a crash during a rebuild leaves the previous index live; a build
  removes the earlier records' run directories only after its own
  record has landed;
- racing appends both land; of two with one fingerprint the later is
  skipped and raises, and an append that finds a rebuild linked before
  its record raises.

A root in the older layout (a JSON manifest rewritten in place, no
``_log/``) is refused on load, build and append: rebuild it.

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

import os
import shutil
import uuid
from collections.abc import Iterator
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.manifest import Log
from ._util import id_ddl
from .similarity import (
    _dense_matrix,
    _hyperplanes,
    _pairwise_cosine,
    cosine_topk,
    ivf_centroids,
    probe_buckets,
)

_CENTROIDS = "_centroids.npy"  # a leading "_" keeps Spark's file listing off it


def _log(root: str) -> Log:
    def refuse_old() -> None:
        names = os.listdir(root) if os.path.isdir(root) else []
        if any(n.endswith(".json") for n in names):
            raise ValueError(
                f"{root} holds an ANN index in the old layout (a JSON "
                f"manifest rewritten in place, no _log/), which is no longer "
                f"read. Delete it and rebuild the index."
            )

    return Log(os.path.join(root, "_log"), refuse_old)


def _run_dir(root: str, run_id: str) -> str:
    return os.path.join(root, "index", f"run={run_id}")


def _centroids_path(root: str, meta: dict) -> str:
    return os.path.join(_run_dir(root, meta["epochs"][0]["run_id"]), _CENTROIDS)


def _live(records: list[dict]) -> list[dict]:
    """The last build record, then the appends after it that extend it;
    an append whose fingerprint an earlier one of these holds is
    skipped (a racing double-append must not double candidates)."""
    builds = [i for i, r in enumerate(records) if "kind" in r]
    if not builds:
        return []
    build = records[builds[-1]]
    live, seen = [build], {build["fingerprint"]}
    for r in records[builds[-1] + 1:]:
        if r["base"] != build["run_id"]:
            continue
        if r["fingerprint"] is not None and r["fingerprint"] in seen:
            continue
        seen.add(r["fingerprint"])
        live.append(r)
    return live


def _manifest(live: list[dict]) -> dict:
    meta = {k: v for k, v in live[0].items() if k not in ("fingerprint", "run_id")}
    meta["epochs"] = [{"epoch": i, "fingerprint": r["fingerprint"], "run_id": r["run_id"]}
                      for i, r in enumerate(live)]
    return meta


def load_manifest(root: str) -> dict:
    """The live index's params plus ``epochs``: ``[{"epoch",
    "fingerprint", "run_id"}]``, the build first. Raises
    FileNotFoundError when no build has committed."""
    live = _live(_log(root).records())
    if not live:
        raise FileNotFoundError(f"no ANN index at {root}: build one first")
    return _manifest(live)


def _read_index(spark: SparkSession, root: str, meta: dict) -> DataFrame:
    """Scan ONLY the live runs' directories: a run no live record names
    (crashed, overtaken or superseded) stays invisible."""
    return spark.read.option("basePath", os.path.join(root, "index")).parquet(
        *(_run_dir(root, e["run_id"]) for e in meta["epochs"]))


def _write_run(idx: DataFrame, root: str, partition_cols: list[str],
               centroids: np.ndarray | None = None) -> str:
    """Write one build's or append's data into a fresh run directory
    and return its run id. Nothing reads it until a record names it."""
    run_id = f"r{uuid.uuid4().hex[:12]}"
    out = _run_dir(root, run_id)
    try:
        idx.write.partitionBy(*partition_cols).parquet(out)
        if centroids is not None:
            np.save(os.path.join(out, _CENTROIDS), centroids)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    return run_id


def _commit(root: str, record: dict) -> dict:
    """Link a build or append record and return the manifest as of it.

    A build then removes the run directories of every earlier record.
    An append re-reads the log: if a rebuild landed before it, or an
    earlier append of the same build already holds its fingerprint, its
    record is dead under the read rule, so its run directory is removed
    and it raises."""
    log = _log(root)
    log.append(record)
    records = log.records()
    mine = next(i for i, r in enumerate(records) if r["run_id"] == record["run_id"])
    live = _live(records[:mine + 1])
    if live[-1] is not records[mine]:
        shutil.rmtree(_run_dir(root, record["run_id"]), ignore_errors=True)
        if live[0]["run_id"] != record["base"]:
            raise ValueError(
                f"append refused: a rebuild of {root} committed before this "
                f"append, whose data extended the replaced index; append "
                f"again against the new index"
            )
        raise ValueError(
            f"append refused: corpus fingerprint {record['fingerprint']!r} is "
            f"already indexed (by a concurrent append)"
        )
    if "kind" in record:
        for r in records[:mine]:
            shutil.rmtree(_run_dir(root, r["run_id"]), ignore_errors=True)
    return _manifest(live)


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


def _append_base(root: str, params: dict, fingerprint: str | None) -> dict:
    """Validate an append against the live index and return its
    manifest: every index parameter must match EXACTLY (appending with
    different planes / centroids / prefix masks would silently corrupt
    recall), and a corpus fingerprint already indexed is refused
    (appending the same files twice doubles every candidate)."""
    meta = load_manifest(root)
    for k, v in params.items():
        if meta.get(k) != v:
            raise ValueError(
                f"append refused: param {k}={v!r} != index's {meta.get(k)!r} "
                f"(an index's planes/centroids are fixed at build time)"
            )
    done = [e["epoch"] for e in meta["epochs"]
            if fingerprint is not None and e["fingerprint"] == fingerprint]
    if done:
        raise ValueError(
            f"append refused: corpus fingerprint {fingerprint!r} is "
            f"already indexed (epoch {done})"
        )
    return meta


def build_lsh_index(
    df: DataFrame, root: str, dim: int, nbits: int = 16, tables: int = 4,
    seed: int = 7, n_pfx: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
    append: bool = False, fingerprint: str | None = None,
    quantize_bits: int | None = None,
) -> dict:
    """Build + persist a multi-table random-hyperplane index.

    One corpus pass computes every table's signatures; the write is
    partitioned by (run, t, pfx) and sorted by bucket within
    partitions so queries prune directories first, then row groups.
    Size (nbits, tables) with similarity.ann_params. A rebuild leaves
    the previous index live until its own record lands.

    ``append=True`` indexes ONLY ``df`` (the new vectors) as a new
    epoch — build cost proportional to the appended slice, not the
    corpus; queries read every epoch transparently (each is one more
    run directory). Params must match the live build exactly; pass
    ``fingerprint`` (e.g. scan.units_fingerprint of the appended
    files) to record what each epoch indexed and refuse double-appends.
    Returns the manifest (see load_manifest).

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
        head = {"base": _append_base(root, params, fingerprint)["epochs"][0]["run_id"]}
    else:
        _log(root).versions()  # refuses an old layout before anything is written
        head = params
    planes_by_t = [_hyperplanes(dim, nbits, seed + 1009 * t) for t in range(tables)]
    rows = _sig_vec_kernel(df, dim, planes_by_t, id_col, vec_col,
                           qbits=quantize_bits)
    idx = rows.withColumn("pfx", F.col("bucket").bitwiseAND(F.lit(n_pfx - 1)))
    run_id = _write_run(idx.repartition("t", "pfx").sortWithinPartitions("bucket"),
                        root, ["t", "pfx"])
    return _commit(root, {**head, "fingerprint": fingerprint, "run_id": run_id})


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
    corpus (one pass), persist partitioned by (run, list_id) with the
    centroids in the build's run directory. Queries scan
    nprobe/n_centroids of the data — the IVF contract.

    ``append=True`` assigns ONLY ``df`` with the STORED centroids (the
    quantizer is fixed at build time — retraining would orphan prior
    epochs' assignments) and commits it as a new epoch; params must
    match the live build, and an already-indexed ``fingerprint`` is
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
        meta = _append_base(root, params, fingerprint)
        # validate the REQUESTED centroid count, not the actual one:
        # ivf_centroids clamps to the sample size, so an append issued
        # with the exact same arguments as the original build must not
        # be refused just because the stored count was clamped
        if n_centroids != meta["n_centroids_requested"]:
            raise ValueError(
                f"append refused: param n_centroids={n_centroids!r} != "
                f"index's requested {meta['n_centroids_requested']!r} (an "
                f"index's centroids are fixed at build time)"
            )
        cent = np.load(_centroids_path(root, meta))
        head = {"base": meta["epochs"][0]["run_id"]}
    else:
        _log(root).versions()  # refuses an old layout before anything is written
        cents = ivf_centroids(df, dim, n_centroids, sample, iters, id_col, vec_col, seed)
        cent = np.ascontiguousarray(cents, dtype=np.float32)
        head = {**params, "n_centroids": int(cent.shape[0]),
                "n_centroids_requested": n_centroids}
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
    run_id = _write_run(rows.repartition("list_id"), root, ["list_id"],
                        None if append else cent)
    return _commit(root, {**head, "fingerprint": fingerprint, "run_id": run_id})


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
    cent = np.load(_centroids_path(root, meta))
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
    cent = np.load(_centroids_path(root, meta))
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
