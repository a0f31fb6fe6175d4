"""Task-side decode sinks: decoded values go straight from worker
tasks into parquet shards via pyarrow — never through Spark's
Arrow -> JVM row emit.

This is the read-side mirror of ``engine/scan.py``. The scan path
bypasses InternalRow -> Arrow on ENCODE (parquet is already columnar,
so Spark only schedules); these bypass Arrow -> JVM on DECODE. The
generic ``decode_table`` is right when decoded values feed further
Spark plan nodes (joins, aggregations, filters) — but a decode
*consumer* ("materialize this encoded table back to parquet for the
trainer") pays the JVM emit for nothing. Two shapes:

- ``decode_to_parquet(encoded_df, ...)``: input is an in-flight
  encoded DataFrame. One co-location shuffle of COMPRESSED frames,
  then tasks decode and write shards; only file metadata returns
  through Spark. Measured ~2x faster than
  ``decode_table(...).write.parquet(...)`` at sf0.1/local[32].
- ``decode_table_to_parquet(spark, root, ...)``: input is a COMMITTED
  EncodedTable. Chunk groups never span data files (each encode task's
  batches land whole in one file — manifest.commit moves files
  intact), so tasks read their files straight with pyarrow and NO
  shuffle happens at all — the exact mirror of scan.py's work-unit
  model, and the shape a 100 TB decode job runs in: every task streams
  encoded shards from the store and writes decoded shards back,
  nothing crosses the JVM but file indices and file metadata.

Commit protocol (two-phase, task-retry safe): tasks write uniquely
named files under ``<out_dir>/_staged/`` and report them; the driver
renames exactly the files reported by SUCCESSFUL task attempts into
``out_dir`` (rename is atomic within a filesystem), deletes the
staging dir (orphans from failed/speculative attempts die there), and
writes a ``_decode_manifest.json`` (underscore-prefixed: directory
readers skip it). Same idea as Spark's v1 file committer, kept
adapter-thin; on an object store the rename step becomes a manifest
pointer swap (see engine/manifest.py).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import (
    INCOMPLETE_GROUP_MARK,
    colocate_chunks,
    ddl_arrow_types,
    iter_decoded_groups,
)

_MANIFEST = "_decode_manifest.json"
_META_COLS = ["run_id", "part_id", "chunk_id", "row_start", "column", "checksum", "frame"]


def _prepare_out_dir(out_dir: str, mode: str) -> str:
    if mode not in ("error", "overwrite"):
        raise ValueError(f"mode must be 'error' or 'overwrite', got {mode!r}")
    if os.path.exists(out_dir) and os.listdir(out_dir):
        if mode == "error":
            raise FileExistsError(
                f"{out_dir} exists and is non-empty; pass mode='overwrite'"
            )
        import shutil

        shutil.rmtree(out_dir)
    staged = os.path.join(out_dir, "_staged")
    os.makedirs(staged, exist_ok=True)
    return staged


class _ShardWriter:
    """One decoded parquet shard per task: buffers decoded batches to
    ``row_group_rows`` row groups, writes with pyarrow. Attempt-unique
    file name — a retried/speculative attempt writes its own file and
    only the attempt whose metadata row Spark keeps gets committed.

    Flushes are ALSO byte-bounded: a row-count-only threshold would
    hold 2^20 rows of wide text (tens of GB of Arrow buffers) per
    task before the first write — an OOM the encode side never has
    because its chunks are byte-sized in practice."""

    MAX_BUFFER_BYTES = 256 << 20

    def __init__(self, staged: str, pid: int, schema: pa.Schema,
                 compression: str, row_group_rows: int):
        self.path = os.path.join(staged, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.parquet")
        self.schema = schema
        self.compression = compression
        self.row_group_rows = row_group_rows
        self.writer = None
        self.pending: list[pa.RecordBatch] = []
        self.buffered = 0
        self.buffered_bytes = 0
        self.rows = 0

    def _flush(self) -> None:
        if not self.pending:
            return
        if self.writer is None:
            import pyarrow.parquet as pq

            # parquet dictionary encoding costs a hash probe per value
            # and buys nothing on near-unique payload strings (document
            # text) — measured 14% of this sink's write time. Decide
            # per column from the first buffered batches: long strings
            # (avg > 16 B) skip the dictionary; enums/ids keep it.
            use_dict = [
                f.name
                for i, f in enumerate(self.schema)
                if not (
                    (pa.types.is_string(f.type) or pa.types.is_large_string(f.type)
                     or pa.types.is_binary(f.type) or pa.types.is_large_binary(f.type))
                    and self._avg_len(i) > 16
                )
            ]
            self.writer = pq.ParquetWriter(
                self.path, self.schema, compression=self.compression,
                use_dictionary=use_dict,
            )
        self.writer.write_table(pa.Table.from_batches(self.pending, schema=self.schema))
        self.pending = []
        self.buffered = 0
        self.buffered_bytes = 0

    def _avg_len(self, col_idx: int) -> float:
        """Mean value length of a string/binary column, read from the
        offsets: a sliced batch shares its parent's data buffer, whose
        size says nothing about the slice's values."""
        rows = vals_bytes = 0
        for rb in self.pending:
            col = rb.column(col_idx)
            rows += len(col) - col.null_count
            if len(col):
                large = pa.types.is_large_string(col.type) or pa.types.is_large_binary(col.type)
                offs = np.frombuffer(col.buffers()[1], np.int64 if large else np.int32)
                vals_bytes += int(offs[col.offset + len(col)] - offs[col.offset])
        return vals_bytes / rows if rows else 0.0

    def add(self, rb: pa.RecordBatch) -> None:
        self.pending.append(rb)
        self.buffered += rb.num_rows
        self.buffered_bytes += rb.nbytes
        self.rows += rb.num_rows
        if (self.buffered >= self.row_group_rows
                or self.buffered_bytes >= self.MAX_BUFFER_BYTES):
            self._flush()

    def close(self) -> tuple[str, int, int] | None:
        """(path, rows, bytes), or None if no rows were ever added."""
        self._flush()
        if self.writer is None:
            return None
        self.writer.close()
        return self.path, self.rows, os.path.getsize(self.path)


def _meta_batch(pid: int, shard: tuple[str, int, int] | None,
                audit: dict | None = None) -> pa.RecordBatch:
    path, rows, size = shard if shard is not None else (None, 0, 0)
    a = audit or {}
    return pa.RecordBatch.from_pydict(
        {
            "spark_part": [pid], "path": [path], "rows": [rows],
            "bytes": [size],
            "groups_total": [a.get("groups_total", 0)],
            "groups_decoded": [a.get("groups_decoded", 0)],
            "frame_bytes_total": [a.get("frame_bytes_total", 0)],
            "frame_bytes_read": [a.get("frame_bytes_read", 0)],
        },
        schema=pa.schema(
            [("spark_part", pa.int32()), ("path", pa.string()),
             ("rows", pa.int64()), ("bytes", pa.int64()),
             ("groups_total", pa.int64()), ("groups_decoded", pa.int64()),
             ("frame_bytes_total", pa.int64()), ("frame_bytes_read", pa.int64())]
        ),
    )


_META_DDL = (
    "spark_part int, path string, rows long, bytes long, "
    "groups_total long, groups_decoded long, "
    "frame_bytes_total long, frame_bytes_read long"
)


def _norm_predicate(predicate, columns: list[str]):
    """Validate a decode-export predicate -> (col, op, payload).

    Supported: ``(col, "==", v)``, ``(col, "in", [v, ...])``,
    ``(col, "<=", v)``, ``(col, ">=", v)``, ``(col, "between", (lo,
    hi))``. The predicate column must be among the decoded columns:
    chunk pruning by zone maps is CONSERVATIVE (a surviving chunk may
    still hold non-matching rows), so exactness comes from a row-level
    filter on the decoded values — which requires the values."""
    if predicate is None:
        return None
    col, op, payload = predicate
    if col not in columns:
        raise ValueError(
            f"predicate column {col!r} must be among the decoded columns "
            f"{columns} (chunk pruning is conservative; the exact filter "
            f"runs on decoded values)"
        )
    if op not in ("==", "in", "<=", ">=", "between"):
        raise ValueError(f"unsupported predicate op {op!r}")
    if op == "in" and not payload:
        raise ValueError("predicate 'in' needs a non-empty value list")
    if op == "between" and len(payload) != 2:
        raise ValueError("predicate 'between' needs (lo, hi)")
    return col, op, payload


def _pred_bounds(op, payload):
    """[lo, hi] envelope of the predicate's matching values (for 'in',
    the min..max hull — conservative, exactness comes later)."""
    if op == "==":
        return payload, payload
    if op == "in":
        return min(payload), max(payload)
    if op == "<=":
        return None, payload
    if op == ">=":
        return payload, None
    return payload[0], payload[1]


def _zone_keep(op, payload, smin, smax, bmin, bmax) -> bool:
    """Can a chunk with these zone-map stats hold a matching row?
    Missing stats => keep (conservative, mirrors core.decode_column).
    Numeric predicates check the float stats; string/bytes predicates
    check the 16-byte truncated binary bounds (min is a prefix ->
    valid lower bound; max is truncate-and-increment -> valid upper
    bound)."""
    lo, hi = _pred_bounds(op, payload)
    if isinstance(lo if lo is not None else hi, (str, bytes)):
        klo = lo.encode() if isinstance(lo, str) else lo
        khi = hi.encode() if isinstance(hi, str) else hi
        if klo is not None and bmax is not None and bmax < klo:
            return False
        if khi is not None and bmin is not None and bmin > khi:
            return False
        return True
    if smin is None or smax is None:
        return True
    if lo is not None and smax < lo:
        return False
    if hi is not None and smin > hi:
        return False
    return True


def _row_mask(rb: pa.RecordBatch, idx: int, op, payload):
    """Exact row-level predicate mask over a decoded batch (Arrow
    compute, null -> False: SQL WHERE semantics)."""
    import pyarrow.compute as pc

    col = rb.column(idx)
    if op == "==":
        m = pc.equal(col, payload)
    elif op == "in":
        m = pc.is_in(col, value_set=pa.array(list(payload), col.type))
    elif op == "<=":
        m = pc.less_equal(col, payload)
    elif op == ">=":
        m = pc.greater_equal(col, payload)
    else:
        m = pc.and_(pc.greater_equal(col, payload[0]),
                    pc.less_equal(col, payload[1]))
    return pc.fill_null(m, False)


def _commit(out_dir: str, staged: str, reported: list, columns: list[str],
            ddl: str, with_row_ids: bool, with_audit: bool = False) -> dict:
    """Rename exactly the reported shard files into out_dir; sweep the
    staging dir (orphans from failed attempts die there); write the
    manifest last. ``with_audit`` only for the file-unit path — the
    DF-input sink doesn't measure pruning, and an all-zeros audit
    would be indistinguishable from a run that read nothing."""
    import shutil

    files: list[dict] = []
    total_rows = 0
    total_bytes = 0
    audit = {k: 0 for k in ("groups_total", "groups_decoded",
                            "frame_bytes_total", "frame_bytes_read")}
    shards = [r for r in reported if r["path"] is not None]
    for i, r in enumerate(sorted(shards, key=lambda r: (r["spark_part"], r["path"]))):
        final = os.path.join(out_dir, f"part-{i:05d}.parquet")
        os.replace(r["path"], final)
        files.append({"file": os.path.basename(final), "rows": r["rows"], "bytes": r["bytes"]})
        total_rows += r["rows"]
        total_bytes += r["bytes"]
    for r in reported:  # audit rows come from EVERY task, shard or not
        for k in audit:
            audit[k] += r[k]
    shutil.rmtree(staged, ignore_errors=True)
    manifest = {
        "rows": total_rows,
        "bytes": total_bytes,
        "columns": columns,
        "ddl": ddl,
        "with_row_ids": with_row_ids,
        "files": files,
    }
    out = {"out_dir": out_dir, "files": len(files), "rows": total_rows,
           "bytes": total_bytes}
    if with_audit:
        manifest["audit"] = audit
        out["audit"] = audit
    tmp = os.path.join(out_dir, f".{_MANIFEST}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(out_dir, _MANIFEST))
    return out


def _out_schema(columns: list[str], ddl: str, with_row_ids: bool) -> pa.Schema:
    out_types = ddl_arrow_types(ddl)
    return pa.schema(
        ([("part_id", pa.int32()), ("row_id", pa.int64())] if with_row_ids else [])
        + [(c, out_types[c]) for c in columns]
    )


def _strip_ids(rb: pa.RecordBatch, n_cols: int, schema: pa.Schema) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [rb.column(j + 2) for j in range(n_cols)], schema=schema
    )


def decode_to_parquet(
    encoded: DataFrame,
    columns: list[str],
    ddl: str,
    out_dir: str,
    verify_checksums: bool = False,
    compression: str = "snappy",
    row_group_rows: int = 1 << 20,
    mode: str = "error",
    with_row_ids: bool = True,
    colocated: bool | None = None,
    predicate: tuple | None = None,
) -> dict:
    """Decode ``columns`` of an in-flight encoded DataFrame into a
    parquet directory (see module docstring for when to prefer the
    no-shuffle ``decode_table_to_parquet``).

    ``colocated=True`` skips the co-location shuffle entirely: valid
    when ``encoded`` is the DIRECT (possibly cached) output of one
    ``encode_dataframe`` call, whose kernel emits every column's frame
    of a chunk contiguously within the task — the frames are already
    grouped. A mis-declared input fails loudly (each group checks it
    holds ALL requested columns) rather than writing wrong data.

    ``colocated=None`` (default) AUTO-DETECTS: the no-shuffle path is
    tried first, and the same group-completeness check that makes
    ``colocated=True`` safe doubles as the detector — a layout whose
    chunk groups are not whole-and-contiguous per partition cannot
    pass it (a split group is missing columns in EVERY fragment), so
    on that failure the decode transparently re-runs through the
    co-location shuffle. Encode-direct callers get the fast path with
    no flag; shuffled layouts still round-trip. The retry re-reads the
    input, so for an expensive uncached ``encoded`` lineage either
    cache it or pass ``colocated`` explicitly. One sharp edge: a
    column that is genuinely ABSENT from the table raises the same
    incomplete-group error, so auto mode pays the failed fast pass
    AND the shuffle pass before surfacing it — another reason to pass
    ``colocated`` explicitly when lineage is expensive.

    Output schema: ``(part_id int32, row_id int64, *columns)`` (the
    alignment identity of the encode run) unless ``with_row_ids=False``
    strips the index columns. Shard count == shuffle partition count
    of the co-location exchange (or, with ``colocated=True``, the
    encoded DataFrame's own partition count — the encode layout); each
    shard's rows are ordered by (run_id, part_id, chunk_id), i.e.
    encode order within the shard.

    ``predicate=(col, op, value)`` (same forms as
    decode_files_to_parquet) exports only matching rows via an exact
    row-level filter on the decoded values. No chunk-level zone
    pruning here: an in-flight frame DataFrame has already paid its
    materialization, so pruning would save only decode CPU — the
    committed-table path (decode_table_to_parquet), where stats ride
    with the files and pruning skips IO, is the split-export shape.

    Returns ``{"out_dir", "files", "rows", "bytes"}``. ``mode`` is
    ``"error"`` (refuse an existing non-empty out_dir) or
    ``"overwrite"``.
    """
    import shutil

    from .. import _ship

    _ship.ensure(encoded.sparkSession)
    pred = _norm_predicate(predicate, columns)
    staged = _prepare_out_dir(out_dir, mode)
    out_types = ddl_arrow_types(ddl)
    out_schema = _out_schema(columns, ddl, with_row_ids)

    def write_shard(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        w = _ShardWriter(staged, pid, out_schema, compression, row_group_rows)
        pred_idx = 2 + columns.index(pred[0]) if pred is not None else -1
        for rb in iter_decoded_groups(batches, columns, out_types, verify_checksums):
            if pred is not None:
                rb = rb.filter(_row_mask(rb, pred_idx, pred[1], pred[2]))
                if rb.num_rows == 0:
                    continue
            w.add(rb if with_row_ids else _strip_ids(rb, len(columns), out_schema))
        shard = w.close()
        if shard is not None:
            yield _meta_batch(pid, shard)

    def run(skip_shuffle: bool) -> dict:
        if skip_shuffle:
            sel = encoded.filter(F.col("column").isin(columns)).select(*_META_COLS)
        else:
            sel = colocate_chunks(encoded, columns)
        reported = sel.mapInArrow(write_shard, _META_DDL).collect()
        return _commit(out_dir, staged, reported, columns, ddl, with_row_ids)

    if colocated is not None:
        return run(colocated)
    try:
        return run(True)
    except Exception as e:  # noqa: BLE001 — Py4J wraps the worker error
        if INCOMPLETE_GROUP_MARK not in str(e):
            raise
        # not colocated: sweep the failed attempt's staging files and
        # re-run through the co-location shuffle
        shutil.rmtree(staged, ignore_errors=True)
        os.makedirs(staged, exist_ok=True)
        return run(False)


def decode_files_to_parquet(
    spark: SparkSession,
    enc_files: list[str],
    columns: list[str],
    ddl: str,
    out_dir: str,
    table: str | None = None,
    verify_checksums: bool = False,
    compression: str = "snappy",
    row_group_rows: int = 1 << 20,
    mode: str = "error",
    with_row_ids: bool = True,
    num_slices: int | None = None,
    predicate: tuple | None = None,
) -> dict:
    """NO-SHUFFLE decode: each task reads whole encoded data files
    with pyarrow, decodes, writes a decoded shard. Valid because a
    chunk group (one encode task's per-column frames for one chunk)
    never spans data files — encode emits each group in ONE output
    batch and commit moves files intact. Rows within a file may be in
    any order: each file is sorted task-side by (run_id, part_id,
    chunk_id) before group iteration (cheap: sorting metadata columns
    of frame-level rows, ~1 row per 64 K values).

    The unit of work is the FILE (a chunk group must not be split), so
    parallelism == file count; encode jobs already write one file per
    task, which keeps the two jobs' granularities aligned.

    ``predicate`` exports only matching rows — the "materialize just
    split='train'" shape (see _norm_predicate for the forms). Two
    levels, both task-side:

    1. CHUNK PRUNE: a metadata-only pass per file (parquet is
       columnar — reading the key/stats/enc_bytes columns touches no
       frame payload pages) drops every chunk group whose zone map
       cannot intersect the predicate; surviving groups are re-read
       with a chunk_id pushdown filter, so pruned groups' payload
       bytes are never materialized. When the encode layout clusters
       the predicate column (e.g. sorted by split/lang), this skips
       the bulk of the table's bytes; a hostile layout degrades to
       reading everything — never to wrong output.
    2. EXACT ROW FILTER on the decoded batches (Arrow compute,
       null -> False), so the result is bit-identical to
       decode-everything-then-filter regardless of layout.

    The returned dict's ``audit`` records groups_total/groups_decoded
    and frame_bytes_total/frame_bytes_read so callers (and tests) can
    verify the prune actually skipped payload bytes.
    """
    from .. import _ship

    _ship.ensure(spark)
    pred = _norm_predicate(predicate, columns)
    staged = _prepare_out_dir(out_dir, mode)
    files = sorted(enc_files)
    if not files:
        return _commit(out_dir, staged, [], columns, ddl, with_row_ids,
                       with_audit=True)
    out_types = ddl_arrow_types(ddl)
    out_schema = _out_schema(columns, ddl, with_row_ids)
    n_slices = num_slices or min(len(files), spark.sparkContext.defaultParallelism)
    # a JVM range over file indices, sliced contiguously: the same
    # file-per-task layout as repartitionByRange without its sampler
    # stage and exchange; tasks look the paths up in the closure (see
    # scan.py)
    plan = spark.range(0, len(files), 1, n_slices)
    col_set = list(dict.fromkeys(columns))
    _STAT_COLS = ["run_id", "part_id", "chunk_id", "column", "enc_bytes",
                  "stat_min", "stat_max", "stat_min_bin", "stat_max_bin"]

    def work(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.dataset as pads
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        w = _ShardWriter(staged, pid, out_schema, compression, row_group_rows)
        audit = {"groups_total": 0, "groups_decoded": 0,
                 "frame_bytes_total": 0, "frame_bytes_read": 0}

        def prune_keys(path, flt):
            """Zone-map pass over one file WITHOUT the frame column:
            returns the surviving (run_id, part_id, chunk_id) keys."""
            m = pads.dataset(path, format="parquet").to_table(
                columns=_STAT_COLS, filter=flt
            )
            keys = list(zip(m.column("run_id").to_pylist(),
                            m.column("part_id").to_pylist(),
                            m.column("chunk_id").to_pylist()))
            ebytes = m.column("enc_bytes").to_pylist()
            all_keys = set(keys)
            cols = m.column("column").to_pylist()
            keep = set()
            seen_pred = set()
            for j, c in enumerate(cols):
                if c != pred[0]:
                    continue
                seen_pred.add(keys[j])
                if _zone_keep(pred[1], pred[2],
                              m.column("stat_min")[j].as_py(),
                              m.column("stat_max")[j].as_py(),
                              m.column("stat_min_bin")[j].as_py(),
                              m.column("stat_max_bin")[j].as_py()):
                    keep.add(keys[j])
            if all_keys - seen_pred:
                # a group with no frame for the predicate column can't
                # be zone-checked; pruning it silently would turn a
                # typo'd/missing column into an empty (wrong) export
                # where the unpredicated decode would have raised
                raise ValueError(
                    f"predicate column {pred[0]!r} has no frames for "
                    f"{len(all_keys - seen_pred)} chunk group(s) in {path} "
                    f"— the table was not encoded with this column"
                )
            audit["groups_total"] += len(all_keys)
            audit["groups_decoded"] += len(keep)
            audit["frame_bytes_total"] += sum(ebytes)
            audit["frame_bytes_read"] += sum(
                e for k, e in zip(keys, ebytes) if k in keep
            )
            return keep

        def file_batches() -> Iterator[pa.RecordBatch]:
            for b in batches:
                for i in b.column("id").to_pylist():
                    path = files[i]
                    flt = pads.field("column").isin(col_set)
                    if table is not None:
                        flt = flt & (pads.field("table") == table)
                    if pred is not None:
                        keep = prune_keys(path, flt)
                        if not keep:
                            continue
                        # chunk_id pushdown skips pruned groups' frame
                        # pages; the exact key check below handles
                        # chunk_id collisions across (run, part).
                        # Bounded: a near-unpruned huge file would
                        # bloat the filter expression for no IO win —
                        # the exact check alone stays correct.
                        chunk_ids = sorted({k[2] for k in keep})
                        if len(chunk_ids) <= 4096:
                            flt = flt & pads.field("chunk_id").isin(chunk_ids)
                    t = pads.dataset(path, format="parquet").to_table(
                        columns=_META_COLS, filter=flt
                    )
                    if pred is not None:
                        mask = [
                            (r, p, c) in keep
                            for r, p, c in zip(
                                t.column("run_id").to_pylist(),
                                t.column("part_id").to_pylist(),
                                t.column("chunk_id").to_pylist(),
                            )
                        ]
                        t = t.filter(pa.array(mask))
                    # group contiguity within the file regardless of
                    # how the encode interleaved its emits
                    t = t.sort_by(
                        [("run_id", "ascending"), ("part_id", "ascending"),
                         ("chunk_id", "ascending")]
                    )
                    yield from t.to_batches()

        pred_idx = 2 + columns.index(pred[0]) if pred is not None else -1
        for rb in iter_decoded_groups(file_batches(), columns, out_types, verify_checksums):
            if pred is not None:
                rb = rb.filter(_row_mask(rb, pred_idx, pred[1], pred[2]))
                if rb.num_rows == 0:
                    continue
            w.add(rb if with_row_ids else _strip_ids(rb, len(columns), out_schema))
        shard = w.close()
        yield _meta_batch(pid, shard, audit)

    reported = plan.mapInArrow(work, _META_DDL).collect()
    return _commit(out_dir, staged, reported, columns, ddl, with_row_ids,
                   with_audit=True)


def decode_table_to_parquet(
    spark: SparkSession,
    root: str,
    columns: list[str],
    ddl: str,
    out_dir: str,
    table: str | None = None,
    **kwargs,
) -> dict:
    """Decode a COMMITTED EncodedTable (engine/manifest.py layout) to
    a decoded parquet directory with the no-shuffle file-unit path.

    Accepts ``predicate=(col, op, value)`` (see decode_files_to_parquet)
    to export only matching rows with zone-map chunk pruning — e.g.
    ``predicate=("split", "==", "train")`` after prepare_corpus."""
    from .manifest import EncodedTable

    t = EncodedTable(root)
    files = [
        os.path.join(t.data_dir, e["file"])
        for e in t.manifest_entries()
        if e["part_id"] == -1 and (table is None or e["table"] == table)
    ]
    return decode_files_to_parquet(
        spark, files, columns, ddl, out_dir, table=table, **kwargs
    )
