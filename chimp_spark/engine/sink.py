"""Task-side decode sinks: decoded values go straight from worker
tasks into parquet shards via pyarrow — never through Spark's
Arrow -> JVM row emit.

This is the read-side mirror of ``engine/scan.py``. The scan path
bypasses InternalRow -> Arrow on ENCODE (parquet is already columnar,
so Spark only schedules); these bypass Arrow -> JVM on DECODE. The
generic ``decode_table`` is right when decoded values feed further
Spark plan nodes (joins, aggregations, filters) — but a decode
*consumer* ("materialize this encoded table back to parquet for the
trainer") pays the JVM emit for nothing. Here only file metadata
returns through Spark.

- ``decode_to_parquet(encoded_df, ...)``: input is any frame
  DataFrame. ``core.group_tasks`` brings each chunk group whole to one
  task, as it does for ``decode_table``: fused into the tasks of an
  uncached encode output or ``EncodedTable.read``, in place over a
  persisted encode output, after one hash shuffle otherwise. Each task
  decodes its groups and writes a shard.
- ``decode_table_to_parquet(spark, root, ...)``: input is a COMMITTED
  EncodedTable. Chunk groups never span data files (the commit writes
  each group whole into one file), so tasks read their files straight
  with pyarrow (``manifest.read_frame_file``) — the mirror of scan.py's
  work-unit model, and the shape a 100 TB decode job runs in: every
  task streams encoded shards from the store and writes decoded shards
  back, nothing crosses the JVM but file indices and file metadata. A
  ``predicate`` prunes chunk groups by zone map before their frames
  are read.

Both run the group-decode core of engine/core.py (iter_decoded_groups
-> decode_group) and filter rows with the same core.Predicate.

Commit protocol (two-phase, task-retry safe): tasks write uniquely
named files under ``<out_dir>/_staged/`` and report them; the driver
renames exactly the files reported by SUCCESSFUL task attempts into
``out_dir`` (rename is atomic within a filesystem), deletes the
staging dir (orphans from failed/speculative attempts die there), and
writes a ``_decode_manifest.json`` (underscore-prefixed: directory
readers skip it). Same idea as Spark's v1 file committer, kept
adapter-thin; on an object store the rename step becomes a
put-if-absent log record (see engine/manifest.py).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from .core import FRAME_COLS, Predicate, ddl_arrow_types, group_tasks, iter_decoded_groups

_MANIFEST = "_decode_manifest.json"


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
    """The engine's one task-side parquet writer: one file per task,
    batches buffered to ``row_group_rows`` row groups, written with
    pyarrow. The decode sinks write decoded shards with it and
    ``EncodedTable.commit`` writes frame files. Attempt-unique file
    name — a retried/speculative attempt writes its own file and only
    the attempt whose report row Spark keeps gets committed.

    Flushes are ALSO byte-bounded: a row-count-only threshold would
    hold 2^20 rows of wide text (tens of GB of Arrow buffers) per
    task before the first write — an OOM the encode side never has
    because its chunks are byte-sized in practice."""

    MAX_BUFFER_BYTES = 256 << 20

    def __init__(self, directory: str, pid: int, schema: pa.Schema,
                 compression: str, row_group_rows: int):
        self.path = os.path.join(directory, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.parquet")
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


_AUDIT = ("groups_total", "groups_decoded", "frame_bytes_total", "frame_bytes_read")
_META_SCHEMA = pa.schema(
    [("spark_part", pa.int32()), ("path", pa.string()),
     ("rows", pa.int64()), ("bytes", pa.int64()), *((k, pa.int64()) for k in _AUDIT)]
)
_META_DDL = from_arrow_schema(_META_SCHEMA)


def _meta_batch(pid: int, shard: tuple[str, int, int] | None,
                audit: dict | None = None) -> pa.RecordBatch:
    path, rows, size = shard if shard is not None else (None, 0, 0)
    a = audit or {}
    return pa.RecordBatch.from_pydict(
        {"spark_part": [pid], "path": [path], "rows": [rows], "bytes": [size],
         **{k: [a.get(k, 0)] for k in _AUDIT}},
        schema=_META_SCHEMA,
    )


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
    audit = dict.fromkeys(_AUDIT, 0)
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


def _partition_id() -> int:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else 0


def _shard_writes(staged: str, columns: list[str], ddl: str, with_row_ids: bool,
                  compression: str, row_group_rows: int, verify_checksums: bool,
                  pred: Predicate | None):
    """The task body both sinks share: decode the frame rows' chunk
    groups, filter them exactly by ``pred``, write one shard. Returns
    ``write(pid, frame_batches) -> (path, rows, bytes) | None``."""
    out_types = ddl_arrow_types(ddl)
    schema = pa.schema(
        ([("part_id", pa.int32()), ("row_id", pa.int64())] if with_row_ids else [])
        + [(c, out_types[c]) for c in columns]
    )
    where = pred.row_expr(pred.col, out_types[pred.col]) if pred is not None else None

    def write(pid: int, batches: Iterator[pa.RecordBatch]) -> tuple[str, int, int] | None:
        w = _ShardWriter(staged, pid, schema, compression, row_group_rows)
        for rb in iter_decoded_groups(batches, columns, out_types, verify_checksums, where):
            w.add(rb if with_row_ids else
                  pa.RecordBatch.from_arrays(rb.columns[2:], schema=schema))
        return w.close()

    return write


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
    predicate: tuple | None = None,
) -> dict:
    """Decode ``columns`` of a frame DataFrame into a parquet
    directory: one shard per task.

    ``encoded`` may be any frame DataFrame: an encode's output (cached
    or not), ``EncodedTable.read`` (cached or not), or a filtered,
    repartitioned or user-built one. ``core.group_tasks`` brings each
    chunk group whole to one task: without a shuffle for an encode's
    output or an uncached ``read()``, after one hash shuffle of the
    compressed frames otherwise.

    Output schema: ``(part_id int32, row_id int64, *columns)`` (the
    alignment identity of the encode run) unless ``with_row_ids=False``
    strips the index columns. Each shard's rows are in encode order.

    ``predicate=(col, op, value)`` (see core.Predicate) exports only
    matching rows via an exact filter on the decoded values. No chunk
    pruning here: the committed-table sink, where stats ride with the
    files and pruning skips IO, is the split-export shape.

    Returns ``{"out_dir", "files", "rows", "bytes"}``. ``mode`` is
    ``"error"`` (refuse an existing non-empty out_dir) or
    ``"overwrite"``.
    """
    from .. import _ship

    _ship.ensure(encoded.sparkSession)
    pred = Predicate.of(predicate, columns)
    staged = _prepare_out_dir(out_dir, mode)
    write = _shard_writes(staged, columns, ddl, with_row_ids, compression,
                          row_group_rows, verify_checksums, pred)

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = _partition_id()
        shard = write(pid, batches)
        if shard is not None:
            yield _meta_batch(pid, shard)

    reported = group_tasks(encoded, task, _META_DDL, columns).collect()
    return _commit(out_dir, staged, reported, columns, ddl, with_row_ids)


_STAT_COLS = ["run_id", "part_id", "chunk_id", "column", "enc_bytes",
              "stat_min", "stat_max", "stat_min_bin", "stat_max_bin"]


def decode_table_to_parquet(
    spark: SparkSession,
    root: str,
    columns: list[str],
    ddl: str,
    out_dir: str,
    table: str | None = None,
    verify_checksums: bool = False,
    compression: str = "snappy",
    row_group_rows: int = 1 << 20,
    mode: str = "error",
    with_row_ids: bool = True,
    predicate: tuple | None = None,
) -> dict:
    """Decode a COMMITTED EncodedTable (engine/manifest.py layout) to a
    decoded parquet directory with NO shuffle: each task reads whole
    encoded data files with pyarrow, decodes, writes a decoded shard.
    Valid because a chunk group never spans data files: the commit
    writes each group whole into one file. Rows within a file may be in
    any order: ``manifest.read_frame_file`` sorts each file by
    (run_id, part_id, chunk_id) before group iteration (cheap: ~1
    frame row per 64 K values). The unit of work is the FILE, so
    parallelism == file count; encode jobs already write one file per
    task, which keeps the two jobs' granularities aligned.

    ``predicate=(col, op, value)`` (see core.Predicate) exports only
    matching rows — e.g. ``("split", "==", "train")`` after
    prepare_corpus. Two levels, both task-side:

    1. CHUNK PRUNE: a metadata-only pass per file (parquet is columnar
       — reading the key/stats/enc_bytes columns touches no frame
       payload pages) keeps the chunk groups whose zone map may match;
       survivors are re-read with a chunk_id pushdown filter, so pruned
       groups' payload bytes are never materialized. A layout that
       clusters the predicate column (sorted by split/lang) skips the
       bulk of the bytes; a hostile layout degrades to reading
       everything — never to wrong output.
    2. EXACT ROW FILTER on the decoded batches, so the result equals
       decode-everything-then-filter regardless of layout.

    The returned dict's ``audit`` records groups_total/groups_decoded
    and frame_bytes_total/frame_bytes_read, so callers can verify the
    prune skipped payload bytes.
    """
    from .. import _ship
    from .manifest import EncodedTable, file_plan, group_keys, read_frame_file

    _ship.ensure(spark)
    files = EncodedTable(root).data_files(table)
    pred = Predicate.of(predicate, columns)
    staged = _prepare_out_dir(out_dir, mode)
    if not files:
        return _commit(out_dir, staged, [], columns, ddl, with_row_ids,
                       with_audit=True)
    write = _shard_writes(staged, columns, ddl, with_row_ids, compression,
                          row_group_rows, verify_checksums, pred)
    col_set = list(dict.fromkeys(columns))
    zone = pred.zone_expr() if pred is not None else None

    def work(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        audit = dict.fromkeys(_AUDIT, 0)

        def prune_keys(path) -> set:
            """Zone-map pass over one file WITHOUT the frame column:
            returns the surviving (run_id, part_id, chunk_id) keys."""
            m = read_frame_file(path, _STAT_COLS, col_set, table)
            keys = group_keys(m)
            on_pred = m.filter(pc.field("column") == pred.col)
            unchecked = set(keys) - set(group_keys(on_pred))
            if unchecked:
                # a group with no frame for the predicate column can't
                # be zone-checked; pruning it silently would turn a
                # typo'd/missing column into an empty (wrong) export
                # where the unpredicated decode would have raised
                raise ValueError(
                    f"predicate column {pred.col!r} has no frames for "
                    f"{len(unchecked)} chunk group(s) in {path} "
                    f"— the table was not encoded with this column"
                )
            keep = set(group_keys(on_pred.filter(zone)))
            ebytes = m.column("enc_bytes").to_pylist()
            audit["groups_total"] += len(set(keys))
            audit["groups_decoded"] += len(keep)
            audit["frame_bytes_total"] += sum(ebytes)
            audit["frame_bytes_read"] += sum(
                e for k, e in zip(keys, ebytes) if k in keep
            )
            return keep

        def file_batches() -> Iterator[pa.RecordBatch]:
            for b in batches:
                for i in b.column("id").to_pylist():
                    keep = prune_keys(files[i]) if pred is not None else None
                    if keep is None or keep:
                        yield from read_frame_file(files[i], FRAME_COLS, col_set, table,
                                                   keep).to_batches()

        pid = _partition_id()
        shard = write(pid, file_batches())
        yield _meta_batch(pid, shard, audit)

    reported = file_plan(spark, len(files)).mapInArrow(work, _META_DDL).collect()
    return _commit(out_dir, staged, reported, columns, ddl, with_row_ids,
                   with_audit=True)
