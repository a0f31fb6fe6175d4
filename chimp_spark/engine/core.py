"""Spark orchestration: DataFrame -> encoded-chunk DataFrame -> back.

Architecture (SURVEY.md §3.2): the reference's rayon chunk model —
independent fixed-size chunks, fresh codec state per chunk, order
restored by chunk id (chimp.rs:154-165, 294-309) — maps to Spark as:

    scan (parquet/iceberg-style)            [Catalyst: pruning/pushdown]
      -> optional repartitionByRange/salt   [explicit skew control]
      -> mapInArrow(encode kernel)          [Arrow batches, zero pandas]
      -> encoded-chunk rows                 [one row per (column, chunk)]

``mapInArrow`` (not mapInPandas) is load-bearing: pandas coerces null
int64 to float64 and null doubles to NaN; Arrow record batches keep
exact types and validity bitmaps end to end, which the bit-identical
decode contract requires.

Every encoded row carries (table, column, part_id, chunk_id,
row_start, n, ...) so any subset of chunks decodes independently and
positions reconstruct without a global sort — the unit of parallelism
is also the unit of resume.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..framing import decode_chunk, encode_chunk

ENC_ARROW_SCHEMA = pa.schema(
    [
        ("table", pa.string()),
        ("run_id", pa.string()),
        ("column", pa.string()),
        ("part_id", pa.int32()),
        ("chunk_id", pa.int64()),
        ("row_start", pa.int64()),
        ("n", pa.int64()),
        ("n_valid", pa.int64()),
        ("codec", pa.string()),
        ("dtype", pa.string()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("checksum", pa.int64()),
        ("encode_ns", pa.int64()),
        ("stat_min", pa.float64()),
        ("stat_max", pa.float64()),
        ("stat_min_bin", pa.binary()),
        ("stat_max_bin", pa.binary()),
        ("reason", pa.string()),
        ("frame", pa.binary()),
    ]
)
# the Spark schema of frame rows, built in Python: a DDL string would
# cost a JVM parse wherever it is used
ENC_DDL = from_arrow_schema(ENC_ARROW_SCHEMA)

DEFAULT_CHUNK_ROWS = 65_536

# the attribute under which a frame DataFrame records its FrameSource,
# so group_tasks can run a task body in the tasks that produce the frames
FRAME_SOURCE = "_frame_source"

# a chunk group's identity: its frames (one per column) decode together
GROUP_KEY = ["run_id", "part_id", "chunk_id"]


class FrameSource(NamedTuple):
    """``plan.mapInArrow(work)`` yields a frame DataFrame's rows, each
    chunk group whole and contiguous within one task. ``grouped``: the
    DataFrame is that mapInArrow itself (an encode's output), so its own
    partitions hold whole groups too, cached or not (a cache keeps
    partitions and their row order); ``EncodedTable.read``'s JVM scan
    may split a file's groups across partitions. ``narrow``, when set,
    returns the source of only the frames a decode of the given columns
    can use (``EncodedTable.read``: the files of the commits that hold
    one of them)."""

    plan: DataFrame
    work: Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]
    grouped: bool
    narrow: Callable[[list[str]], FrameSource] | None = None


def encoded_frames(plan: DataFrame, work) -> DataFrame:
    """``plan.mapInArrow(work, ENC_DDL)``, recording its FrameSource."""
    out = plan.mapInArrow(work, ENC_DDL)
    setattr(out, FRAME_SOURCE, FrameSource(plan, work, True))
    return out


def session_conf(chunk_rows: int = DEFAULT_CHUNK_ROWS) -> dict[str, str]:
    """The engine's Spark SQL settings — one set for get_spark and
    every spark-submit job, so production runs the config the bench
    measures. Master, memory, GC and UI settings are deployment
    choices and stay out of it."""
    import os

    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE targets max(total/parallelism, minPartitionSize) per
        # coalesced partition (parallelismFirst). The decode exchange
        # moves COMPRESSED frames that expand ~6x and pay heavy CPU per
        # byte, so the 1m default min under-parallelizes small inputs
        # (19 of 32 cores at sf0.1). 256k only affects jobs whose
        # per-core share is < 1m — at scale total/parallelism dominates
        # and behavior is identical.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(chunk_rows),
        # Spark 4's 64m default makes BatchedPythonArrowInput walk the
        # whole Arrow struct vector after EVERY appended row; on a wide
        # table that walk costs ~10x the row conversion itself
        # (measured: a mapInArrow passthrough over cached lineitem
        # dropped 2.05s -> 0.84s at local[32] without it). Int.MaxValue
        # restores the Spark 3.x contract: batches bounded by
        # maxRecordsPerBatch rows. Deployments with very large binary
        # rows can re-cap via CHIMP_SPARK_ARROW_MAX_BYTES.
        "spark.sql.execution.arrow.maxBytesPerBatch":
            os.environ.get("CHIMP_SPARK_ARROW_MAX_BYTES", str(2**31 - 1)),
        "spark.sql.files.maxPartitionBytes": "128m",
    }


def get_spark(
    cpus: int | str = "*",
    shuffle_partitions: int | None = None,
    app: str = "chimp_spark",
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    driver_memory: str = "24g",
) -> SparkSession:
    """Session at local[N] with the engine's session_conf."""
    n = 32 if cpus == "*" else int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config(map=session_conf(chunk_rows))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
    )
    return builder.getOrCreate()


def encode_chunk_into(out: dict, arr: pa.Array, col: str, codec: str,
                      cache: dict, table_name: str, run_id: str,
                      part_id: int, chunk_id: int, row_start: int) -> None:
    """Encode one column chunk and append its full lineage row to an
    ENC_ARROW_SCHEMA column dict. The ONE place the encoded-row shape
    lives: both ingest kernels (the DataFrame path below and the scan
    path in scan.py) call it, so a schema change cannot silently
    drift between the two paths."""
    import time as _time

    t0 = _time.perf_counter_ns()
    try:
        blob, meta = encode_chunk(arr, codec=codec, cache=cache)
    except TypeError as e:
        raise TypeError(f"column '{col}': {e}") from e
    out["encode_ns"].append(_time.perf_counter_ns() - t0)
    out["table"].append(table_name)
    out["run_id"].append(run_id)
    out["column"].append(col)
    out["part_id"].append(part_id)
    out["chunk_id"].append(chunk_id)
    out["row_start"].append(row_start)
    out["n"].append(meta.n)
    out["n_valid"].append(meta.n_valid)
    out["codec"].append(meta.codec)
    out["dtype"].append(meta.dtype)
    out["raw_bytes"].append(meta.raw_bytes)
    out["enc_bytes"].append(meta.enc_bytes)
    out["checksum"].append(meta.checksum)
    out["stat_min"].append(meta.stat_min)
    out["stat_max"].append(meta.stat_max)
    out["stat_min_bin"].append(meta.stat_min_bin)
    out["stat_max_bin"].append(meta.stat_max_bin)
    out["reason"].append(meta.reason)
    out["frame"].append(blob)


def encode_dataframe(
    df: DataFrame,
    columns: list[str] | None = None,
    codec: str | dict[str, str] = "auto",
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    table_name: str = "t",
) -> DataFrame:
    """Encode selected columns into chunk frames.

    One pass over the input: each task slices its partition into
    ``chunk_rows`` chunks and emits one encoded row per (column,
    chunk). Narrow (no shuffle) — partitioning/skew policy is applied
    by the caller *before* this (see partitioning.py), so the encode
    plan composes with whatever layout the table needs.
    """
    from .. import _ship

    _ship.ensure(df.sparkSession)
    import uuid

    cols = columns or df.columns
    src = df.select(*cols)
    run_id = uuid.uuid4().hex[:12]  # chunk identity discriminator:
    # (run_id, part_id, chunk_id) stays unique across commits/epochs

    codec_of = (lambda c: codec.get(c, "auto")) if isinstance(codec, dict) else (lambda c: codec)
    codec_map = {c: codec_of(c) for c in cols}

    def encode_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        state = {"chunk_id": 0, "row_start": 0}
        # encode caches (FSST symbol tables) live for one task, so its
        # frames depend on the partition's rows alone, never on what a
        # reused worker encoded before
        col_caches: dict[str, dict] = {c: {} for c in cols}

        def flush(tbl: pa.Table) -> pa.RecordBatch:
            out: dict[str, list] = {k.name: [] for k in ENC_ARROW_SCHEMA}
            for col in tbl.column_names:
                encode_chunk_into(
                    out, tbl.column(col).combine_chunks(), col,
                    codec_map[col], col_caches[col], table_name, run_id,
                    pid, state["chunk_id"], state["row_start"],
                )
            state["chunk_id"] += 1
            state["row_start"] += tbl.num_rows
            return pa.RecordBatch.from_pydict(out, schema=ENC_ARROW_SCHEMA)

        pending: list[pa.RecordBatch] = []
        buffered = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            pending.append(batch)
            buffered += batch.num_rows
            while buffered >= chunk_rows:
                tbl = pa.Table.from_batches(pending)
                yield flush(tbl.slice(0, chunk_rows))
                rest = tbl.slice(chunk_rows)
                pending = rest.to_batches() if rest.num_rows else []
                buffered = rest.num_rows
        if buffered:
            yield flush(pa.Table.from_batches(pending))

    return encoded_frames(src, encode_iter)


class Predicate(NamedTuple):
    """One row predicate ``(col, op, payload)``: ``(col, "==", v)``,
    ``(col, "in", [v, ...])``, ``(col, "<=", v)``, ``(col, ">=", v)``
    or ``(col, "between", (lo, hi))``.

    Zone maps prune with the predicate's [lo, hi] envelope ('in' takes
    the min..max hull), rendered as a Spark Column (``zone_column``)
    or a pyarrow Expression (``zone_expr``) over a frame row's stats:
    numeric payloads check stat_min/stat_max, string/bytes payloads
    the 16-byte truncated binary bounds (min is a prefix -> valid
    lower bound; max is truncate-and-increment -> valid upper bound).
    A chunk is kept when every bound it needs is null (unknown) or
    overlaps. Pruning is conservative, so exactness comes from
    ``row_expr``, the filter on decoded values."""

    col: str
    op: str
    payload: Any

    @classmethod
    def of(cls, predicate: tuple | None, columns: list[str]) -> Predicate | None:
        """Validate a ``(col, op, payload)`` tuple. The column must be
        among the decoded ``columns``: the exact filter needs its
        values."""
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
        return cls(col, op, payload)

    def _envelope(self) -> tuple[Any, Any, tuple[str, str]]:
        """[lo, hi] of the matching values (None = unbounded) and the
        (min, max) stats columns that bound them."""
        op, p = self.op, self.payload
        if op == "==":
            lo, hi = p, p
        elif op == "in":
            lo, hi = min(p), max(p)
        elif op == "<=":
            lo, hi = None, p
        elif op == ">=":
            lo, hi = p, None
        else:
            lo, hi = p
        if not isinstance(lo if lo is not None else hi, (str, bytes)):
            return lo, hi, ("stat_min", "stat_max")
        lo, hi = (v.encode() if isinstance(v, str) else v for v in (lo, hi))
        return lo, hi, ("stat_min_bin", "stat_max_bin")

    def _zone(self, field, lit, is_null):
        lo, hi, (smin, smax) = self._envelope()
        keep = []
        if lo is not None:
            keep.append(is_null(field(smax)) | (field(smax) >= lit(lo)))
        if hi is not None:
            keep.append(is_null(field(smin)) | (field(smin) <= lit(hi)))
        return keep[0] if len(keep) == 1 else keep[0] & keep[1]

    def zone_column(self, frame_columns: list[str]) -> Column:
        """Spark rendering of the zone check. Tables written before
        string zone maps existed (no stat_max_bin) keep every chunk."""
        if self._envelope()[2][1] not in frame_columns:
            return F.lit(True)
        return self._zone(F.col, F.lit, lambda c: c.isNull())

    def zone_expr(self) -> pc.Expression:
        """pyarrow rendering of the zone check, for a stats table."""
        return self._zone(pc.field, pa.scalar, lambda e: e.is_null())

    def row_expr(self, name: str, value_type: pa.DataType) -> pc.Expression:
        """Exact filter on decoded values in column ``name``; a null
        value never matches (SQL WHERE semantics)."""
        v, op, p = pc.field(name), self.op, self.payload
        if op == "==":
            return v == p
        if op == "in":
            return v.isin(pa.array(list(p), value_type))
        if op == "<=":
            return v <= p
        if op == ">=":
            return v >= p
        return (v >= p[0]) & (v <= p[1])


# the frame-row columns the group decode reads
FRAME_COLS = ["run_id", "part_id", "chunk_id", "row_start", "column", "checksum", "frame"]


def decode_group(
    frames: dict[str, memoryview],
    sums: dict[str, int],
    types: dict[str, pa.DataType],
    part_id: int,
    row_start: int,
    verify_checksums: bool = False,
    where: pc.Expression | None = None,
) -> Iterator[pa.RecordBatch]:
    """Decode one chunk group — one frame per column of ``types``,
    each with fresh codec state, like the reference's per-chunk decode
    — into ``(part_id, row_id, *columns)`` batches, keeping only the
    rows that match ``where``. The per-group step of every decode
    path."""
    from ..framing import checksum_of

    arrs = []
    for c, t in types.items():
        raw = decode_chunk(frames[c])
        if verify_checksums and checksum_of(raw) != sums[c]:
            raise ValueError(f"checksum mismatch: col={c} part={part_id} row_start={row_start}")
        arrs.append(_cast_to(raw, t))
    n = len(arrs[0])
    rb = pa.RecordBatch.from_arrays(
        [pa.array(np.full(n, part_id, dtype=np.int32)),
         pa.array(row_start + np.arange(n, dtype=np.int64)), *arrs],
        names=["part_id", "row_id", *types],
    )
    if where is None:
        yield rb
        return
    # RecordBatch.filter takes no Expression; Table.filter does
    for b in pa.Table.from_batches([rb]).filter(where).to_batches():
        if b.num_rows:
            yield b


def decode_column(
    encoded: DataFrame, column: str, value_ddl: str, table: str | None = None,
    verify_checksums: bool = False, predicate: tuple | None = None,
) -> DataFrame:
    """Decode one column's frames -> (part_id, row_id, value).

    ``row_id = row_start + offset`` is stable per encode run, so two
    decoded columns of the same run align on (part_id, row_id) without
    any global sort. ``value_ddl`` is the Spark type of the value
    column, e.g. ``"double"``. ``predicate=(column, op, payload)`` (see
    Predicate) skips chunks by zone map and returns only matching rows.
    """
    from .. import _ship

    _ship.ensure(encoded.sparkSession)
    pred = Predicate.of(predicate, [column])
    sel = encoded.filter(F.col("column") == column)
    if table is not None:
        sel = sel.filter(F.col("table") == table)
    if pred is not None:
        sel = sel.filter(pred.zone_column(encoded.columns))
    sel = sel.select("part_id", "row_start", "checksum", "frame")
    out_schema, types = _decoded_schema(f"value {value_ddl}")
    where = pred.row_expr("value", types["value"]) if pred is not None else None

    def dec_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            pids = b.column("part_id").to_pylist()
            starts = b.column("row_start").to_pylist()
            sums = b.column("checksum").to_pylist()
            frames = b.column("frame")
            for i in range(b.num_rows):
                # every frame row is a group of one; as_buffer() is a
                # zero-copy view into the arrow batch
                yield from decode_group(
                    {"value": memoryview(frames[i].as_buffer())}, {"value": sums[i]},
                    types, pids[i], starts[i], verify_checksums, where,
                )

    return sel.mapInArrow(dec_iter, out_schema)


def _cast_to(arr: pa.Array, t: pa.DataType) -> pa.Array:
    return arr if arr.type == t else arr.cast(t)


def _parse_ddl(ddl: str) -> tuple[StructType, dict[str, pa.DataType]]:
    """A ``"name type, ..."`` DDL as a StructType and the Arrow type of
    each field, from one JVM round trip. Parsed per call, never cached:
    ``timestamp`` resolves through the session's
    ``spark.sql.timestampType``."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    return schema, {f.name: to_arrow_type(f.dataType) for f in schema.fields}


def ddl_arrow_types(ddl: str) -> dict[str, pa.DataType]:
    """The Arrow type of each field of a ``"name type, ..."`` DDL."""
    return _parse_ddl(ddl)[1]


def _decoded_schema(ddl: str) -> tuple[StructType, dict[str, pa.DataType]]:
    """A decode's output schema, ``(part_id int, row_id long, *ddl)``,
    and the Arrow type of each ``ddl`` field."""
    schema, types = _parse_ddl(ddl)
    ids = [StructField("part_id", IntegerType()), StructField("row_id", LongType())]
    return StructType(ids + schema.fields), types


def frame_column_filter(columns: list[str]) -> Column:
    """``column IN columns`` over frame rows, as one SQL expression the
    JVM parses in one call: Column builders cost several round trips a
    name. Each name travels as a hex literal, so no quoting or escaping
    rule of the SQL parser can change it."""
    names = ", ".join(f"cast(X'{c.encode().hex()}' as string)" for c in columns)
    return F.expr(f"`column` IN ({names})")


def group_tasks(
    df: DataFrame,
    body: Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]],
    schema: StructType,
    columns: list[str] | None = None,
) -> DataFrame:
    """``mapInArrow(body, schema)`` over ``df``'s frame rows, each chunk
    group whole and contiguous within one task. The one place that
    decides how groups reach a task; every decode and commit asks it.

    * fused: ``df`` is uncached and records a FrameSource. ``body`` runs
      in the tasks that produce the frames (over ``narrow(columns)``
      when the source has it): one stage, no exchange.
    * in place: ``df`` is an encode's own output, persisted. Its
      partitions already hold whole groups: no exchange, no sort.
    * shuffled: anything else (a cached ``read()``, a filtered,
      repartitioned or user-built DataFrame) is hash-partitioned by
      GROUP_KEY and sorted within each partition by it.

    ``body`` gets whole frame rows and must skip frames of columns it
    does not read. ``columns``, when given, names the ones it reads: a
    fused source narrows to their files and the shuffle moves only
    their frames. None (a commit) keeps every frame."""
    source = vars(df).get(FRAME_SOURCE)
    if source is not None and df.storageLevel == StorageLevel.NONE:
        if columns is not None and source.narrow is not None:
            source = source.narrow(columns)
        work = source.work
        return source.plan.mapInArrow(lambda it: body(work(it)), schema)
    if source is None or not source.grouped:
        if columns is not None:
            df = df.filter(frame_column_filter(columns))
        # resolved on df: a name costs several JVM round trips. Each
        # plan node costs a JVM analysis (~5 ms at 4 vCPU), so the
        # shuffle moves whole frame rows rather than add a projection
        key = [df[k] for k in GROUP_KEY]
        df = df.repartition(*key).sortWithinPartitions(*key)
    return df.mapInArrow(body, schema)


def iter_decoded_groups(
    batches: Iterator[pa.RecordBatch],
    columns: list[str],
    out_types: dict[str, pa.DataType],
    verify_checksums: bool = False,
    where: pc.Expression | None = None,
) -> Iterator[pa.RecordBatch]:
    """Worker-side decode of frame rows whose chunk groups arrive whole
    and contiguous: decode_group per (run_id, part_id, chunk_id)
    group. Frames of other columns are skipped, so a group holding none
    of ``columns`` (another table's) yields nothing. Shared by
    decode_table and both parquet sinks."""
    types = {c: out_types[c] for c in columns}
    group_key: tuple[str, int, int] | None = None
    group: dict[str, memoryview] = {}
    sums: dict[str, int] = {}
    row_start = 0

    def emit() -> Iterator[pa.RecordBatch]:
        missing = [c for c in columns if c not in group]
        if missing:
            raise ValueError(
                f"chunk (run={group_key[0]}, part={group_key[1]}) lacks columns "
                f"{missing}: a chunk group decodes only with a frame for every "
                f"requested column. Either a committed file splits this group (a "
                f"root committed before commits kept each group in one file: "
                f"decode read().select(\"*\"), which co-locates its groups with "
                f"one shuffle, or re-encode it), or the columns were not all "
                f"encoded in one run (decode each run's columns and join on "
                f"(part_id, row_id))"
            )
        return decode_group(group, sums, types, group_key[1], row_start,
                            verify_checksums, where)

    for b in batches:
        # batch-decode the metadata columns once: per-element arrow
        # __getitem__/.as_py() costs ~3 us a call, which at 100 TB
        # scale (millions of frame rows per task) is minutes of pure
        # object churn; frames stay zero-copy via as_buffer()
        run_ids = b.column("run_id").to_pylist()
        part_ids = b.column("part_id").to_pylist()
        chunk_ids = b.column("chunk_id").to_pylist()
        row_starts = b.column("row_start").to_pylist()
        col_names = b.column("column").to_pylist()
        checksums = b.column("checksum").to_pylist()
        frames = b.column("frame")
        for i in range(b.num_rows):
            col = col_names[i]
            if col not in types:
                continue
            key = (run_ids[i], part_ids[i], chunk_ids[i])
            if key != group_key and group:
                yield from emit()
                group, sums = {}, {}
            group_key = key
            row_start = row_starts[i]
            # zero-copy: the arrow buffer stays alive via refcount
            group[col] = memoryview(frames[i].as_buffer())
            sums[col] = checksums[i]
    if group:
        yield from emit()


def decode_table(
    encoded: DataFrame, columns: list[str], ddl: str,
    verify_checksums: bool = False,
) -> DataFrame:
    """Decode several columns back into aligned rows.

    Each chunk group's frames (one per column) decode into a single
    output batch, so a group must reach one task whole: ``group_tasks``
    decides how (fused into the tasks of an uncached encode output or
    ``EncodedTable.read``, over only the files of commits that hold one
    of ``columns``; in place over a persisted encode output; otherwise
    after one hash shuffle of compressed frames). ``ddl`` gives the
    decoded column types, e.g. ``"l_orderkey long, l_extendedprice
    double"``.

    This path emits decoded VALUES through Spark (Arrow -> JVM rows) —
    right when the values feed further Spark plan nodes (joins, aggs).
    A consumer that just needs decoded files should use
    ``sink.decode_to_parquet``, which writes shards straight from the
    tasks and never pays the JVM emit.
    """
    from .. import _ship

    _ship.ensure(encoded.sparkSession)
    out_schema, out_types = _decoded_schema(ddl)

    def dec_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from iter_decoded_groups(batches, columns, out_types, verify_checksums)

    return group_tasks(encoded, dec_iter, out_schema, columns)


def verify_table(
    source: DataFrame, encoded: DataFrame, columns: list[str], ddl: str,
    table: str | None = None,
) -> dict:
    """Round-trip audit: decode ``columns`` from ``encoded`` (frame
    checksums verified — THE bit-level guard, crc32 over exact value
    bits per chunk) and multiset-compare against ``source`` (exceptAll
    both ways, so duplicates count). Returns {'rows', 'missing',
    'extra'} — all-zero mismatches == lossless. ``table`` filters a
    multi-table EncodedTable to the audited one.

    Spark's comparison normalizes floats (-0.0 == 0.0, all NaN equal),
    so float/double columns are compared through a string cast, which
    distinguishes -0.0 from 0.0; NaN PAYLOAD bits are covered by the
    frame checksums, not this row comparison."""
    from pyspark.sql.types import DoubleType, FloatType

    enc = encoded if table is None else encoded.filter(F.col("table") == table)
    dec = decode_table(enc, columns, ddl, verify_checksums=True).persist()
    try:
        rows = dec.count()  # materializes once; except-counts reuse it

        def canon(df: DataFrame) -> DataFrame:
            floaty = {
                f.name for f in df.select(*columns).schema.fields
                if isinstance(f.dataType, (DoubleType, FloatType))
            }
            return df.select(
                *[
                    F.col(c).cast("string").alias(c) if c in floaty else F.col(c)
                    for c in columns
                ]
            )

        lhs = canon(source)
        rhs = canon(dec)
        return {
            "rows": rows,
            "missing": lhs.exceptAll(rhs).count(),
            "extra": rhs.exceptAll(lhs).count(),
        }
    finally:
        dec.unpersist()


def compression_summary(encoded: DataFrame) -> DataFrame:
    """Per-(table, column, codec) ratio/throughput accounting — the
    engine-side analogue of the reference's printed metrics
    (main.rs:169-178)."""
    return (
        encoded.groupBy("table", "column", "codec")
        .agg(
            F.count("*").alias("chunks"),
            F.sum("n").alias("values"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.sum("encode_ns").alias("encode_ns"),
        )
        .withColumn(
            "kernel_gbps",
            F.col("raw_bytes") / F.greatest(F.col("encode_ns"), F.lit(1)),
        )
        .withColumn(
            "bits_per_value", F.col("enc_bytes") * 8.0 / F.greatest(F.col("values"), F.lit(1))
        )
        .withColumn(
            "ratio", F.col("raw_bytes") / F.greatest(F.col("enc_bytes"), F.lit(1))
        )
        .orderBy("table", "column")
    )
