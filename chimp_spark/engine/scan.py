"""Bulk-ingest fast path: encode parquet row groups via direct Arrow
reads inside the workers.

The generic ``encode_dataframe`` path accepts any Spark plan, but pays
Spark's InternalRow -> Arrow conversion in mapInArrow — measured at
~80% of encode wall time for wide tables (the kernels are faster than
the transfer). For the bulk case "encode this parquet/Iceberg table",
that conversion is pure overhead: parquet is already columnar.

``encode_parquet`` distributes (file, row_group) work units as a JVM
``range`` over unit indices (the unit list rides in the task closure),
and each task reads its row groups straight into Arrow with
pyarrow.parquet (column pruning pushed down via ``columns=``), then
runs the same chunk kernels. Task granularity = row group, so a
1000-executor cluster load-balances a 100 TB table the same way this
box balances sf0.1. part_id is the work-unit index — stable across
cluster sizes, so lineage/resume keys don't depend on parallelism.

This is the idiomatic shape of a columnar bulk codec job: Spark
schedules + retries + commits; Arrow moves the bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .core import (DEFAULT_CHUNK_ROWS, ENC_ARROW_SCHEMA, ENC_DDL, encode_chunk_into,
                   encoded_frames)


def resolve_paths(paths: list[str] | str) -> list[str]:
    """Normalize a file / directory / list input to a sorted file list
    (the identity that positional unit ids are derived from)."""
    import glob as _glob
    import os

    if isinstance(paths, str):
        if os.path.isdir(paths):
            return sorted(_glob.glob(os.path.join(paths, "*.parquet")))
        return [paths]
    return sorted(paths)


def units_fingerprint(units: list[tuple]) -> str:
    """Identity of the (sorted file list, per-file row-group counts)
    a unit list was derived from. Unit ids are positional, so resume
    is only valid against the exact same file set — commits record
    this fingerprint and EncodedTable.completed_scan_units refuses to
    resume across a change (new crawl files, replaced files).

    Hashes only (path, rg) — the r6 4-tuple units (with row counts)
    fingerprint identically to the legacy 3-tuples, so tables
    committed by older code still resume."""
    import hashlib

    h = hashlib.sha256()
    for u in units:
        h.update(f"{u[1]}\x00{u[2]}\x1e".encode())
    return h.hexdigest()[:24]


def parquet_work_units(
    paths: list[str], spark: SparkSession | None = None
) -> list[tuple[int, str, int, int]]:
    """(unit_id, file, row_group, rg_rows) list for a set of parquet
    files. ``rg_rows`` feeds encode_parquet's oversized-row-group
    splitting; unit identity (and the resume fingerprint) remains
    (file, row_group).

    Footer reads are distributed as a Spark job once the file count is
    large (a 100 TB table is ~10^5 files — serial driver-side opens
    would take minutes); unit ids stay deterministic (sorted paths),
    so resume keys don't depend on where footers were read."""
    import pyarrow.parquet as pq

    def rg_rows(path: str) -> tuple[str, list[int]]:
        import pyarrow.parquet as _pq

        md = _pq.ParquetFile(path).metadata
        return path, [md.row_group(i).num_rows for i in range(md.num_row_groups)]

    ordered = sorted(paths)
    if spark is not None and len(ordered) > 64:
        sc = spark.sparkContext
        slices = min(len(ordered), sc.defaultParallelism * 4)
        counts = dict(sc.parallelize(ordered, slices).map(rg_rows).collect())
    else:
        counts = dict(rg_rows(p) for p in ordered)

    units: list[tuple[int, str, int, int]] = []
    uid = 0
    for path in ordered:
        for rg, nrows in enumerate(counts[path]):
            units.append((uid, path, rg, nrows))
            uid += 1
    return units


def encode_parquet(
    spark: SparkSession,
    paths: list[str] | str,
    columns: list[str] | None = None,
    codec: str | dict[str, str] = "auto",
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    table_name: str = "t",
    skip_part_ids: set[int] | None = None,
    units: list[tuple[int, str, int, int]] | list[tuple[int, str, int]] | None = None,
) -> DataFrame:
    """Encoded-chunk DataFrame, reading row groups directly via Arrow.

    ``skip_part_ids`` (unit ids already committed — see
    EncodedTable.completed_scan_units, which also validates the input
    file set against the committed fingerprint) enables resume at
    row-group granularity: unit ids are deterministic for a given file
    set. ``units`` accepts a precomputed parquet_work_units list of
    ``(unit_id, file, row_group, rg_rows)`` so callers that fingerprint
    the input don't pay the footer reads twice; legacy
    ``(unit_id, file, row_group)`` 3-tuples are still accepted and
    never split, since their row count is unknown."""
    from .. import _ship

    _ship.ensure(spark)
    import uuid

    run_id = uuid.uuid4().hex[:12]
    if units is None:
        units = parquet_work_units(resolve_paths(paths), spark)
    if skip_part_ids:
        units = [u for u in units if u[0] not in skip_part_ids]
    if not units:
        return spark.createDataFrame([], ENC_DDL)

    # oversized-row-group splitting: a whole-table parquet with one
    # giant row group (the q1 source shape) would otherwise encode on
    # ONE task. Split units into chunk_rows-ALIGNED row ranges — the
    # (part_id, chunk_id, row_start) lineage comes out identical to
    # the unsplit encode, so decode co-location and resume semantics
    # are unchanged. Only fires when units are scarce relative to the
    # cluster (a 100 TB table has >> 2x parallelism row groups and
    # never splits, so the k-fold row-group re-read amplification this
    # trades for parallelism cannot appear at scale).
    par = spark.sparkContext.defaultParallelism
    exec_units: list[tuple[int, str, int, int, int]] = []
    if len(units) < 2 * par and any(len(u) > 3 and (u[3] or 0) > chunk_rows for u in units):
        target = max(1, -(-2 * par // len(units)))  # sub-units per unit
        for u in units:
            uid, path, rg = u[0], u[1], u[2]
            nrows = u[3] if len(u) > 3 else None
            if not nrows or nrows <= chunk_rows:
                # unknown row count (legacy 3-tuple), empty, or single
                # chunk: encode the whole row group in one task
                exec_units.append((uid, path, rg, 0, -1))
                continue
            n_chunks = -(-nrows // chunk_rows)
            k = min(n_chunks, target)
            bounds = [n_chunks * j // k for j in range(k + 1)]
            for j in range(k):
                off = bounds[j] * chunk_rows
                ln = min(bounds[j + 1] * chunk_rows, nrows) - off
                if ln > 0:
                    exec_units.append((uid, path, rg, off, ln))
    else:
        exec_units = [(u[0], u[1], u[2], 0, -1) for u in units]

    n_slices = min(len(exec_units), spark.sparkContext.defaultParallelism * 2)
    # the plan is a JVM range over unit indices; tasks look the units
    # up in the closure (PySpark broadcasts a closure over 1 MB, as a
    # 10^5-unit list is). range slices [0, N) contiguously, so
    # consecutive row groups of the same file land in the same task in
    # order (footer parsed once per task, sequential reads) with
    # balanced unit counts, and no Python worker serves the plan's
    # input rows
    plan = spark.range(0, len(exec_units), 1, n_slices)

    codec_of = (lambda c: codec.get(c, "auto")) if isinstance(codec, dict) else (lambda c: codec)

    def work(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        pf_cache: dict[str, pq.ParquetFile] = {}  # footer parses once
        # per (task, file), not once per row group — a many-row-group
        # file would otherwise pay O(row_groups^2) metadata parsing

        rg_key = None
        rg_tbl = None
        for b in batches:
            for i in b.column("id").to_pylist():
                unit, path, rg, sub_off, sub_len = exec_units[i]
                # encode caches (FSST symbol tables) live for one work
                # unit, so its frames depend on the unit's rows alone,
                # never on what a reused worker encoded before
                col_caches: dict[str, dict] = {}
                pf = pf_cache.get(path)
                if pf is None:
                    if len(pf_cache) >= 16:  # bound open handles
                        pf_cache.clear()
                    pf = pf_cache[path] = pq.ParquetFile(path)
                if rg_key != (path, rg):  # consecutive sub-units of one
                    # row group share a task's decoded table
                    rg_tbl = pf.read_row_group(rg, columns=columns)
                    rg_key = (path, rg)
                if sub_len < 0:  # whole row group
                    tbl = rg_tbl
                else:
                    tbl = rg_tbl.slice(sub_off, sub_len)
                # lineage offsets make a split unit indistinguishable
                # from the unsplit encode: chunk ids/row starts are
                # absolute within the row group (sub_off is aligned)
                chunk_id = sub_off // chunk_rows
                row_start = sub_off
                for off in range(0, max(tbl.num_rows, 1), chunk_rows):
                    sl = tbl.slice(off, chunk_rows)
                    out: dict[str, list] = {k.name: [] for k in ENC_ARROW_SCHEMA}
                    for col in sl.column_names:
                        encode_chunk_into(
                            out, sl.column(col).combine_chunks(), col,
                            codec_of(col), col_caches.setdefault(col, {}),
                            table_name, run_id, unit, chunk_id, row_start,
                        )
                    chunk_id += 1
                    row_start += sl.num_rows
                    yield pa.RecordBatch.from_pydict(out, schema=ENC_ARROW_SCHEMA)

    return encoded_frames(plan, work)
