"""Encoded tables: parquet data files plus an append-only commit log.

    <root>/data/<run_id>/part-*.parquet   encoded-chunk rows of one commit
    <root>/_log/<N:08d>.json              commit record N (N = 1, 2, ...)

``Log`` is the one commit log of the package: ``EncodedTable`` commits
through it here, and ``ops.ann_index`` links its build and append
records through it the same way.

A record is immutable and self-contained: ``{table, mode, epoch,
fingerprint, layout_parts, run_id, timestamp_ms, part_ids, columns,
files, summary}`` (``columns``: the encoded columns its files hold;
records written before it existed lack it). The table is the set of
records; every query replays the log once and only files a record
names are visible.

Commit (the Delta Lake protocol: writers write their own data files, a
commit appends one record listing them): one Spark job whose tasks
write their frame rows with pyarrow into a fresh ``data/<run_id>/``,
each under an attempt-unique name, and report one small row (file,
part ids, columns, chunk, row and byte totals). Each chunk group lands
whole in one file, so a task can decode any file on its own. The
record is built from the reported rows alone, which only successful
task attempts deliver: the file of a failed or speculative attempt is
never named, and the driver deletes every file in the run directory
that no row reported before it appends the record. The record is
appended put-if-absent: it is written to a temp file in ``_log/`` and
``os.link``-ed to the next number. A link onto an existing name fails,
so a writer that lost the race takes the next number. No record
depends on earlier ones, so the retry is always correct and two
concurrent writers both land.

A crash before the link leaves a ``data/<run_id>/`` directory (and
perhaps a temp record) that no record names: reads never see it, and
the next run's resume re-encodes those part ids. Once the link exists
the commit is complete. A root in the older ``metadata/`` layout is
refused; re-encode it into a fresh root.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .core import ENC_ARROW_SCHEMA, ENC_DDL, FRAME_SOURCE, GROUP_KEY, FrameSource, group_tasks
from .sink import _partition_id, _ShardWriter


class Log:
    """An append-only directory of immutable JSON records, each at
    ``<N:08d>.json`` (N = 1, 2, ...). ``refuse_old`` runs when the
    directory is missing, so a caller can refuse a root in an older
    layout before reading it as empty."""

    def __init__(self, directory: str, refuse_old: Callable[[], None] | None = None):
        self.dir = directory
        self._refuse_old = refuse_old

    def versions(self) -> list[int]:
        if not os.path.isdir(self.dir):
            if self._refuse_old is not None:
                self._refuse_old()
            return []
        return sorted(int(n[:-5]) for n in os.listdir(self.dir)
                      if n.endswith(".json") and n[:-5].isdigit())

    def path(self, version: int) -> str:
        return os.path.join(self.dir, f"{version:08d}.json")

    def records(self) -> list[dict]:
        records = []
        for v in self.versions():
            with open(self.path(v)) as f:
                records.append(json.load(f))
        return records

    def append(self, record: dict, version: int | None = None) -> int:
        """Link ``record`` to the first free number at or after
        ``version`` (default: the next one) and return that number."""
        if version is None:
            version = self.current_version() + 1
        os.makedirs(self.dir, exist_ok=True)
        tmp = os.path.join(self.dir, f".{record['run_id']}.tmp")
        with open(tmp, "w") as f:
            json.dump(record, f)
        try:
            while True:
                try:
                    os.link(tmp, self.path(version))
                    return version
                except FileExistsError:
                    version += 1
        finally:
            os.unlink(tmp)

    def current_version(self) -> int:
        return max(self.versions(), default=0)


class EncodedTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.log = Log(os.path.join(root, "_log"), self._refuse_old_layout)

    def _refuse_old_layout(self) -> None:
        if os.path.exists(os.path.join(self.root, "metadata", "version-hint.text")):
            raise ValueError(
                f"{self.root} holds an encoded table in the old metadata/ "
                "layout (version-hint + manifests), which is no longer "
                "read. Re-encode it into a fresh root.")

    def _records(self, table: str | None = None) -> list[dict]:
        return [r for r in self.log.records() if table is None or r["table"] == table]

    # -- queries -------------------------------------------------------------

    def completed_part_ids(self, table: str, mode: str | None = None) -> set[int]:
        """Batch-resume partition ids. Streaming commits (epoch set)
        are EXCLUDED: their part_ids restart at 0 each micro-batch and
        must not mask unencoded batch source partitions on a mixed
        streaming+batch table (streaming dedupe uses committed_epochs).

        ``mode`` filters to one part-id namespace: DataFrame-path ids
        are Spark partition ids ('df') while scan-path ids are
        row-group unit indices ('scan') — resuming one from the
        other's commits would silently skip unrelated data. mode=None
        returns every batch commit's ids. A commit made without a mode
        counts for NO mode-specific query: its namespace is unknown, so
        treating it as completed would let a scan resume skip unit ids
        that collide with DataFrame partition ids — silently dropping
        never-encoded row groups. Such tables re-encode (duplication),
        the lesser failure; the engine's own commits always carry a
        mode."""
        return {p for r in _batch(self._records(table), mode) for p in r["part_ids"]}

    def completed_scan_units(self, table: str, fingerprint: str) -> set[int]:
        """Scan-path resume with input-identity validation.

        Scan unit ids are POSITIONAL over the sorted input file list
        and per-file row-group counts; if the input directory changed
        between runs (files added/replaced), committed ids map to
        different row groups and a blind resume silently skips
        never-encoded data. Every scan commit records the file-set
        fingerprint (see scan.units_fingerprint); resume REFUSES when
        any committed scan commit carries a different or missing one.
        """
        scans = _batch(self._records(table), "scan")
        stale = sorted({str(r["fingerprint"]) for r in scans
                        if r["fingerprint"] != fingerprint})
        if stale:
            raise ValueError(
                f"scan resume refused for table '{table}': committed scan "
                f"commits were encoded from a different input file set "
                f"(fingerprint {stale} != {fingerprint!r}). "
                "The positional unit ids no longer identify the same row "
                "groups. Encode into a fresh table root, or rerun with "
                "resume disabled to append a full re-encode."
            )
        return {p for r in scans for p in r["part_ids"]}

    def data_files(self, table: str | None = None) -> list[str]:
        """Committed data file paths, in commit order."""
        return self._files(self._records(table))

    def committed_epochs(self, table: str) -> set[int]:
        return {r["epoch"] for r in self._records(table) if r["epoch"] is not None}

    def df_layout_parts(self, table: str) -> set[int]:
        """Partition counts of the layouts previous df-mode commits
        were stamped from (see encode_and_commit's resume guard)."""
        return {r["layout_parts"] for r in _df_commits(self._records(table))
                if r["layout_parts"] is not None}

    # -- commit / read -------------------------------------------------------

    def commit(self, spark: SparkSession, encoded: DataFrame, table: str,
               epoch: int | None = None, mode: str | None = None,
               fingerprint: str | None = None,
               layout_parts: int | None = None) -> dict:
        """Write encoded chunks as parquet data files and append their
        commit record. ``fingerprint`` (scan mode) records the input
        file-set identity the positional unit ids were derived from —
        see completed_scan_units. Returns {version, files, partitions,
        summary}; ``summary`` (the totals) is also in the record.

        One Spark job whose tasks write their frames into
        ``data/<run_id>/`` and report their file. ``core.group_tasks``
        places the writer: inside the tasks that produce the frames for
        an uncached encode output or ``read()`` (fused), over the
        partitions of a persisted encode output, or after one hash
        exchange by (run_id, part_id, chunk_id) for any other input.
        Either way every chunk group lands whole in one file, which
        ``read``'s fused decode and ``decode_table_to_parquet`` rely on.
        The record names exactly the reported files; any other file
        there (a failed or speculative attempt's) is deleted."""
        from .. import _ship

        _ship.ensure(spark)
        version = self.log.current_version() + 1  # refuses an old layout before writing
        run_id = uuid.uuid4().hex[:12]
        out = os.path.join(self.data_dir, run_id)
        os.makedirs(out, exist_ok=True)
        reported = group_tasks(encoded, _frame_writer(out), _REPORT_DDL).collect()
        files = {r["file"] for r in reported}
        for name in os.listdir(out):
            if name not in files:
                os.unlink(os.path.join(out, name))
        record = {
            "table": table, "mode": mode, "epoch": epoch,
            "fingerprint": fingerprint, "layout_parts": layout_parts,
            "run_id": run_id, "timestamp_ms": int(time.time() * 1000),
            "part_ids": sorted({p for r in reported for p in r["part_ids"]}),
            "columns": sorted({c for r in reported for c in r["columns"]}),
            "files": sorted(f"{run_id}/{f}" for f in files),
            "summary": {k: sum(r[k] for r in reported) for k in _TOTALS},
        }
        return {"version": self.log.append(record, version), "files": len(record["files"]),
                "partitions": len(record["part_ids"]), "summary": record["summary"]}

    def read(self, spark: SparkSession) -> DataFrame:
        """Every committed frame row, as a JVM parquet scan (so queries
        over the lineage columns prune and push down; the declared
        schema spares a footer-reading inference job). It records a
        FrameSource that reads the same files task-side, whole files
        per task, so a decode or commit of the uncached result runs
        fused (see core.group_tasks); a decode's source plans only the
        files of the commits that hold one of its columns."""
        records = self._records()
        files = self._files(records)
        if not files:
            return spark.createDataFrame([], ENC_DDL)
        scan = spark.read.schema(ENC_DDL).parquet(*files)
        setattr(scan, FRAME_SOURCE, self._file_source(spark, records))
        return scan

    def _files(self, records: list[dict], columns: list[str] | None = None) -> list[str]:
        """The data files of ``records``; with ``columns``, only those
        of the records that hold one of them (a record without a
        ``columns`` list keeps its files)."""
        return [os.path.join(self.data_dir, f) for r in records
                if columns is None or not set(columns).isdisjoint(r.get("columns", columns))
                for f in r["files"]]

    def _file_source(self, spark: SparkSession, records: list[dict],
                     columns: list[str] | None = None) -> FrameSource:
        """The frames of ``records``' files (with ``columns``: see
        ``_files``), read whole files per task with read_frame_file."""
        files = self._files(records, columns)

        def work(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for b in batches:
                for i in b.column("id").to_pylist():
                    yield from read_frame_file(files[i]).to_batches()

        return FrameSource(file_plan(spark, len(files)), work, False,
                           lambda cols: self._file_source(spark, records, cols))


def file_plan(spark: SparkSession, n: int) -> DataFrame:
    """A JVM range over ``n`` file indices in ``min(n, parallelism)``
    contiguous slices (one when ``n`` is 0): the file-per-task layout of
    repartitionByRange without its sampler stage and exchange; tasks
    look the paths up in their closure (see scan.py)."""
    return spark.range(0, n, 1, max(1, min(n, spark.sparkContext.defaultParallelism)))


def group_keys(t: pa.Table) -> list[tuple[str, int, int]]:
    return list(zip(*(t.column(k).to_pylist() for k in GROUP_KEY)))


def read_frame_file(path: str, fields: list[str] | None = None, columns: list[str] | None = None,
                    table: str | None = None, keep: set | None = None) -> pa.Table:
    """The frame rows of one committed data file, sorted by (run_id,
    part_id, chunk_id) so each chunk group is contiguous — however the
    writer interleaved them. ``fields`` projects the parquet columns
    (None: all); ``columns`` and ``table`` keep only the frames of
    those columns and that table; ``keep`` keeps only those group keys,
    with a chunk_id pushdown that skips other groups' frame pages."""
    import pyarrow.dataset as pads

    flt = pads.scalar(True)
    if columns is not None:
        flt &= pads.field("column").isin(columns)
    if table is not None:
        flt &= pads.field("table") == table
    chunk_ids = sorted({k[2] for k in keep or ()})
    # bounded: a near-unpruned huge file would bloat the filter for no
    # IO win; the exact key check below stays correct either way
    if 0 < len(chunk_ids) <= 4096:
        flt &= pads.field("chunk_id").isin(chunk_ids)
    t = pads.dataset(path, format="parquet").to_table(columns=fields, filter=flt)
    if keep is not None:
        t = t.filter(pa.array([k in keep for k in group_keys(t)], pa.bool_()))
    return t.sort_by([(k, "ascending") for k in GROUP_KEY])


_TOTALS = ("chunks", "rows", "raw_bytes", "enc_bytes")
_REPORT_SCHEMA = pa.schema([
    ("file", pa.string()), ("part_ids", pa.list_(pa.int32())),
    ("columns", pa.list_(pa.string())), *((k, pa.int64()) for k in _TOTALS),
])
_REPORT_DDL = from_arrow_schema(_REPORT_SCHEMA)


def _frame_writer(out: str) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The commit's task body: ``write_frames(batches)`` writes the
    task's frame rows into one parquet file under ``out``, each batch
    as its own row group as it arrives (an encode task's batch is one
    chunk group), and yields one report row for the file (none if the
    task had no rows)."""

    def write_frames(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        w = _ShardWriter(out, _partition_id(), ENC_ARROW_SCHEMA, "snappy", row_group_rows=1)
        part_ids: set[int] = set()
        columns: set[str] = set()
        totals = dict.fromkeys(_TOTALS, 0)
        for rb in batches:
            if not rb.num_rows:
                continue
            if not rb.schema.equals(ENC_ARROW_SCHEMA):  # a chained input's
                # Arrow types follow the session (e.g. large strings)
                rb = rb.cast(ENC_ARROW_SCHEMA)
            w.add(rb)
            part_ids.update(pc.unique(rb.column("part_id")).to_pylist())
            columns.update(pc.unique(rb.column("column")).to_pylist())
            totals["chunks"] += rb.num_rows
            for k, c in (("rows", "n"), ("raw_bytes", "raw_bytes"), ("enc_bytes", "enc_bytes")):
                totals[k] += pc.sum(rb.column(c)).as_py() or 0
        shard = w.close()
        if shard is not None:
            yield pa.RecordBatch.from_pylist(
                [{"file": os.path.basename(shard[0]), "part_ids": sorted(part_ids),
                  "columns": sorted(columns), **totals}],
                schema=_REPORT_SCHEMA)

    return write_frames


def _batch(records: list[dict], mode: str | None) -> list[dict]:
    """Batch commits (no epoch) that cover part ids, in namespace
    ``mode`` (None: any)."""
    return [r for r in records if r["epoch"] is None and r["part_ids"]
            and (mode is None or r["mode"] == mode)]


def _df_commits(records: list[dict]) -> list[dict]:
    """df-mode commits that cover part ids, streaming ones included:
    each must carry the layout its ids were stamped from."""
    return [r for r in records if r["mode"] == "df" and r["part_ids"]]


def encode_and_commit(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    table: str,
    columns: list[str] | None = None,
    codec: str | dict = "auto",
    chunk_rows: int = 65_536,
    resume: bool = True,
) -> dict:
    """End-to-end encode job with partition-granular resume.

    Stamps each row with its physical partition id, drops partitions
    already committed for ``table``, encodes the rest and commits them.

    Resume correctness requires the rerun to reproduce the SAME
    partition membership (a pure-value layout like prepare_corpus's
    hash-of-id repartition, not round-robin). The commit records the
    layout's partition count and a resume refuses when it changed —
    the common way membership silently drifts (different
    spark.sql.shuffle.partitions / parallelism between runs) — or when
    a df-mode commit carries none. Equal counts with a value-dependent
    layout remain the caller's contract, same as scan mode's stronger
    fingerprint is tied to the file list.
    """
    from .core import encode_dataframe

    t = EncodedTable(root)
    layout_parts = df.rdd.getNumPartitions()
    work = df.withColumn("__part_id", F.spark_partition_id())
    if resume:
        committed = _df_commits(t._records(table))
        stored = {r["layout_parts"] for r in committed}
        if None in stored:
            # a commit with no layout identity: resuming against it could
            # silently commit duplicated/missing rows under a different
            # partition membership — refuse instead of skipping the check
            raise ValueError(
                f"df resume refused for table '{table}': committed df-mode "
                f"commits carry no layout_parts, so the input layout cannot "
                f"be validated. Re-encode into a fresh root or rerun with "
                f"resume disabled"
            )
        if stored and stored != {layout_parts}:
            raise ValueError(
                f"df resume refused: input layout has {layout_parts} "
                f"partitions but committed entries were stamped from a "
                f"{sorted(stored)}-partition layout — partition ids would "
                f"not identify the same rows. Rerun with the identical "
                f"partitioning, or use a fresh output root"
            )
        done = {p for r in _batch(committed, "df") for p in r["part_ids"]}
        if done:
            work = work.filter(~F.col("__part_id").isin(sorted(done)))
    cols = columns or [c for c in df.columns]
    # emptiness checked on the cheap filtered scan, not on the encoded
    # plan (isEmpty() on the latter would run encode work twice)
    if work.isEmpty():
        return {"version": t.log.current_version(), "files": 0, "partitions": 0,
                "resumed": True}
    encoded = encode_dataframe(work.drop("__part_id"), cols, codec=codec,
                               chunk_rows=chunk_rows, table_name=table)
    return t.commit(spark, encoded, table, mode="df",
                    layout_parts=layout_parts)
