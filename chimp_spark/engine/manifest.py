"""Iceberg-style table layout + chunk-granular lineage and resume.

No Iceberg runtime ships in this sandbox, so the layout is an
Iceberg-*style* file-based catalog (kept adapter-thin so a real
Iceberg REST/HMS catalog can replace it):

    <root>/data/part-<part_id>-<uuid>.parquet     encoded-chunk rows
    <root>/metadata/v<N>.metadata.json            snapshot pointer
    <root>/metadata/manifest-<N>.jsonl            one line per data file
    <root>/metadata/version-hint.text             current version N

Commit protocol (single-writer, crash-safe): data files are written
first, then a new manifest + metadata version, then the version hint
is atomically replaced. The data-file write is the commit's only Spark
action: it observes the committed part ids and the totals (chunks, rows,
raw and encoded bytes) as the rows stream past, so the data just
written is never scanned again. The manifest gets one entry per part
id plus one per data file; the totals land as ``summary`` in
``v<N>.metadata.json``. A crashed run leaves orphan data files but an
older consistent snapshot; the next run's resume anti-joins completed
partition ids from the live snapshot and re-encodes only the rest —
the lineage rows (table, column, part_id, chunk_id, codec, bytes,
checksum) give chunk-granular audit on top.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import ENC_DDL


class EncodedTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.meta_dir = os.path.join(root, "metadata")

    # -- snapshot plumbing ---------------------------------------------------

    def current_version(self) -> int:
        hint = os.path.join(self.meta_dir, "version-hint.text")
        try:
            with open(hint) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _read_metadata(self, version: int) -> dict:
        with open(os.path.join(self.meta_dir, f"v{version}.metadata.json")) as f:
            return json.load(f)

    def manifest_entries(self) -> list[dict]:
        v = self.current_version()
        if v == 0:
            return []
        meta = self._read_metadata(v)
        entries: list[dict] = []
        for mf in meta["manifests"]:
            with open(os.path.join(self.meta_dir, mf)) as f:
                entries.extend(json.loads(line) for line in f if line.strip())
        return entries

    def completed_part_ids(self, table: str, mode: str | None = None) -> set[int]:
        """Batch-resume partition ids. Streaming commits (epoch set)
        are EXCLUDED: their part_ids restart at 0 each micro-batch and
        must not mask unencoded batch source partitions on a mixed
        streaming+batch table (streaming dedupe uses committed_epochs).

        ``mode`` filters to one part-id namespace: DataFrame-path ids
        are Spark partition ids ('df') while scan-path ids are
        row-group unit indices ('scan') — resuming one from the
        other's entries would silently skip unrelated data. mode=None
        returns every batch entry. Entries written before modes
        existed (no 'mode' key) count for NO mode-specific query:
        their namespace is unknown, so treating them as completed
        would let a scan resume skip unit ids that collide with legacy
        DataFrame partition ids — silently dropping never-encoded row
        groups. Excluding them makes mixed legacy tables re-encode
        (duplication), the lesser failure; new commits always carry a
        mode."""
        return {
            e["part_id"]
            for e in self.manifest_entries()
            if e["table"] == table and e["part_id"] >= 0
            and e.get("committed", True) and e.get("epoch") is None
            and (mode is None or e.get("mode") == mode)
        }

    def completed_scan_units(self, table: str, fingerprint: str) -> set[int]:
        """Scan-path resume with input-identity validation.

        Scan unit ids are POSITIONAL over the sorted input file list
        and per-file row-group counts; if the input directory changed
        between runs (files added/replaced), committed ids map to
        different row groups and a blind resume silently skips
        never-encoded data. Every scan commit records the file-set
        fingerprint (see scan.units_fingerprint); resume REFUSES when
        any committed scan entry carries a different or missing one.
        """
        stale = [
            e for e in self.manifest_entries()
            if e["table"] == table and e["part_id"] >= 0
            and e.get("committed", True) and e.get("epoch") is None
            and e.get("mode") == "scan"
            and e.get("fingerprint") != fingerprint
        ]
        if stale:
            got = sorted({str(e.get("fingerprint")) for e in stale})
            raise ValueError(
                f"scan resume refused for table '{table}': {len(stale)} "
                f"committed scan entries were encoded from a different "
                f"input file set (fingerprint {got} != {fingerprint!r}). "
                "The positional unit ids no longer identify the same row "
                "groups. Encode into a fresh table root, or rerun with "
                "resume disabled to append a full re-encode."
            )
        return self.completed_part_ids(table, mode="scan")

    def data_files(self) -> list[str]:
        """Committed data file paths — ONLY the file-level entries
        (part_id == -1, same filter read() uses). Partition-level
        entries repeat their commit's first file and may carry None,
        so including them would duplicate or crash."""
        return [
            os.path.join(self.data_dir, e["file"])
            for e in self.manifest_entries()
            if e["part_id"] == -1
        ]

    # -- commit --------------------------------------------------------------

    def committed_epochs(self, table: str) -> set[int]:
        return {
            e["epoch"]
            for e in self.manifest_entries()
            if e.get("table") == table and e.get("epoch") is not None
        }

    def df_layout_parts(self, table: str) -> set[int]:
        """Partition counts of the layouts previous df-mode commits
        were stamped from (see encode_and_commit's resume guard)."""
        return {
            e["layout_parts"]
            for e in self.manifest_entries()
            if e["table"] == table and e.get("mode") == "df"
            and e["part_id"] >= 0 and e.get("layout_parts") is not None
        }

    def commit(self, spark: SparkSession, encoded: DataFrame, table: str,
               epoch: int | None = None, mode: str | None = None,
               fingerprint: str | None = None,
               layout_parts: int | None = None) -> dict:
        """Write encoded chunks as parquet data files + new snapshot.
        The parquet write is the commit's only Spark action: it observes
        the part ids and commit totals (chunks, rows, raw/enc bytes) as
        it goes, so nothing reads the written files back.
        ``fingerprint`` (scan mode) records the input file-set identity
        the positional unit ids were derived from — see
        completed_scan_units. Returns {version, files, partitions,
        summary}; ``summary`` (the totals) is also stored in the
        snapshot metadata."""
        import glob
        import shutil

        from pyspark.sql import Observation

        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)
        run_id = uuid.uuid4().hex[:12]
        staging = os.path.join(self.data_dir, f"_staging-{run_id}")
        obs = Observation(f"commit-{run_id}")
        encoded.observe(
            obs,
            F.collect_set("part_id").alias("part_ids"),
            F.count(F.lit(1)).alias("chunks"),
            F.sum("n").alias("rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        ).write.mode("overwrite").parquet(staging)
        observed = obs.get
        part_ids = sorted(observed["part_ids"])
        summary = {k: int(observed[k] or 0)
                   for k in ("chunks", "rows", "raw_bytes", "enc_bytes")}

        # fold staged files into the data dir under stable names
        files = []
        for i, path in enumerate(sorted(glob.glob(os.path.join(staging, "part-*.parquet")))):
            name = f"part-{run_id}-{i:05d}.parquet"
            shutil.move(path, os.path.join(self.data_dir, name))
            files.append(name)
        shutil.rmtree(staging, ignore_errors=True)

        entries = [
            {
                "table": table,
                "epoch": epoch,
                "mode": mode,
                "fingerprint": fingerprint,
                "layout_parts": layout_parts,
                "part_id": pid,
                "committed": True,
                "files": files,
                "file": files[0] if files else None,
            }
            for pid in part_ids
        ]
        # data-file level entries for read path
        file_entries = [
            {"table": table, "epoch": epoch, "part_id": -1, "file": f, "committed": True}
            for f in files
        ]

        v = self.current_version()
        new_v = v + 1
        manifest_name = f"manifest-{new_v:05d}.jsonl"
        with open(os.path.join(self.meta_dir, manifest_name), "w") as f:
            for e in entries + file_entries:
                f.write(json.dumps(e) + "\n")
        prev_manifests = self._read_metadata(v)["manifests"] if v else []
        meta = {
            "format-version": 1,
            "snapshot-id": run_id,
            "parent-version": v,
            "timestamp-ms": int(time.time() * 1000),
            "table": table,
            "manifests": prev_manifests + [manifest_name],
            "summary": summary,
        }
        with open(os.path.join(self.meta_dir, f"v{new_v}.metadata.json"), "w") as f:
            json.dump(meta, f, indent=1)
        tmp = os.path.join(self.meta_dir, f".hint-{run_id}")
        with open(tmp, "w") as f:
            f.write(str(new_v))
        os.replace(tmp, os.path.join(self.meta_dir, "version-hint.text"))
        return {"version": new_v, "files": len(files), "partitions": len(part_ids),
                "summary": summary}

    # -- read / resume ---------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        files = [
            os.path.join(self.data_dir, e["file"])
            for e in self.manifest_entries()
            if e["part_id"] == -1
        ]
        if not files:
            return spark.createDataFrame([], ENC_DDL)
        return spark.read.parquet(*files)

    def pending_partitions(self, df_with_pid: DataFrame, table: str) -> DataFrame:
        """Resume filter: drop source partitions already committed.
        ``df_with_pid`` must carry a ``__part_id`` column (use
        spark_partition_id() right after the layout repartition)."""
        done = self.completed_part_ids(table, mode="df")
        if not done:
            return df_with_pid
        return df_with_pid.filter(~F.col("__part_id").isin(sorted(done)))


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

    Stamps each row with its physical partition id, anti-joins
    partitions already committed in the table's snapshot, encodes the
    rest, commits a new snapshot.

    Resume correctness requires the rerun to reproduce the SAME
    partition membership (a pure-value layout like prepare_corpus's
    hash-of-id repartition, not round-robin). The commit records the
    layout's partition count and a resume refuses when it changed —
    the common way membership silently drifts (different
    spark.sql.shuffle.partitions / parallelism between runs). Equal
    counts with a value-dependent layout remain the caller's
    contract, same as scan mode's stronger fingerprint is tied to the
    file list.
    """
    from .core import encode_dataframe

    t = EncodedTable(root)
    layout_parts = df.rdd.getNumPartitions()
    work = df.withColumn("__part_id", F.spark_partition_id())
    if resume:
        stored = t.df_layout_parts(table)
        if stored and stored != {layout_parts}:
            raise ValueError(
                f"df resume refused: input layout has {layout_parts} "
                f"partitions but committed entries were stamped from a "
                f"{sorted(stored)}-partition layout — partition ids would "
                f"not identify the same rows. Rerun with the identical "
                f"partitioning, or use a fresh output root"
            )
        if not stored and any(
            e["table"] == table and e.get("mode") == "df" and e["part_id"] >= 0
            for e in t.manifest_entries()
        ):
            # df-mode entries committed before layout_parts was recorded
            # carry no layout identity: resuming against them could
            # silently commit duplicated/missing rows under a different
            # partition membership — refuse instead of skipping the check
            raise ValueError(
                f"df resume refused for table '{table}': committed df-mode "
                f"entries predate layout_parts stamping, so the input "
                f"layout cannot be validated. Re-encode into a fresh root "
                f"or rerun with resume disabled"
            )
        work = t.pending_partitions(work, table)
    cols = columns or [c for c in df.columns]
    # emptiness checked on the cheap filtered scan, not on the encoded
    # plan (isEmpty() on the latter would run encode work twice)
    if work.isEmpty():
        return {"version": t.current_version(), "files": 0, "partitions": 0,
                "resumed": True}
    encoded = encode_dataframe(work.drop("__part_id"), cols, codec=codec,
                               chunk_rows=chunk_rows, table_name=table)
    return t.commit(spark, encoded, table, mode="df",
                    layout_parts=layout_parts)
