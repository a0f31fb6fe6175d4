"""The benchmark's two workloads.

Each workload stages seeded inputs (``stage``), builds its state with
the code under test (``prepare``) and runs passes (``run_pass``). A
pass times its operations, then checks their outputs outside the timed
wall; an exception or a wrong output is one failed operation.

* ``tpch``: write then read two TPC-H-style tables. Scan-path
  ``encode_parquet`` plus ``EncodedTable.commit`` of lineitem and
  documents into a fresh table root; then the q1-shaped
  aggregate over ``decode_table`` of lineitem, checked against DuckDB,
  and ``decode_table_to_parquet`` of documents in full and with
  ``split == 'valid'``. Work: scan, selector, light codecs, FSST,
  manifest, colocation shuffle, decode kernels, sink, zone-map pruning.
  No chunk picks an XOR codec.
* ``float_series``: sensor readings, one parquet file per sensor,
  through scan-path ``encode_parquet`` and back through
  ``decode_table(verify_checksums=True)``, compared bit for bit with the
  generated input; then a per-sensor aggregate over the decoded series,
  checked against numpy. Work: XOR codecs (chimpn on the motion
  channels) and the selector's XOR trials. Idle: manifest, sink.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from . import gen
from .clock import net_clock
from .layers import Tracer

CHUNK_ROWS = 65_536
_DONE = "_STAGED"


@dataclass
class PassResult:
    tracer: object
    write_bytes: int = 0  # encoded
    read_bytes: dict = field(default_factory=dict)  # decoded, per operation
    frame_bytes: int = 0  # frames the encoded bytes became
    ops: dict = field(default_factory=dict)  # net_clock seconds per operation
    attempted: int = 0
    failed: int = 0
    peak_mem_mb: float = 0.0

    def run(self, name: str, fn):
        """Time one operation; an exception counts it failed and
        returns None."""
        self.attempted += 1
        t0 = net_clock()
        try:
            with self.tracer.span(name):
                return fn()
        except Exception as e:  # noqa: BLE001 — counted, reported, run goes on
            self._fail(name, f"{type(e).__name__}: {e}")
            return None
        finally:
            self.ops[name] = net_clock() - t0

    @property
    def wall(self) -> float:
        """The pass's operations, back to back."""
        return sum(self.ops.values())

    def check(self, name: str, problem: str | None) -> None:
        """Count a wrong output of an operation that did not raise."""
        if problem:
            self._fail(name, problem)

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        print(f"benchmark: {name} failed: {why[:400]}", file=sys.stderr)


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, *results: PassResult) -> None:
        for r in results:
            self.attempted += r.attempted
            self.failed += r.failed


def measure(wl, spark, seconds: float, tracer, mem) -> list[PassResult]:
    """Closed loop: passes back to back until ``seconds`` have elapsed
    (at least one). ``tracer=None`` gives each pass a fresh Tracer."""
    out = []
    t_end = time.perf_counter() + seconds
    while not out or time.perf_counter() < t_end:
        if mem is not None:
            mem.take()
        r = wl.run_pass(spark, tracer if tracer is not None else Tracer())
        if mem is not None:
            r.peak_mem_mb = mem.take()
        out.append(r)
        print(f"benchmark: pass {len(out)}: {r.wall:.3f} s, "
              + ", ".join(f"{k} {v:.3f} s" for k, v in r.ops.items())
              + f", peak pss {r.peak_mem_mb:.0f} MB", file=sys.stderr)
    return out


def median_peak_mem(passes: list[PassResult]) -> float:
    """Median over passes of each pass's peak memory."""
    return statistics.median(p.peak_mem_mb for p in passes)


def _gen_tag() -> str:
    with open(gen.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:8]


def lineage(files: list[str]) -> pa.Table:
    """Per-chunk lineage rows of committed data files (no frame bytes)."""
    cols = ["run_id", "table", "column", "part_id", "chunk_id", "n", "codec",
            "raw_bytes", "enc_bytes", "encode_ns", "stat_min_bin"]
    return pads.dataset(files, format="parquet").to_table(columns=cols)


def _sums(lin: pa.Table, key: str, value: str) -> dict:
    g = lin.group_by(key).aggregate([(value, "sum")])
    return dict(zip(g.column(key).to_pylist(), g.column(f"{value}_sum").to_pylist()))


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, inputs_dir: str, run_dir: str, seed: int):
        self.seed = seed
        self.inputs_dir = inputs_dir
        self.run_dir = run_dir
        size = "-".join(f"{k}{v}" for k, v in sorted(self.sizes.items()))
        self.key = f"{self.name}-s{seed}-{size}-{_gen_tag()}"
        self.in_dir = os.path.join(inputs_dir, self.key)
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir, exist_ok=True)
        self._pass_no = 0

    def stage(self) -> None:
        """Write the seeded inputs once per (seed, sizes, generator);
        drop this workload's inputs for any other key so staging never
        grows past one set."""
        if os.path.exists(os.path.join(self.in_dir, _DONE)):
            return
        os.makedirs(self.inputs_dir, exist_ok=True)
        for d in os.listdir(self.inputs_dir):
            if d.startswith(f"{self.name}-s") and d != self.key:
                shutil.rmtree(os.path.join(self.inputs_dir, d), ignore_errors=True)
        tmp = self.in_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        self._write_inputs(tmp)
        open(os.path.join(tmp, _DONE), "w").close()
        shutil.rmtree(self.in_dir, ignore_errors=True)
        os.replace(tmp, self.in_dir)

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)

    def _fresh_dir(self, what: str) -> str:
        self._pass_no += 1
        d = os.path.join(self.run_dir, f"{what}-{self._pass_no}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    @staticmethod
    def rate(passes: list[PassResult], ops: list[str], nbytes) -> float:
        """MB per second of the named operations' time (median over
        passes); ``nbytes(pass)`` is the raw bytes they moved."""
        return statistics.median(
            nbytes(p) / max(sum(p.ops.get(o, 0.0) for o in ops), 1e-9) / 1e6 for p in passes)

    @staticmethod
    def op_median(passes: list[PassResult], op: str) -> float:
        return statistics.median(p.ops.get(op, 0.0) for p in passes)

    @staticmethod
    def ratio(passes: list[PassResult]) -> tuple[float, str]:
        last = passes[-1]
        return last.write_bytes / max(last.frame_bytes, 1), "ratio"

    def named_metrics(self, passes, tally) -> dict:
        """Metrics printed beside the end-to-end ones, not gated."""
        return {"failed_frac": (tally.failed / max(tally.attempted, 1), "frac"),
                "query_s": (self.op_median(passes, "query"), "s")}

    def chunks(self, tr):
        """(table, column, array) per encode chunk, the way the scan path
        cuts them: row groups sliced to CHUNK_ROWS. The row-group reads
        are timed as ``scan.read``."""
        from chimp_spark import engine

        for table, src in self.sources.items():
            for path in engine.resolve_paths(src):
                pf = pq.ParquetFile(path)
                for rg in range(pf.num_row_groups):
                    with tr.span("scan.read"):
                        t = pf.read_row_group(rg)
                    for off in range(0, t.num_rows, CHUNK_ROWS):
                        sl = t.slice(off, CHUNK_ROWS)
                        for col in sl.column_names:
                            yield table, col, sl.column(col).combine_chunks()


def _write_documents(d: str, seed: int, per_file: int, splits: list[str]) -> None:
    """One split-pure file per entry of ``splits``."""
    os.makedirs(d)
    for i, split in enumerate(splits):
        t = gen.documents(seed, per_file, first_id=i * per_file, split=split)
        pq.write_table(t, os.path.join(d, f"part-{i:03d}.parquet"), row_group_size=per_file)


_LI_COLS = ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
            "l_returnflag", "l_linestatus", "l_shipdate"]
_LI_DDL = ("l_orderkey long, l_quantity double, l_extendedprice double, "
           "l_discount double, l_returnflag string, l_linestatus string, "
           "l_shipdate timestamp")
_DOC_DDL = "doc_id long, text string, split string"


def q1_aggregate(dec):
    """The q1-shaped aggregate of ``__spark_entry__._q1_decoded``."""
    from pyspark.sql import functions as F

    return (
        dec.filter(F.col("l_shipdate") <= "1997-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.countDistinct("l_discount").alias("n_discounts"),
        )
    )


def record_lineage(tr, lin: pa.Table) -> None:
    """Lineage counts of the chunks a traced pass encoded."""
    tr.add("core.chunks", lin.num_rows)
    tr.add("core.kernel_ns", int(pc.sum(lin.column("encode_ns")).as_py()))
    for codec, n in zip(*np.unique(lin.column("codec").to_numpy(zero_copy_only=False),
                                   return_counts=True)):
        tr.add(f"selector.codec.{codec}", int(n))


class Tpch(Workload):
    """Write then read two TPC-H-style tables.

    Each pass commits lineitem and documents into a
    fresh table root (scan-path ``encode_parquet`` + ``commit``), then
    reads them back: the q1-shaped aggregate over ``decode_table`` of
    lineitem, and ``decode_table_to_parquet`` of documents in full and
    with ``split == 'valid'``. The read side always decodes frames the
    code under test has just written."""

    name = "tpch"
    sizes = {"li": 3 * CHUNK_ROWS, "docn": 2_000}
    _SPLITS = ["train"] * 6 + ["valid", "test"]  # one documents file each

    def __init__(self, *a):
        super().__init__(*a)
        s = self.sizes
        self.rows = {"lineitem": s["li"], "documents": len(self._SPLITS) * s["docn"]}
        self.n_valid = self._SPLITS.count("valid") * s["docn"]
        self.sources = {
            "lineitem": os.path.join(self.in_dir, "lineitem.parquet"),
            "documents": os.path.join(self.in_dir, "documents"),
        }
        self.columns: dict[str, list[str]] = {}
        self.oracle = None
        self.last_root = None  # the last traced pass's output, for the replays

    def _write_inputs(self, d: str) -> None:
        pq.write_table(gen.lineitem(self.seed, self.rows["lineitem"]),
                       os.path.join(d, "lineitem.parquet"), row_group_size=CHUNK_ROWS)
        _write_documents(os.path.join(d, "documents"), self.seed,
                         self.sizes["docn"], self._SPLITS)

    def prepare(self, spark) -> None:
        from chimp_spark import engine

        for table, src in self.sources.items():
            self.columns[table] = pq.read_schema(engine.resolve_paths(src)[0]).names
        if self.oracle is None:
            self.oracle = self._duckdb_q1()

    def _duckdb_q1(self) -> list[tuple]:
        import duckdb

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from __spark_entry__ import _Q1_ORACLE

        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW lineitem AS SELECT * FROM "
                        f"read_parquet('{self.sources['lineitem']}')")
            return sorted(tuple(r) for r in con.execute(_Q1_ORACLE).fetchall())
        finally:
            con.close()

    def run_pass(self, spark, tr) -> PassResult:
        from chimp_spark import engine

        res = PassResult(tr)
        base = self._fresh_dir("pass")
        root, out = os.path.join(base, "table"), os.path.join(base, "export")

        def q1():
            with tr.span("manifest.read"):
                enc = engine.EncodedTable(root).read(spark)
            dec = engine.decode_table(enc, _LI_COLS, _LI_DDL)
            if tr.enabled:
                with tr.span("core.decode_action"):
                    dec.count()
            return sorted(tuple(r) for r in q1_aggregate(dec).collect())

        def export(cols, ddl, name, **kw):
            return lambda: engine.decode_table_to_parquet(
                spark, root, cols, ddl, os.path.join(out, name), table="documents", **kw)

        done = [table for table, src in self.sources.items()
                if res.run(f"commit.{table}",
                           lambda t=table, s=src: self._commit(spark, tr, root, t, s))]
        got = {
            "query": res.run("query", q1),
            "export_full": res.run("export_full", export(
                ["doc_id", "text"], "doc_id long, text string", "full")),
            "export_split": res.run("export_split", export(
                ["doc_id", "text", "split"], _DOC_DDL, "split",
                predicate=("split", "==", "valid"))),
        }

        files = engine.EncodedTable(root).data_files()
        lin = lineage(files) if files else None
        if lin is not None:
            res.frame_bytes = int(pc.sum(lin.column("enc_bytes")).as_py())
            self._count_raw(res, lin)
            rows = _sums(lin, "table", "n")
            for table in done:
                want = self.rows[table] * len(self.columns[table])
                if rows.get(table) != want:
                    res.check(f"commit.{table}", f"{rows.get(table)} values committed, "
                              f"expected {want}")
        if got["query"] is not None:
            res.check("query", None if got["query"] == self.oracle else
                      f"q1 rows {got['query']} != duckdb {self.oracle}")
        for op, want in (("export_full", self.rows["documents"]),
                         ("export_split", self.n_valid)):
            if got[op] is not None:
                res.check(op, None if got[op]["rows"] == want else
                          f"{got[op]['rows']} rows exported, source has {want}")
        if tr.enabled:
            if lin is not None:
                record_lineage(tr, lin)
            if got["export_full"] is not None:
                tr.add("sink.rows", got["export_full"]["rows"])
            if got["export_split"] is not None:
                audit = got["export_split"]["audit"]
                tr.add("sink.frame_bytes_read", audit["frame_bytes_read"])
                tr.add("sink.frame_bytes_total", audit["frame_bytes_total"])
            if self.last_root:
                shutil.rmtree(os.path.dirname(self.last_root), ignore_errors=True)
            self.last_root = root
        else:
            shutil.rmtree(base, ignore_errors=True)
        return res

    @staticmethod
    def _count_raw(res: PassResult, lin: pa.Table) -> None:
        """Raw bytes the pass moved: every committed value once on the
        write side; on the read side the q1 columns, the full documents
        export and the split groups the pruned export decoded."""
        by_col = _sums(lin.filter(pc.equal(lin.column("table"), "lineitem")), "column",
                       "raw_bytes")
        docs = lin.filter(pc.equal(lin.column("table"), "documents"))
        doc_col = _sums(docs, "column", "raw_bytes")
        valid = {
            k for k, c, lo in zip(
                zip(docs.column("run_id").to_pylist(), docs.column("part_id").to_pylist(),
                    docs.column("chunk_id").to_pylist()),
                docs.column("column").to_pylist(), docs.column("stat_min_bin").to_pylist())
            if c == "split" and lo == b"valid"
        }
        split_raw = sum(
            r for k, c, r in zip(
                zip(docs.column("run_id").to_pylist(), docs.column("part_id").to_pylist(),
                    docs.column("chunk_id").to_pylist()),
                docs.column("column").to_pylist(), docs.column("raw_bytes").to_pylist())
            if k in valid and c in ("doc_id", "text", "split")
        )
        res.write_bytes = int(pc.sum(lin.column("raw_bytes")).as_py())
        res.read_bytes = {"query": sum(by_col.get(c, 0) for c in _LI_COLS),
                          "export_full": doc_col.get("doc_id", 0) + doc_col.get("text", 0),
                          "export_split": split_raw}

    @staticmethod
    def _commit(spark, tr, root: str, table: str, src: str) -> dict:
        from chimp_spark import engine

        with tr.span("scan.plan"):
            units = engine.parquet_work_units(engine.resolve_paths(src), spark)
        tr.add("scan.units", len(units))
        enc = engine.encode_parquet(spark, src, table_name=table, units=units)
        if tr.enabled:  # split encode from commit: materialize, then commit
            enc = enc.persist()
            with tr.span("core.encode_action"):
                enc.count()
        try:
            with tr.span("manifest.commit"):
                info = engine.EncodedTable(root).commit(
                    spark, enc, table, mode="scan",
                    fingerprint=engine.units_fingerprint(units))
        finally:
            if tr.enabled:
                enc.unpersist()
        tr.add("manifest.files", info["files"])
        return info

    def end_to_end(self, passes: list[PassResult]) -> dict:
        commits = [f"commit.{t}" for t in self.sources]
        reads = ["query", "export_full", "export_split"]
        return {
            "encode_mb_s": (self.rate(passes, commits, lambda p: p.write_bytes), "MB/s"),
            "decode_mb_s": (self.rate(passes, reads, lambda p: sum(
                p.read_bytes.get(o, 0) for o in reads)), "MB/s"),
            "compression_ratio": self.ratio(passes),
        }

    def named_metrics(self, passes, tally) -> dict:
        out = super().named_metrics(passes, tally)
        out["split_export_s"] = (self.op_median(passes, "export_split"), "s")
        return out

    def data_files(self) -> list[str]:
        """Committed data files of the last traced pass."""
        from chimp_spark import engine

        return engine.EncodedTable(self.last_root).data_files()

    @property
    def last_export(self) -> str:
        return os.path.join(os.path.dirname(self.last_root), "export", "full")


_FS_DDL = ("sensor_id int, ts timestamp, temp_c double, pressure double, "
           "accel_x double, accel_y double, accel_z double, "
           "gyro_x double, gyro_y double, gyro_z double")
_FS_COLS = [c.split()[0] for c in _FS_DDL.split(", ")]


class FloatSeries(Workload):
    """Sensor time series, one parquet file per sensor (one row group of
    CHUNK_ROWS readings, so each sensor is one encode chunk). A pass
    encodes them through the scan path, decodes the frames back with
    checksums verified and compares every value bit for bit, then runs a
    per-sensor aggregate over the decoded series."""

    name = "float_series"
    sizes = {"sensors": 16, "readings": CHUNK_ROWS}

    def __init__(self, *a):
        super().__init__(*a)
        self.sources = {"float_series": os.path.join(self.in_dir, "sensors")}
        self.table = None
        self.raw = 0
        self.oracle = None

    def stage(self) -> None:
        super().stage()
        self._generate()  # the bit-exact oracle, kept in memory

    def _write_inputs(self, d: str) -> None:
        os.makedirs(os.path.join(d, "sensors"))
        t = self._generate()
        for s in range(self.sizes["sensors"]):
            pq.write_table(t.slice(s * CHUNK_ROWS, CHUNK_ROWS),
                           os.path.join(d, "sensors", f"sensor-{s:04d}.parquet"),
                           row_group_size=CHUNK_ROWS)

    def _generate(self) -> pa.Table:
        if self.table is None:
            self.table = gen.float_series(self.seed, self.sizes["sensors"],
                                          self.sizes["readings"])
        return self.table

    def prepare(self, spark) -> None:
        t = self._generate()
        self.raw = sum(c.nbytes for c in t.columns)
        self.oracle = self._numpy_query(t)

    @staticmethod
    def _numpy_query(t: pa.Table) -> list[tuple]:
        """The per-sensor aggregate of ``query``, computed on the input."""
        sid = t.column("sensor_id").to_numpy()
        cols = {c: t.column(c).to_numpy() for c in ("temp_c", "accel_x", "gyro_z")}
        ts = t.column("ts").cast(pa.int64()).to_numpy()
        out = []
        for s in np.unique(sid):
            m = sid == s
            out.append((int(s), int(m.sum()), float(cols["temp_c"][m].min()),
                        float(cols["temp_c"][m].max()), float(cols["accel_x"][m].min()),
                        float(cols["gyro_z"][m].max()), int(ts[m].max())))
        return out

    def run_pass(self, spark, tr) -> PassResult:
        from pyspark.sql import functions as F

        from chimp_spark import engine

        res = PassResult(tr)
        held = {}

        def encode():
            src = self.sources["float_series"]
            with tr.span("scan.plan"):
                units = engine.parquet_work_units(engine.resolve_paths(src), spark)
            tr.add("scan.units", len(units))
            enc = held["enc"] = engine.encode_parquet(
                spark, src, table_name="float_series", units=units).persist()
            with tr.span("core.encode_action"):
                return enc.agg(F.sum("raw_bytes").alias("raw"),
                               F.sum("enc_bytes").alias("frame")).collect()[0]

        def decoded():
            return engine.decode_table(held["enc"], _FS_COLS, _FS_DDL, verify_checksums=True)

        def decode():
            if tr.enabled:
                with tr.span("core.decode_action"):
                    decoded().count()
            return decoded().toArrow()

        def query():
            rows = (decoded().groupBy("sensor_id")
                    .agg(F.count("*"), F.min("temp_c"), F.max("temp_c"), F.min("accel_x"),
                         F.max("gyro_z"), F.max(F.unix_micros("ts")))
                    .collect())
            return sorted(tuple(r) for r in rows)

        try:
            stats = res.run("encode", encode)
            out = res.run("decode", decode) if stats is not None else None
            got = res.run("query", query) if stats is not None else None
            res.write_bytes = self.raw
            res.read_bytes = {"decode": self.raw, "query": self.raw}
            if stats is not None:
                res.frame_bytes = stats["frame"]
                res.check("encode", None if stats["raw"] == self.raw else
                          f"lineage raw bytes {stats['raw']} != input {self.raw}")
            if out is not None:
                res.check("decode", self._bit_mismatch(out))
            if got is not None:
                res.check("query", None if got == self.oracle else
                          f"per-sensor aggregate {got[:2]}... != numpy {self.oracle[:2]}...")
            if tr.enabled and "enc" in held:
                record_lineage(tr, held["enc"].select("encode_ns", "codec").toArrow())
        finally:
            if "enc" in held:
                held["enc"].unpersist()
        return res

    def _bit_mismatch(self, out: pa.Table) -> str | None:
        """Compare decoded rows with the generated input, value bits
        included (NaN payloads, -0.0)."""
        if out.num_rows != self.table.num_rows:
            return f"{out.num_rows} rows decoded, input has {self.table.num_rows}"
        out = out.sort_by([("sensor_id", "ascending"), ("ts", "ascending")])
        bad = []
        for c in _FS_COLS:
            got, want = out.column(c).combine_chunks(), self.table.column(c).combine_chunks()
            if pa.types.is_timestamp(want.type):
                got, want = got.cast(pa.int64()), want.cast(pa.int64())
            g, w = np.asarray(got), np.asarray(want)
            if w.dtype.kind == "f":
                g, w = g.view(np.uint64), w.view(np.uint64)
            if g.shape != w.shape or (n := int(np.count_nonzero(g != w))):
                bad.append(f"{c}: {n if g.shape == w.shape else 'shape'}")
        return f"decoded bits differ: {bad}" if bad else None

    def end_to_end(self, passes: list[PassResult]) -> dict:
        return {
            "encode_mb_s": (self.rate(passes, ["encode"], lambda p: p.write_bytes), "MB/s"),
            "decode_mb_s": (self.rate(passes, ["decode", "query"],
                                      lambda p: sum(p.read_bytes.values())), "MB/s"),
            "compression_ratio": self.ratio(passes),
        }


WORKLOADS = {w.name: w for w in (Tpch, FloatSeries)}
