"""Round-6 kernel/profiling harness (supplementary — bench.py is the
frozen driver contract; numbers cited in OPTIMIZATION_r06.md).

Modes:
    python bench_extra.py kernel [table ...]   per-column encode kernel timing
    python bench_extra.py profile <table>      cProfile of the encode kernel
    python bench_extra.py kernel_decode [table ...]  per-column decode kernel timing
    python bench_extra.py floor                per-task Python worker floor
    python bench_extra.py xor                  XOR codec kernels, C and numpy
    python bench_extra.py commit               EncodedTable.commit, fused and chained
    python bench_extra.py decode               decode_table of a committed root and of a persisted
                                               encode, without and with a shuffle
    python bench_extra.py frames <workload> <seed>  codec and sha256 of every frame a commit of
                                               a benchmark workload's inputs writes
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CHUNK = 65_536


def _chunks_of(table: str):
    t = pq.read_table(f"{SF_DIR}/{table}.parquet")
    for col in t.column_names:
        arr = t.column(col).combine_chunks()
        for off in range(0, t.num_rows, CHUNK):
            sl = arr.slice(off, CHUNK)
            if isinstance(sl, pa.ChunkedArray):
                sl = sl.combine_chunks()
            yield col, sl


def kernel_bench(tables: list[str], repeats: int = 3) -> None:
    from chimp_spark.framing import encode_chunk

    for table in tables:
        chunks = list(_chunks_of(table))
        per_col: dict[str, list] = {}
        for _ in range(repeats):
            caches: dict[str, dict] = {}
            t_col: dict[str, float] = {}
            for col, arr in chunks:
                cache = caches.setdefault(col, {})
                t0 = time.perf_counter()
                blob, meta = encode_chunk(arr, codec="auto", cache=cache)
                dt = time.perf_counter() - t0
                t_col[col] = t_col.get(col, 0.0) + dt
                per_col.setdefault(col, [0, 0, meta.codec])
                per_col[col][0] = meta.raw_bytes
                per_col[col][1] = len(blob)
            for col, tt in t_col.items():
                per_col[col].append(tt)
        print(f"== {table} ==")
        tot_raw = tot_t = 0.0
        rows = []
        for col, rec in per_col.items():
            raw_last, enc_last, codec = rec[0], rec[1], rec[2]
            best = min(rec[3:])
            # raw bytes: sum over chunks -> recompute from all chunks
            raw = sum(m for c2, m in _raw_of(table).items() if c2 == col)
            rows.append((best, col, codec, raw, best))
            tot_t += best
        raws = _raw_of(table)
        rows = sorted(
            ((min(rec[3:]), col, rec[2], raws[col]) for col, rec in per_col.items()),
            reverse=True,
        )
        tot_raw = sum(raws.values())
        for best, col, codec, raw in rows:
            print(f"  {col:24s} {codec:12s} {best*1e3:8.2f} ms  "
                  f"{raw/1e6:8.2f} MB  {raw/best/1e6:8.1f} MB/s")
        print(f"  TOTAL {tot_t*1e3:.1f} ms  {tot_raw/1e6:.1f} MB  "
              f"{tot_raw/tot_t/1e6:.1f} MB/s/core\n")


_RAW_CACHE: dict[str, dict] = {}


def _raw_of(table: str) -> dict:
    if table not in _RAW_CACHE:
        from chimp_spark.framing import encode_chunk

        raws: dict[str, int] = {}
        for col, arr in _chunks_of(table):
            _, meta = encode_chunk(arr, codec="plain" if False else "auto", cache={})
            raws[col] = raws.get(col, 0) + meta.raw_bytes
        _RAW_CACHE[table] = raws
    return _RAW_CACHE[table]


def profile(table: str) -> None:
    import cProfile
    import pstats

    from chimp_spark.framing import encode_chunk

    chunks = list(_chunks_of(table))
    caches: dict[str, dict] = {}
    # warm (fsst training etc. once, matching steady state)
    for col, arr in chunks:
        encode_chunk(arr, codec="auto", cache=caches.setdefault(col, {}))

    pr = cProfile.Profile()
    pr.enable()
    for _ in range(3):
        for col, arr in chunks:
            encode_chunk(arr, codec="auto", cache=caches[col])
    pr.disable()
    stats = pstats.Stats(pr)
    stats.sort_stats("cumulative").print_stats(40)


def decode_bench(tables: list[str], repeats: int = 3) -> None:
    from chimp_spark.framing import decode_chunk, encode_chunk

    for table in tables:
        blobs = []
        for col, arr in _chunks_of(table):
            blob, meta = encode_chunk(arr, codec="auto", cache={})
            blobs.append((col, blob, meta))
        per_col: dict[str, list] = {}
        for _ in range(repeats):
            t_col: dict[str, float] = {}
            for col, blob, meta in blobs:
                t0 = time.perf_counter()
                decode_chunk(blob)
                t_col[col] = t_col.get(col, 0.0) + time.perf_counter() - t0
            for col, tt in t_col.items():
                per_col.setdefault(col, []).append(tt)
        print(f"== {table} decode ==")
        raws = _raw_of(table)
        tot = 0.0
        for col in per_col:
            best = min(per_col[col])
            codec = next(m.codec for c, _b, m in blobs if c == col)
            tot += best
            print(f"  {col:24s} {codec:12s} {best*1e3:8.2f} ms  "
                  f"{raws[col]/best/1e6:8.1f} MB/s")
        print(f"  TOTAL {tot*1e3:.1f} ms  {sum(raws.values())/tot/1e6:.1f} MB/s/core\n")


def xor_bench(seed: int = 3, sensors: int = 2, repeats: int = 3) -> None:
    """Single-core MB/s of each XOR codec's encode, size-only pass and
    decode (from the stream's big-endian bytes, as block decode reads a
    frame) over the f64 chunks of ``sensors`` float_series sensors,
    with the C kernels (``native``) and with the numpy/Python fallback
    that CHIMP_SPARK_NO_NATIVE=1 selects (``fallback``, timed once)."""
    from benchmark import gen
    from chimp_spark import _native
    from chimp_spark.codecs import xor_ref as X

    t = gen.float_series(seed, sensors, CHUNK)
    chunks = []
    for col in t.column_names:
        arr = t.column(col).combine_chunks()
        if arr.type == pa.float64():
            vals = arr.to_numpy(zero_copy_only=False).view(np.uint64)
            chunks += [vals[o:o + CHUNK] for o in range(0, vals.size, CHUNK)]
    raw = sum(c.nbytes for c in chunks)
    one = [(c,) for c in chunks]

    def mb_s(fn, args: list, reps: int) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            for a in args:
                fn(*a)
            best = min(best, time.perf_counter() - t0)
        return raw / best / 1e6

    print(f"== XOR kernels: {len(chunks)} float_series f64 chunks, "
          f"{raw / 1e6:.1f} MB, MB/s single core ==")
    print(f"  {'mode':9s} {'codec':8s} {'encode':>9s} {'size-only':>10s} {'decode':>9s}")
    try:
        for mode in ("native", "fallback"):
            _native._FUNCS = None if mode == "native" else {}
            if mode == "native" and _native.get() is None:
                print("  native    (no C toolchain)")
                continue
            reps = repeats if mode == "native" else 1
            for codec in ("chimp", "chimpn", "gorilla", "patas"):
                enc = getattr(X, f"{codec}_encode")
                dec_bytes = getattr(X, f"{codec}_decode_bytes")
                size_bits = getattr(X, f"{codec}_size_bits")
                e = mb_s(enc, one, reps)
                s = mb_s(size_bits, one, reps)
                d = mb_s(lambda b, n: dec_bytes(b, n_values=n),
                         [(enc(c)[0].astype(">u8").view(np.uint8), c.size) for c in chunks],
                         reps)
                print(f"  {mode:9s} {codec:8s} {e:9.1f} {s:10.1f} {d:9.1f}")
    finally:
        _native._FUNCS = None


def commit_bench(seed: int = 7, reps: int = 5) -> None:
    """Seconds per ``EncodedTable.commit`` of the benchmark's tpch-shaped
    inputs (lineitem, documents; ``benchmark.workloads.Tpch``), median
    of ``reps`` at local[nproc], rounds alternating the case order:

    * ``fused``: the direct, uncached output of ``encode_parquet``; the
      file writer runs inside the encode tasks (encode + commit).
    * ``chained``: the same output behind ``select("*")``, which the
      commit cannot fuse, so a second mapInArrow writes the frames the
      encode tasks send across the Arrow boundary (encode + commit).
    * ``cached``: the encode persisted and counted first (``encode``,
      as ``benchmark/run.py --trace 1`` splits it), then a chained
      commit of the cached frames (commit only)."""
    import shutil
    import statistics
    import tempfile

    from benchmark.workloads import Tpch
    from chimp_spark import engine

    cases = ("fused", "chained", "cached")
    work = tempfile.mkdtemp(prefix="chimp_commit_bench_")
    nproc = len(os.sched_getaffinity(0))
    spark = engine.get_spark(cpus=nproc, app="chimp_commit", driver_memory="1g")
    try:
        wl = Tpch(os.path.join(work, "inputs"), os.path.join(work, "run"), seed)
        wl.stage()
        print(f"== EncodedTable.commit, tpch seed {seed}, local[{nproc}], "
              f"median of {reps} (s) ==")
        print(f"  {'table':10s}" + "".join(f" {k:>8s}" for k in (*cases[:2], "encode", "cached")))
        n = 0
        for table, src in wl.sources.items():
            times: dict[str, list[float]] = {k: [] for k in (*cases, "encode")}
            for r in range(reps + 1):  # the first round warms the workers
                for case in cases[r % 3:] + cases[:r % 3]:
                    n += 1
                    t = engine.EncodedTable(os.path.join(work, "run", f"t{n}"))
                    enc = engine.encode_parquet(spark, src, table_name=table)
                    t0 = time.perf_counter()
                    if case == "chained":
                        enc = enc.select("*")
                    elif case == "cached":
                        enc = enc.persist()
                        enc.count()
                        times["encode"].append(time.perf_counter() - t0)
                        t0 = time.perf_counter()
                    t.commit(spark, enc, table, mode="scan")
                    times[case].append(time.perf_counter() - t0)
                    enc.unpersist()
            med = {k: statistics.median(v[1:]) for k, v in times.items()}
            print(f"  {table:10s}" + "".join(
                f" {med[k]:8.3f}" for k in (*cases[:2], "encode", "cached")))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def decode_table_bench(seed: int = 7, reps: int = 9) -> None:
    """``decode_table`` seconds, median of ``reps`` at local[nproc], rounds
    rotating the case order, and the driver-side plan build of each
    ``decode_table`` call (``plan_ms``: the call itself, before any task
    runs).

    On one committed tpch root (lineitem and documents), the benchmark's
    tpch q1 (``benchmark.workloads.Tpch``: ``q1_aggregate`` over
    ``decode_table`` of lineitem) and ``decode_table(...).count()``:

    * ``fused``: ``EncodedTable.read`` as returned; the decode runs in
      the tasks that read the frame files, with no exchange.
    * ``shuffled``: the same read behind ``select("*")``, which the
      decode cannot fuse, so the frames are co-located by one hash
      shuffle of the JVM scan's rows first.

    On a persisted float_series encode (``benchmark.workloads.
    FloatSeries``), ``toArrow`` of the checksum-verified decode and the
    per-sensor aggregate over it, as a benchmark pass runs them:

    * ``in_place``: the persisted output as returned; its partitions
      hold whole chunk groups, so the decode reads them as they are.
    * ``shuffled``: the same output behind ``select("*")``, co-located
      by one hash shuffle first."""
    import shutil
    import statistics
    import tempfile

    from pyspark.sql import functions as F

    from benchmark.workloads import _FS_COLS, _FS_DDL, _LI_COLS, _LI_DDL, FloatSeries, Tpch, \
        q1_aggregate
    from chimp_spark import engine

    work = tempfile.mkdtemp(prefix="chimp_decode_bench_")
    nproc = len(os.sched_getaffinity(0))
    spark = engine.get_spark(cpus=nproc, app="chimp_decode", driver_memory="1g")

    def rotate(cases, run):
        """Median seconds per case and plan-build ms per path over
        ``reps`` rounds of ``run(path, op) -> (plan_s, total_s)``, after
        one round that warms the workers."""
        times = {c: [] for c in cases}
        plans: dict[str, list[float]] = {c[0]: [] for c in cases}
        for r in range(reps + 1):
            k = r % len(cases)
            for case in cases[k:] + cases[:k]:
                plan_s, total_s = run(*case)
                if r:
                    times[case].append(total_s)
                    plans[case[0]].append(plan_s)
        return ({c: statistics.median(v) for c, v in times.items()},
                {p: statistics.median(v) * 1e3 for p, v in plans.items()})

    def show(title, paths, ops, med, plan_ms):
        print(title)
        print(f"  {'path':9s}" + "".join(f" {op:>8s}" for op in ops) + f" {'plan_ms':>8s}")
        for path in paths:
            print(f"  {path:9s}" + "".join(f" {med[(path, op)]:8.3f}" for op in ops)
                  + f" {plan_ms[path]:8.1f}")

    try:
        wl = Tpch(os.path.join(work, "inputs"), os.path.join(work, "run"), seed)
        wl.stage()
        wl.prepare(spark)
        t = engine.EncodedTable(os.path.join(work, "run", "root"))
        for table, src in wl.sources.items():
            t.commit(spark, engine.encode_parquet(spark, src, table_name=table), table,
                     mode="scan")

        def tpch_case(path, op):
            t0 = time.perf_counter()
            enc = t.read(spark)
            t1 = time.perf_counter()
            dec = engine.decode_table(enc if path == "fused" else enc.select("*"),
                                      _LI_COLS, _LI_DDL)
            plan_s = time.perf_counter() - t1
            if op == "q1":
                got = sorted(tuple(row) for row in q1_aggregate(dec).collect())
                assert got == wl.oracle, f"{path} q1 differs from DuckDB"
            else:
                assert dec.count() == wl.rows["lineitem"]
            return plan_s, time.perf_counter() - t0

        paths = ("fused", "shuffled")
        med, plan_ms = rotate([(p, op) for p in paths for op in ("q1", "count")], tpch_case)
        show(f"== decode_table of a committed tpch root (seed {seed}, {len(t.data_files())} "
             f"files), local[{nproc}], median of {reps} (s) ==", paths, ("q1", "count"),
             med, plan_ms)

        fs = FloatSeries(os.path.join(work, "inputs"), os.path.join(work, "run"), seed)
        fs.stage()
        fs.prepare(spark)
        enc = engine.encode_parquet(spark, fs.sources["float_series"],
                                    table_name="float_series").persist()
        enc.count()

        def fs_case(path, op):
            t0 = time.perf_counter()
            dec = engine.decode_table(enc if path == "in_place" else enc.select("*"),
                                      _FS_COLS, _FS_DDL, verify_checksums=True)
            plan_s = time.perf_counter() - t0
            if op == "toArrow":
                out = dec.toArrow()
            else:
                out = (dec.groupBy("sensor_id")
                       .agg(F.count("*"), F.min("temp_c"), F.max("temp_c"), F.min("accel_x"),
                            F.max("gyro_z"), F.max(F.unix_micros("ts"))).collect())
            total_s = time.perf_counter() - t0
            if op == "toArrow":
                assert fs._bit_mismatch(out) is None, f"{path} decode differs"
            else:
                assert sorted(tuple(r) for r in out) == fs.oracle, f"{path} query differs"
            return plan_s, total_s

        paths = ("in_place", "shuffled")
        try:
            med, plan_ms = rotate([(p, op) for p in paths for op in ("toArrow", "query")],
                                  fs_case)
        finally:
            enc.unpersist()
        show(f"== decode_table of a persisted float_series encode (seed {seed}), "
             f"local[{nproc}], median of {reps} (s) ==", paths, ("toArrow", "query"),
             med, plan_ms)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def frames(workload: str, seed: int) -> None:
    """Frame identity of a benchmark workload's inputs
    (``benchmark.workloads.WORKLOADS``): each source table is encoded
    with ``encode_parquet`` and committed, as an untraced benchmark pass
    commits tpch. Prints one line ``table part_id chunk_id column codec
    sha256`` per committed frame, sorted, then one line with the frame
    count and the sha256 of those lines. Two trees write the same frames
    exactly when their outputs ``diff`` clean (run_id, a fresh id per
    encode, is left out)."""
    import hashlib
    import shutil
    import tempfile

    import pyarrow.dataset as pads

    from benchmark.workloads import WORKLOADS
    from chimp_spark import engine

    work = tempfile.mkdtemp(prefix="chimp_frames_")
    nproc = len(os.sched_getaffinity(0))
    spark = engine.get_spark(cpus=nproc, app="chimp_frames", driver_memory="1g")
    try:
        wl = WORKLOADS[workload](os.path.join(work, "inputs"), os.path.join(work, "run"), seed)
        wl.stage()
        t = engine.EncodedTable(os.path.join(work, "run", "root"))
        for table, src in wl.sources.items():
            t.commit(spark, engine.encode_parquet(spark, src, table_name=table), table,
                     mode="scan")
        cols = ["table", "part_id", "chunk_id", "column", "codec", "frame"]
        m = pads.dataset(t.data_files(), format="parquet").to_table(columns=cols)
        rows = sorted((*key, hashlib.sha256(frame).hexdigest())
                      for *key, frame in zip(*(m.column(k).to_pylist() for k in cols)))
        overall = hashlib.sha256()
        for row in rows:
            line = " ".join(map(str, row))
            print(line)
            overall.update(line.encode() + b"\n")
        print(f"{workload} seed {seed}: {len(rows)} frames, sha256 {overall.hexdigest()}")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def _floor_probe(batches):
    """One task of the floor job: time importlib.invalidate_caches(),
    which PySpark runs before every task, and count the cached
    zipimporters per archive."""
    import importlib
    import zipimport

    from chimp_spark import engine  # noqa: F401  (as every engine task does)

    start = time.time()
    for _ in batches:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    active_ms = (time.perf_counter() - t0) * 1e3
    importers: dict[str, int] = {}
    for v in sys.path_importer_cache.values():
        if isinstance(v, zipimport.zipimporter):
            name = os.path.basename(v.archive)
            importers[name] = importers.get(name, 0) + 1
    yield pa.RecordBatch.from_pylist([{
        "pid": os.getpid(), "start": start, "active_ms": active_ms,
        "importers": " ".join(f"{k}:{n}" for k, n in sorted(importers.items())),
    }])


def floor(tasks: int = 8, passes: int = 2) -> None:
    """The per-task Python worker floor at local[nproc]: a ``tasks``-task
    spark.range(...).mapInArrow job whose tasks import the engine, run
    ``passes`` times (the first pass forks the workers)."""
    from chimp_spark import _ship, engine

    nproc = len(os.sched_getaffinity(0))
    spark = engine.get_spark(cpus=nproc, app="chimp_floor", driver_memory="1g")
    try:
        _ship.ensure(spark)
        seen: set[int] = set()
        for p in range(passes):
            t0 = time.perf_counter()
            rows = spark.range(0, tasks, 1, tasks).mapInArrow(
                _floor_probe, "pid long, start double, active_ms double, "
                "importers string").collect()
            wall = time.perf_counter() - t0
            print(f"== pass {p + 1}: {tasks} tasks at local[{nproc}] ==")
            print("     pid  worker_task  invalidate_ms  zipimporters")
            for r in sorted(rows, key=lambda r: r["start"]):
                first = r["pid"] not in seen
                seen.add(r["pid"])
                print(f"  {r['pid']:>6}  {'first' if first else 'reused':>11}  "
                      f"{r['active_ms']:13.2f}  {r['importers']}")
            print(f"  job wall {wall * 1e3:.0f} ms\n")
    finally:
        spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "kernel"
    args = sys.argv[2:] or ["lineitem", "orders", "events", "documents"]
    if mode == "kernel":
        kernel_bench(args)
    elif mode == "profile":
        profile(args[0])
    elif mode == "kernel_decode":
        decode_bench(args)
    elif mode == "decode":
        decode_table_bench()
    elif mode == "floor":
        floor()
    elif mode == "xor":
        xor_bench()
    elif mode == "commit":
        commit_bench()
    elif mode == "frames":
        frames(sys.argv[2], int(sys.argv[3]))
