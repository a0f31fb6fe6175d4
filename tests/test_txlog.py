"""The shared commit log without a Spark session: concurrent
put-if-absent appends lose no record and never share a number, and
EncodedTable's queries replay its records."""

import json
import os
import subprocess
import sys
import time

from chimp_spark.engine.manifest import EncodedTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Appends `count` records once `go` exists, so every process races from
# the same moment.
_WORKER = """
import os, sys, time
from chimp_spark.engine.manifest import EncodedTable
root, worker, count, go = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
t = EncodedTable(root)
while not os.path.exists(go):
    time.sleep(0.001)
for i in range(count):
    t.log.append({"run_id": f"w{worker}-{i}", "table": "t", "worker": worker, "i": i})
"""


def _record(run_id: str) -> dict:
    return {"table": "t", "mode": None, "epoch": None, "fingerprint": None,
            "layout_parts": None, "run_id": run_id, "timestamp_ms": 0,
            "part_ids": [], "files": [], "summary": {}}


def _log(t: EncodedTable) -> dict[int, dict]:
    return {v: json.load(open(t.log.path(v))) for v in t.log.versions()}


def test_concurrent_appends_lose_nothing(tmp_path):
    procs, per = 6, 40
    root, go = str(tmp_path / "table"), str(tmp_path / "go")
    env = dict(os.environ, PYTHONPATH=REPO)
    workers = [subprocess.Popen([sys.executable, "-c", _WORKER, root, str(w), str(per), go],
                                env=env) for w in range(procs)]
    time.sleep(1.0)  # let every worker import and reach the start line
    open(go, "w").close()
    assert [w.wait(120) for w in workers] == [0] * procs

    t = EncodedTable(root)
    log = _log(t)
    assert sorted(log) == list(range(1, procs * per + 1))  # dense, none shared
    assert sorted((r["worker"], r["i"]) for r in log.values()) == [
        (w, i) for w in range(procs) for i in range(per)]  # every record present
    assert t.log.current_version() == procs * per
    assert sorted(os.listdir(t.log.dir)) == [f"{v:08d}.json" for v in sorted(log)]  # no temp left


def test_append_at_taken_number_takes_next_free(tmp_path):
    t = EncodedTable(str(tmp_path / "table"))
    assert t.log.current_version() == 0 and t.data_files() == []
    assert [t.log.append(_record(f"r{v}"), v) for v in (1, 2, 4)] == [1, 2, 4]
    assert t.log.append(_record("late"), 1) == 3  # 1 and 2 taken, 3 free
    assert t.log.append(_record("later"), 3) == 5
    log = _log(t)
    assert {v: r["run_id"] for v, r in log.items()} == {
        1: "r1", 2: "r2", 3: "late", 4: "r4", 5: "later"}
    assert t.log.current_version() == 5
    assert sorted(os.listdir(t.log.dir)) == [f"{v:08d}.json" for v in range(1, 6)]


def test_queries_replay_records(tmp_path):
    t = EncodedTable(str(tmp_path / "table"))
    recs = [
        dict(_record("a"), mode="scan", fingerprint="fp", part_ids=[0, 1], files=["a/p0.parquet"]),
        dict(_record("b"), mode="df", layout_parts=4, part_ids=[2], files=["b/p0.parquet"]),
        dict(_record("c"), epoch=7, part_ids=[0], files=["c/p0.parquet"]),
        dict(_record("d"), table="u", mode="df", layout_parts=2, part_ids=[5],
             files=["d/p0.parquet"]),
    ]
    for r in recs:
        t.log.append(r)
    assert t.completed_part_ids("t") == {0, 1, 2}  # the epoch commit is excluded
    assert t.completed_part_ids("t", mode="scan") == {0, 1}
    assert t.completed_scan_units("t", "fp") == {0, 1}
    assert t.committed_epochs("t") == {7}
    assert t.df_layout_parts("t") == {4} and t.df_layout_parts("u") == {2}
    data = os.path.join(t.root, "data")
    assert t.data_files("u") == [os.path.join(data, "d/p0.parquet")]
    assert t.data_files() == [os.path.join(data, f"{c}/p0.parquet") for c in "abcd"]
