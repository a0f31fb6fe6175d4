"""ANN index commits through the shared log, without a Spark session:
racing appends, unlinked runs, double appends, appends overtaken by a
rebuild, and roots in the old JSON-manifest layout."""

import json
import os
import subprocess
import sys
import time

import pytest

from chimp_spark.ops import ann_index

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARAMS = {"kind": "lsh", "dim": 4}

# Commits `count` append records onto build `base` once `go` exists, so
# every process races from the same moment.
_WORKER = """
import os, sys, time
from chimp_spark.ops import ann_index
root, worker, count, base, go = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4], sys.argv[5]
while not os.path.exists(go):
    time.sleep(0.001)
for i in range(count):
    ann_index._commit(root, {"base": base, "fingerprint": f"w{worker}-{i}",
                             "run_id": f"rw{worker}x{i}"})
"""


def _build(root: str, run_id: str, fingerprint: str | None = None) -> dict:
    os.makedirs(ann_index._run_dir(root, run_id))
    return ann_index._commit(root, {**PARAMS, "fingerprint": fingerprint, "run_id": run_id})


def _append(root: str, run_id: str, base: str, fingerprint: str) -> dict:
    os.makedirs(ann_index._run_dir(root, run_id))
    return ann_index._commit(root, {"base": base, "fingerprint": fingerprint, "run_id": run_id})


def _runs(meta: dict) -> list[str]:
    return [e["run_id"] for e in meta["epochs"]]


def test_racing_appends_both_land_dense(tmp_path):
    procs, per = 2, 30
    root, go = str(tmp_path / "idx"), str(tmp_path / "go")
    _build(root, "rb")
    env = dict(os.environ, PYTHONPATH=REPO)
    workers = [subprocess.Popen([sys.executable, "-c", _WORKER, root, str(w), str(per), "rb", go],
                                env=env) for w in range(procs)]
    time.sleep(1.0)  # let every worker import and reach the start line
    open(go, "w").close()
    assert [w.wait(120) for w in workers] == [0] * procs

    meta = ann_index.load_manifest(root)
    assert [e["epoch"] for e in meta["epochs"]] == list(range(1 + procs * per))
    assert sorted(e["fingerprint"] for e in meta["epochs"][1:]) == sorted(
        f"w{w}-{i}" for w in range(procs) for i in range(per))
    log = ann_index._log(root)
    assert log.versions() == list(range(1, 2 + procs * per))  # dense, none shared
    assert sorted(os.listdir(log.dir)) == [f"{v:08d}.json" for v in log.versions()]


def test_unlinked_run_is_invisible_and_its_retry_lands(tmp_path):
    root = str(tmp_path / "idx")
    built = _build(root, "rb", "s1")
    os.makedirs(ann_index._run_dir(root, "rcrashed"))  # written, never linked
    assert ann_index.load_manifest(root) == built
    assert _runs(built) == ["rb"]
    assert ann_index._append_base(root, PARAMS, "s2") == built  # the retry is not refused
    meta = _append(root, "rretry", "rb", "s2")
    assert [(e["epoch"], e["fingerprint"], e["run_id"]) for e in meta["epochs"]] == [
        (0, "s1", "rb"), (1, "s2", "rretry")]
    assert ann_index.load_manifest(root) == meta
    assert meta["kind"] == "lsh" and meta["dim"] == 4
    with pytest.raises(ValueError, match="already indexed"):
        ann_index._append_base(root, PARAMS, "s2")


def test_racing_double_append_is_skipped(tmp_path):
    """Two appends of one fingerprint that both passed the pre-check:
    the later record is skipped by the read rule, its run removed, and
    its builder raises."""
    root = str(tmp_path / "idx")
    _build(root, "rb", "s1")
    _append(root, "ra1", "rb", "s2")
    with pytest.raises(ValueError, match="already indexed"):
        _append(root, "ra2", "rb", "s2")
    assert _runs(ann_index.load_manifest(root)) == ["rb", "ra1"]
    assert not os.path.exists(ann_index._run_dir(root, "ra2"))
    assert ann_index._log(root).current_version() == 3


def test_append_overtaken_by_rebuild_raises(tmp_path):
    root = str(tmp_path / "idx")
    _build(root, "rb1", "s1")
    _append(root, "ra1", "rb1", "s2")
    # an append reads its base, then a rebuild lands while it writes
    base = ann_index._append_base(root, PARAMS, "s3")["epochs"][0]["run_id"]
    _build(root, "rb2", "s1")
    assert not os.path.exists(ann_index._run_dir(root, "rb1"))  # replaced runs removed
    assert not os.path.exists(ann_index._run_dir(root, "ra1"))
    with pytest.raises(ValueError, match="rebuild"):
        _append(root, "ra2", base, "s3")
    assert not os.path.exists(ann_index._run_dir(root, "ra2"))
    assert _runs(ann_index.load_manifest(root)) == ["rb2"]
    # appending against the new build lands
    assert _runs(_append(root, "ra3", "rb2", "s3")) == ["rb2", "ra3"]


def test_old_manifest_root_is_refused(tmp_path):
    root = tmp_path / "old"
    (root / "index" / "epoch=0" / "t=0").mkdir(parents=True)
    (root / "ann_index.json").write_text(json.dumps(
        {"format": 2, **PARAMS, "epochs": [{"epoch": 0, "fingerprint": None}]}))
    with pytest.raises(ValueError, match="rebuild"):
        ann_index.load_manifest(str(root))
    with pytest.raises(ValueError, match="rebuild"):
        ann_index._append_base(str(root), PARAMS, "s2")
    assert not (root / "_log").exists()
    with pytest.raises(FileNotFoundError):  # an empty root holds no index
        ann_index.load_manifest(str(tmp_path / "empty"))
