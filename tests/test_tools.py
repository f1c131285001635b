"""Evidence-chain tooling tests (r13; VERDICT r12 #1): the snapshot
gate must FAIL when a tracked root artifact is dirty — regenerated in
the working tree but not committed — the exact wound that let r12's
at-HEAD gate re-run ship uncommitted while the committed gate
certified a superseded tree.  Also: only ``init_db`` builds a Spark
session, and ``tools/ab.py`` refuses an unequal or empty A/B."""
import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from ab import compare  # noqa: E402
from snapshot_check import dirty_tracked_artifacts  # noqa: E402


def _git(repo, *args):
    subprocess.run(["git", *args], cwd=repo, check=True,
                   capture_output=True)


def _init_repo(tmp_path):
    repo = str(tmp_path)
    _git(repo, "init", "-q")
    _git(repo, "config", "user.email", "t@t")
    _git(repo, "config", "user.name", "t")
    return repo


def test_dirty_tracked_artifact_is_flagged(tmp_path):
    repo = _init_repo(tmp_path)
    art = os.path.join(repo, "ROUND_GATE_r99.json")
    with open(art, "w") as fh:
        json.dump({"ok": True, "head_sha": "aaa"}, fh)
    _git(repo, "add", "ROUND_GATE_r99.json")
    _git(repo, "commit", "-qm", "gate")
    assert dirty_tracked_artifacts(repo) == []
    # regenerate the artifact without committing — the r12 failure
    with open(art, "w") as fh:
        json.dump({"ok": True, "head_sha": "bbb"}, fh)
    assert dirty_tracked_artifacts(repo) == ["ROUND_GATE_r99.json"]
    # committing the regeneration clears the flag
    _git(repo, "commit", "-aqm", "gate rerun")
    assert dirty_tracked_artifacts(repo) == []


def test_untracked_and_nonartifact_files_are_not_dirty(tmp_path):
    repo = _init_repo(tmp_path)
    with open(os.path.join(repo, "BENCH_r99.json"), "w") as fh:
        json.dump({"metric": "x"}, fh)
    with open(os.path.join(repo, "notes.json"), "w") as fh:
        json.dump({}, fh)
    _git(repo, "add", "notes.json")
    _git(repo, "commit", "-qm", "base")
    # BENCH_r99.json is untracked (rides the snapshot commit);
    # notes.json is tracked but not an artifact prefix
    with open(os.path.join(repo, "notes.json"), "w") as fh:
        json.dump({"changed": True}, fh)
    assert dirty_tracked_artifacts(repo) == []


def test_deleted_tracked_artifact_is_flagged(tmp_path):
    repo = _init_repo(tmp_path)
    art = os.path.join(repo, "CORRECTNESS_r99.json")
    with open(art, "w") as fh:
        json.dump({}, fh)
    _git(repo, "add", "CORRECTNESS_r99.json")
    _git(repo, "commit", "-qm", "art")
    os.remove(art)
    assert dirty_tracked_artifacts(repo) == ["CORRECTNESS_r99.json"]


# -- one session factory ---------------------------------------------------

#: split so that this file does not name it
BUILDER = "SparkSession" + ".builder"

#: ``init_db`` builds every session; the correctness-gate replica keeps
#: the plain session the gate itself is given
BUILDER_OWNERS = ["pandas_alchemy_spark/session.py",
                  "tools/check_correctness.py"]


def _session_builders(root) -> list[str]:
    """Paths (relative to ``root``) of the ``*.py`` files that name the
    session builder, skipping hidden directories (``.git``, the work
    dirs) and Spark's local warehouse and metastore."""
    hits = []
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")
                       and d not in ("spark-warehouse", "metastore_db")]
        for name in files:
            path = os.path.join(dirpath, name)
            if name.endswith(".py"):
                with open(path, encoding="utf-8", errors="replace") as fh:
                    if BUILDER in fh.read():
                        hits.append(os.path.relpath(path, root))
    return sorted(hits)


def test_builder_scan_flags_a_planted_file(tmp_path):
    for rel in ("tools/tool.py", ".scratch/old.py", "notes.md"):
        os.makedirs(tmp_path / os.path.dirname(rel), exist_ok=True)
        (tmp_path / rel).write_text(f"spark = {BUILDER}.getOrCreate()\n")
    (tmp_path / "tools" / "clean.py").write_text("import os\n")
    assert _session_builders(tmp_path) == ["tools/tool.py"]


def test_only_init_db_builds_a_session():
    assert _session_builders(REPO) == BUILDER_OWNERS


# -- one A/B harness -------------------------------------------------------

def test_ab_equal_legs_are_timed(spark):
    out = compare({
        "range": lambda: spark.range(50),
        "shifted": lambda: spark.range(1, 51).select(
            (F.col("id") - 1).alias("id")),
    }, n=2)
    assert out["n_rows"] == 50 and out["outputs_equal"]
    assert [len(out["legs"][k]["runs"]) for k in ("range", "shifted")] \
        == [2, 2]
    assert out["ratio_to_first"]["range"] == 1.0
    assert out["ratio_to_first"]["shifted"] > 0
    assert out["cpus"] >= 1 and "st_mops" in out["cpu_mark"]


def test_ab_unequal_legs_raise(spark):
    with pytest.raises(AssertionError, match="differ"):
        compare({"a": lambda: spark.range(50),
                 "b": lambda: spark.range(51)}, n=1)


def test_ab_empty_leg_raises(spark):
    with pytest.raises(ValueError, match="empty"):
        compare({"a": lambda: spark.range(0),
                 "b": lambda: spark.range(0)}, n=1)
