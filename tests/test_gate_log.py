"""tools/gate_log.py: every record names the exact tree the gate ran on —
HEAD, and for a dirty tree the sha256 of its `git diff HEAD` and its
untracked files."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import gate_log  # noqa: E402


def _git(repo, *args):
    subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
        cwd=repo, check=True, capture_output=True,
    )


def _repo(tmp_path):
    repo = str(tmp_path)
    _git(repo, "init", "-q")
    (tmp_path / "a.py").write_text("x = 1\n")
    (tmp_path / ".gitignore").write_text("*.log\n")
    _git(repo, "add", "a.py", ".gitignore")
    _git(repo, "commit", "-q", "-m", "init")
    return repo


def test_tree_record_hashes_the_dirty_diff(tmp_path):
    repo = _repo(tmp_path)

    clean = gate_log.tree_record(repo)
    assert not clean["tree_dirty"] and clean["tree_diff_sha256"] is None
    assert len(clean["commit"]) == 40

    (tmp_path / "a.py").write_text("x = 2\n")
    first = gate_log.tree_record(repo)
    (tmp_path / "a.py").write_text("x = 3\n")
    second = gate_log.tree_record(repo)
    assert first["tree_dirty"] and second["tree_dirty"]
    assert first["commit"] == second["commit"] == clean["commit"]
    assert first["tree_diff_sha256"] != second["tree_diff_sha256"]
    (tmp_path / "a.py").write_text("x = 2\n")
    assert gate_log.tree_record(repo) == first


def test_tree_record_covers_untracked_files(tmp_path):
    """A tree whose only change is a new, not yet added file is told apart
    by that file's name and content; ignored files do not count."""
    repo = _repo(tmp_path)
    clean = gate_log.tree_record(repo)
    (tmp_path / "run.log").write_text("ignored\n")
    assert gate_log.tree_record(repo) == clean

    (tmp_path / "b.py").write_text("y = 1\n")
    first = gate_log.tree_record(repo)
    assert first["tree_dirty"] and first["commit"] == clean["commit"]
    assert first["tree_diff_sha256"] != hashlib.sha256(b"").hexdigest()
    (tmp_path / "b.py").write_text("y = 2\n")
    assert gate_log.tree_record(repo)["tree_diff_sha256"] != first["tree_diff_sha256"]
    os.rename(tmp_path / "b.py", tmp_path / "c.py")
    (tmp_path / "c.py").write_text("y = 1\n")
    assert gate_log.tree_record(repo)["tree_diff_sha256"] != first["tree_diff_sha256"]
    os.rename(tmp_path / "c.py", tmp_path / "b.py")
    assert gate_log.tree_record(repo) == first


def test_tree_record_hashes_non_utf8_changes(tmp_path):
    repo = _repo(tmp_path)
    (tmp_path / "a.py").write_bytes(b"x = '\xff\xfe'\n")
    (tmp_path / "blob.bin").write_bytes(bytes(range(256)))
    rec = gate_log.tree_record(repo)
    assert rec["tree_dirty"] and len(rec["tree_diff_sha256"]) == 64
