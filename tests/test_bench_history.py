"""bench.py's append-only history: one keyed line per run."""

from __future__ import annotations

import json
import os
import subprocess

import bench


def test_history_lines_are_appended_and_keyed(tmp_path):
    path = str(tmp_path / "BENCH_HISTORY.jsonl")
    # outside a git checkout the SHA and dirty flag are unknown
    code = bench.code_state(str(tmp_path))
    assert code == {"git_sha": None, "dirty": None}
    first = bench.history_record(code, 4, 0.1, {"q1": 1.5}, {"q1": 0.5}, {"q1": 0.1})
    assert first == {
        "git_sha": None, "dirty": None, "cpus": 4, "sf": 0.1,
        "queries": {"q1": 1.5}, "warm": {"q1": 0.5}, "spread": {"q1": 0.1},
    }
    bench.append_history(path, first)
    bench.append_history(path, {**first, "cpus": 8})
    with open(path) as f:
        lines = [json.loads(ln) for ln in f]
    assert [r["cpus"] for r in lines] == [4, 8]


def test_code_state_names_the_commit(tmp_path):
    def git(*args):
        return subprocess.run(
            ["git", "-C", str(tmp_path), "-c", "user.name=t",
             "-c", "user.email=t@example.com", *args],
            capture_output=True, text=True, check=True,
        ).stdout.strip()

    git("init", "-q")
    for name in ("f.txt", "BENCH_DETAIL.json", "BENCH_HISTORY.jsonl"):
        (tmp_path / name).write_text("a")
    git("add", ".")
    git("commit", "-q", "-m", "init")
    head = git("rev-parse", "HEAD")
    assert bench.code_state(str(tmp_path)) == {"git_sha": head, "dirty": False}
    # the bench's own outputs do not make the code dirty
    (tmp_path / "BENCH_DETAIL.json").write_text("b")
    (tmp_path / "BENCH_HISTORY.jsonl").write_text("a\nb")
    assert bench.code_state(str(tmp_path))["dirty"] is False
    (tmp_path / "f.txt").write_text("b")
    assert bench.code_state(str(tmp_path)) == {"git_sha": head, "dirty": True}


def test_history_file_is_committed():
    assert os.path.isfile(bench.HISTORY)
