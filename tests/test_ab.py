"""``tools/ab.py``: the A/B pair schedule and the worktree lifetime (no
Spark)."""

import importlib.util
import os
import subprocess

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(os.path.dirname(__file__), "..", "tools", "ab.py")
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_pair_schedule_alternates_odd_seeds_base_first():
    schedule = ab.pair_schedule(ab.seed_range("61-70"))
    assert [seed for seed, _ in schedule] == list(range(61, 71))
    assert len(schedule) == ab.PAIRS == 10
    for seed, order in schedule:
        assert sorted(order) == ["base", "change"]
        assert order[0] == ("base" if seed % 2 else "change")
    firsts = [order[0] for _, order in schedule]
    assert all(a != b for a, b in zip(firsts, firsts[1:]))
    with pytest.raises(ValueError):
        ab.pair_schedule(ab.seed_range("1-9"))


def _git(repo, *args) -> str:
    return subprocess.run(
        ["git", "-C", str(repo), "-c", "user.name=ab", "-c", "user.email=ab@example.com", *args],
        check=True, capture_output=True, text=True,
    ).stdout.strip()


def test_worktree_is_detached_at_rev_and_removed_on_exit_and_on_raise(tmp_path):
    repo, scratch = tmp_path / "repo", tmp_path / "scratch"
    scratch.mkdir()
    _git(tmp_path, "init", "-q", str(repo))
    (repo / "f.txt").write_text("one\n")
    _git(repo, "add", "f.txt")
    _git(repo, "commit", "-q", "-m", "one")
    first = _git(repo, "rev-parse", "HEAD")
    (repo / "f.txt").write_text("two\n")
    _git(repo, "commit", "-q", "-am", "two")

    def worktrees() -> int:
        return len(_git(repo, "worktree", "list").splitlines())

    with ab.worktree(first, str(scratch), repo=str(repo)) as tree:
        assert worktrees() == 2
        assert _git(tree, "rev-parse", "HEAD") == first
        # detached: HEAD is no symbolic ref
        assert subprocess.run(["git", "-C", tree, "symbolic-ref", "-q", "HEAD"]).returncode != 0
        with open(os.path.join(tree, "f.txt")) as fh:
            assert fh.read() == "one\n"
        with open(os.path.join(tree, "untracked.log"), "w") as fh:
            fh.write("left by a run\n")
    assert worktrees() == 1 and not os.path.exists(tree)

    with pytest.raises(RuntimeError):
        with ab.worktree(first, str(scratch), repo=str(repo)) as tree:
            assert worktrees() == 2
            raise RuntimeError("body failed")
    assert worktrees() == 1 and not os.path.exists(tree)
