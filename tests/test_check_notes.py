"""tools/check_notes.py: a notes file's "(commit `sha`)" claims must
name commits that touch the files their lines name."""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import check_notes  # noqa: E402


def _git(repo, *args):
    env = dict(
        os.environ,
        GIT_AUTHOR_NAME="t", GIT_AUTHOR_EMAIL="t@t",
        GIT_COMMITTER_NAME="t", GIT_COMMITTER_EMAIL="t@t",
    )
    return subprocess.run(
        ["git", "-C", str(repo), *args], check=True, env=env,
        capture_output=True, text=True,
    ).stdout.strip()


def test_claims_must_touch_the_files_they_describe(tmp_path):
    repo = tmp_path / "r"
    (repo / "pkg").mkdir(parents=True)
    _git(repo, "init", "-q")
    (repo / "pkg" / "a.py").write_text("a = 1\n")
    (repo / "b.py").write_text("b = 1\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "-m", "one")
    (repo / "pkg" / "a.py").write_text("a = 2\n")
    _git(repo, "commit", "-q", "-am", "two")
    sha = _git(repo, "rev-parse", "--short", "HEAD")
    notes = tmp_path / "NOTES.md"
    notes.write_text(
        f"`pkg/a.py` changed (commit `{sha}`).\n"
        f"`a.py` by suffix (commit `{sha}`).\n"
        f"no file named here (commit `{sha}`).\n"
        f"`b.py` was not touched (commit `{sha}`).\n"
        "`pkg/a.py` (commit `0123456`).\n"
    )
    bad = check_notes.check(str(notes), str(repo))
    assert bad == [
        f"{notes}:4: {sha}: touches none of b.py",
        f"{notes}:5: 0123456: no such commit",
    ]
    assert check_notes.main([str(notes), "--repo", str(repo)]) == 1
    notes.write_text(f"`pkg/a.py` changed (commit `{sha}`).\n")
    assert check_notes.main([str(notes), "--repo", str(repo)]) == 0
