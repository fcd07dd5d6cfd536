"""Cross-check the commit claims of notes files against git.

Every ``(commit `abc1234`)`` in a notes file must name a commit of the
repository, and when the same line names files in backticks (a path
ending in a file extension, e.g. ``sources/iceberg.py``), the commit
must touch at least one of them — a line's file is matched by path
suffix against the commit's changed paths. A claim on a line that
names no file only has to name a commit that exists.

    python tools/check_notes.py CHANGES.md ROADMAP.md

Prints one line per bad claim (``file:line: sha: reason``) and exits 1
when there is any, 0 otherwise.
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys

CLAIM = re.compile(r"\(commit `([0-9a-f]{6,40})`\)")
NAMED = re.compile(r"`([\w./-]*\w\.[A-Za-z]{1,5})`")


def _git(repo: str, *args: str) -> str | None:
    r = subprocess.run(
        ["git", "-C", repo, *args], capture_output=True, text=True
    )
    return r.stdout if r.returncode == 0 else None


def touched(repo: str, sha: str) -> list[str] | None:
    """Paths the commit ``sha`` changes, or None when it is no commit."""
    if _git(repo, "cat-file", "-e", f"{sha}^{{commit}}") is None:
        return None
    out = _git(repo, "show", "--name-only", "--format=", sha) or ""
    return [p for p in out.splitlines() if p]


def check(notes: str, repo: str) -> list[str]:
    """The bad claims of ``notes``, one message each."""
    bad = []
    with open(notes, encoding="utf-8") as fh:
        for lineno, line in enumerate(fh, start=1):
            named = NAMED.findall(line)
            for sha in CLAIM.findall(line):
                paths = touched(repo, sha)
                if paths is None:
                    bad.append(f"{notes}:{lineno}: {sha}: no such commit")
                elif named and not any(
                    p == n or p.endswith("/" + n) for p in paths for n in named
                ):
                    bad.append(
                        f"{notes}:{lineno}: {sha}: touches none of "
                        + ", ".join(sorted(set(named)))
                    )
    return bad


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("notes", nargs="+", help="notes files to check")
    ap.add_argument(
        "--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        help="git repository the claims refer to (default: this one)",
    )
    args = ap.parse_args(argv)
    bad = [msg for notes in args.notes for msg in check(notes, args.repo)]
    for msg in bad:
        print(msg)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
