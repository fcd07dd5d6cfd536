"""Every tracked Python file compiles with compile-time warnings raised
as errors: an invalid escape sequence in a plain string is a
DeprecationWarning on 3.11, a SyntaxWarning from 3.12, and slated to
become an error."""

from __future__ import annotations

import subprocess
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _tracked_sources() -> list[Path]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=ROOT, check=True,
            capture_output=True, text=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        # an exported tree without git metadata: every source file
        return sorted(p for p in ROOT.rglob("*.py") if ".git" not in p.parts)
    return [ROOT / p for p in out]


def test_tracked_sources_compile_without_warnings():
    failures = []
    for path in _tracked_sources():
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(path.read_bytes(), str(path), "exec")
            except (SyntaxError, SyntaxWarning, DeprecationWarning) as e:
                failures.append(f"{path.relative_to(ROOT)}: {e}")
    assert not failures, "\n".join(failures)
