"""Source hygiene: every tracked Python file compiles with the
compiler's own warnings promoted to errors. An invalid escape such as
``'\\s'`` in a non-raw string is a DeprecationWarning today and a
SyntaxWarning on newer interpreters; either way it would reach every
import of the file."""

from __future__ import annotations

import subprocess
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _tracked_py() -> list[Path]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "-z", "*.py"],
            cwd=ROOT, capture_output=True, check=True,
        ).stdout.decode()
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        return [
            p for p in ROOT.rglob("*.py")
            if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
        ]
    return [ROOT / p for p in out.split("\0") if p]


def test_tracked_sources_compile_without_warnings():
    files = _tracked_py()
    assert files
    bad = []
    for path in files:
        src = path.read_text(encoding="utf-8")
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(src, str(path), "exec", dont_inherit=True)
            except (SyntaxError, SyntaxWarning, DeprecationWarning) as e:
                bad.append(f"{path.relative_to(ROOT)}: {e}")
    assert not bad, "\n".join(bad)
