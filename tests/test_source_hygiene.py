"""Source-level checks that need no Spark session."""

import subprocess
import warnings
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def _tracked_python_files():
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True,
            text=True, check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("not a git checkout")
    return [ROOT / f for f in out.split()]


def test_every_tracked_python_file_compiles_with_warnings_as_errors():
    """An invalid escape such as '\\s' inside a non-raw string is only a
    SyntaxWarning today and a SyntaxError under ``-W error`` (and in a
    future Python); no tracked file may carry one."""
    bad = []
    for path in _tracked_python_files():
        src = path.read_text(encoding="utf-8")
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(src, str(path), "exec")
            except (SyntaxError, Warning) as e:
                bad.append(f"{path.relative_to(ROOT)}: {e}")
    assert not bad, bad
