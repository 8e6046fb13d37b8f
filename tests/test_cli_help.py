"""`--help` on the repo's command-line scripts prints usage and exits
without doing the script's work: bench.py and the oracle checks must not
start Spark, and no script may take `--help` for its output directory."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _help(script: Path, cwd: Path) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(script), "--help"],
        cwd=str(cwd), capture_output=True, text=True, timeout=30,
    )


def test_bench_help_prints_usage_without_running(tmp_path):
    proc = _help(REPO / "bench.py", tmp_path)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.startswith("usage: bench.py")
    assert "total_bench_sec" in proc.stdout  # the docstring is the help text
    # the benchmark's output lines are bare JSON objects; none was printed
    assert not any(ln.startswith("{") for ln in proc.stdout.splitlines())


def test_package_pyfiles_help_creates_no_directory(tmp_path):
    proc = _help(REPO / "scripts" / "package_pyfiles.py", tmp_path)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.startswith("usage: package_pyfiles.py")
    assert list(tmp_path.iterdir()) == []


@pytest.mark.parametrize(
    "script",
    [
        "make_degenerate_fixture.py",
        "make_hostile_fixture.py",
        "make_shuffled_fixture.py",
        "make_fuzz_fixture.py",
        "check_oracle.py",
        "check_layout_invariance.py",
    ],
)
def test_script_help_prints_usage_and_writes_nothing(tmp_path, script):
    proc = _help(REPO / "scripts" / script, tmp_path)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.startswith(f"usage: {script}")
    assert list(tmp_path.iterdir()) == []
