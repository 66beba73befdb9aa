"""``tools/check_oracle.py`` rejects bad ``--skip`` arguments and unknown
query names loudly, before any Spark session starts."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

TOOL = Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"


def _run(*args):
    return subprocess.run(
        [sys.executable, str(TOOL), *args], capture_output=True, text=True, timeout=120
    )


def test_trailing_skip_is_a_usage_error():
    out = _run("--skip")
    assert out.returncode == 2
    assert "--skip needs" in out.stderr


def test_unknown_skip_name_fails_and_lists_valid_names():
    out = _run("--skip", "logs_overview,no_such_query")
    assert out.returncode == 2
    assert "no_such_query" in out.stderr
    assert "valid names:" in out.stderr and "logs_overview" in out.stderr


def test_unknown_query_name_fails_and_lists_valid_names():
    out = _run("sf_dir", "no_such_query")
    assert out.returncode == 2
    assert "no_such_query" in out.stderr
    assert "valid names:" in out.stderr and "logs_overview" in out.stderr


def test_contract_name_under_retired_is_unknown():
    out = _run("--retired", "sf_dir", "logs_overview")
    assert out.returncode == 2
    assert "logs_overview" in out.stderr
    assert "valid names:" in out.stderr and "class_counts" in out.stderr
