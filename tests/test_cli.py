"""The command-line entry point's argument surface. ``argparse`` exits
before ``get_spark``, so these tests start no JVM."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULE = "real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark"


def _cli(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", MODULE, *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )


def test_help_lists_validated_layout_choices():
    out = _cli("--help")
    assert out.returncode == 0, out.stderr
    assert "--validated-layout" in out.stdout
    assert "{flat,bucketed}" in out.stdout
    assert "--materialize-validated" not in out.stdout


def test_unknown_validated_layout_exits_2():
    for layout in ("hilbert", "zorder"):
        out = _cli("--raw", "r", "--out", "o", "--validated-layout", layout)
        assert out.returncode == 2
        assert f"invalid choice: '{layout}'" in out.stderr
