"""bench.py, the one extraction-scaling harness: the light-pair choice, and
one skewed-profile throughput leg end to end."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

import bench

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize("nproc,pair", [(3, None), (4, (1, 4)), (32, (8, 32))])
def test_light_pair(nproc, pair):
    assert bench.light_pair(nproc) == pair


def test_extraction_throughput_skewed_smoke():
    """One session, 32 skewed docs. A subprocess because the leg stops its
    own session, which in-process would stop the shared fixture's."""
    script = (
        "import bench\n"
        "r = bench.extraction_throughput(2, 32, profile='skewed')\n"
        "assert r > 0, r\n"
        "print('THROUGHPUT_OK', r)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=str(REPO),
        capture_output=True, text=True, timeout=300,
    )
    assert "THROUGHPUT_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-3000:]


def test_scaling_report_carries_its_own_wall(monkeypatch):
    """Each scaling report times its whole sweep, so the process wall is
    accounted for beyond the headline ``wall_sec``."""
    monkeypatch.setattr(bench, "extraction_throughput",
                        lambda lvl, n_docs, profile="heavy": float(lvl))
    r = bench.scaling_report(10, levels=(1, 4), rounds=1)
    assert r["efficiency_1to4"] == 1.0 and r["rounds_run"] == 1
    assert r["wall_sec"] >= 0.0
