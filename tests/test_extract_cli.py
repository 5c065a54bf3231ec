"""``jobs/extract.py`` argument checks that run before any Spark
session is built (Spark-free: the script exits during parsing)."""

import os
import subprocess
import sys

import pytest

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs", "extract.py"
)


@pytest.mark.parametrize(
    "extra, named",
    [
        (["--page", "1"], "--page"),
        (["--filters", "extended"], "--filters extended"),
        (["--resume"], "--resume"),
        (["--compact"], "--compact"),
        (["--wet-output", "wet"], "--wet-output"),
    ],
    ids=["page", "filters-extended", "resume", "compact", "wet-output"],
)
def test_stream_rejects_flags_it_would_ignore(tmp_path, extra, named):
    r = subprocess.run(
        [sys.executable, SCRIPT, "--stream",
         "--input", str(tmp_path / "landing"), "--output", str(tmp_path / "out"),
         *extra],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 2, r.stderr[-2000:]
    assert "--stream does not support" in r.stderr and named in r.stderr
    assert not (tmp_path / "out").exists()
