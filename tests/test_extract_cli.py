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


@pytest.mark.parametrize(
    "inp, named",
    [("iceberg:cc.pages", "iceberg:"), ("warc:{tmp}/*.warc.gz", "warc:")],
    ids=["iceberg", "warc"],
)
def test_stream_rejects_inputs_it_cannot_read(tmp_path, inp, named):
    r = subprocess.run(
        [sys.executable, SCRIPT, "--stream",
         "--input", inp.format(tmp=tmp_path), "--output", str(tmp_path / "out")],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 2, r.stderr[-2000:]
    assert "--stream reads a parquet landing dir" in r.stderr and named in r.stderr
    assert not (tmp_path / "out").exists()


def test_checkpoint_without_stream_is_rejected(tmp_path):
    r = subprocess.run(
        [sys.executable, SCRIPT,
         "--input", str(tmp_path / "pages"), "--output", str(tmp_path / "out"),
         "--checkpoint", str(tmp_path / "cp")],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 2, r.stderr[-2000:]
    assert "--checkpoint is only used with --stream" in r.stderr
    assert not (tmp_path / "out").exists()
