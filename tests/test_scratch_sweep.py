"""The scratch sweep removes a stale sibling dir only once its creating
process is gone, so it never deletes a live run's staged data."""

import os
import subprocess
import sys
import tempfile
import time

import pytest

from cheque_ocr_project_spark.sources import scratch


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _dead_pid() -> int:
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    return child.pid


def _make(root, name: str, age_s: float):
    d = root / name
    d.mkdir()
    (d / "part.parquet").write_bytes(b"x")
    t = time.time() - age_s
    os.utime(d, (t, t))
    return d


def test_mkdtemp_tags_the_creating_pid(tmp_root):
    d = scratch.mkdtemp("novelty_banded_")
    assert os.path.dirname(d) == str(tmp_root)
    assert os.path.basename(d).startswith(f"novelty_banded_pid{os.getpid()}-")


def test_sweep_keeps_live_pid_and_fresh_dirs(tmp_root):
    live = _make(tmp_root, f"novelty_banded_pid{os.getpid()}-abc", 7200)
    dead = _dead_pid()
    dead_old = _make(tmp_root, f"novelty_part3_pid{dead}-abc", 7200)
    dead_fresh = _make(tmp_root, f"novelty_stream_in_pid{dead}-def", 60)
    untagged_old = _make(tmp_root, "corpus_job_contract_abc", 7200)
    untagged_fresh = _make(tmp_root, "corpus_job_contract_def", 60)
    other = _make(tmp_root, f"sess_stream_in_pid{dead}-abc", 7200)

    scratch.sweep("novelty_banded_", "novelty_part", "novelty_stream_",
                  "corpus_job_contract_")

    assert live.exists()             # 2 h old, but its process is alive
    assert not dead_old.exists()     # 2 h old and its process is gone
    assert dead_fresh.exists()       # process gone, but under the cutoff
    assert not untagged_old.exists() # no pid: the age rule alone
    assert untagged_fresh.exists()
    assert other.exists()            # not a swept prefix


def test_sessionize_streaming_sweeps_and_tags_its_scratch(spark, tmp_root):
    """The streaming contract row stages its input and checkpoint in
    pid-tagged scratch dirs and sweeps stale siblings, so repeated runs
    leave no untagged dirs behind."""
    from cheque_ocr_project_spark.plans import events

    stale = _make(tmp_root, "sess_stream_in_abc", 7200)

    out = events.q_sessionize_streaming(spark, "/root/testdata/sf0.001")
    assert out.count()

    assert not stale.exists()
    made = sorted(p.name for p in tmp_root.glob("sess_stream_*"))
    tag = f"pid{os.getpid()}-"
    assert [n.split(tag)[0] for n in made] == [
        "sess_stream_ckpt_", "sess_stream_in_"], made
