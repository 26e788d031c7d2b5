"""tmpfs scratch gating: opt-in + free-space check (no silent 64 MB
/dev/shm footgun — the Docker-default mount must not swallow shuffles)."""

from __future__ import annotations

import os

from neural_locality_sensitive_hashing_spark import session
from neural_locality_sensitive_hashing_spark.session import (
    _TMPFS_MIN_FREE_BYTES,
    _tmpfs_scratch,
)


def test_tmpfs_requires_opt_in(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_TMPFS", raising=False)
    assert _tmpfs_scratch() is None


def test_tmpfs_opt_in_with_headroom(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_TMPFS", "1")
    target = str(tmp_path / "mount" / "scratch")
    os.makedirs(os.path.dirname(target))
    st = os.statvfs(os.path.dirname(target))
    free = st.f_bavail * st.f_frsize
    monkeypatch.setattr(session, "_TMPFS_SCRATCH", target)
    got = _tmpfs_scratch()
    if free >= _TMPFS_MIN_FREE_BYTES:
        assert got == target and os.path.isdir(target)
    else:
        assert got is None


def test_tmpfs_missing_mount(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_TMPFS", "1")
    monkeypatch.setattr(session, "_TMPFS_SCRATCH", str(tmp_path / "nope" / "scratch"))
    assert _tmpfs_scratch() is None
