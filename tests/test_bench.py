"""bench.py's splittable-copy step must fail loudly: a copy that
cannot be built raises (the main bench reports the error and falls
back to the raw layout) instead of quietly returning no copy."""

from __future__ import annotations

import tempfile

import pytest

import bench


def test_split_copy_failure_raises(tmp_path, monkeypatch):
    src = tmp_path / "src"
    src.mkdir()
    (src / "broken.parquet").write_bytes(b"not a parquet file")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with pytest.raises(Exception, match="(?i)parquet"):
        bench._split_copy_dir(str(src))
    with pytest.raises(FileNotFoundError):
        bench._split_copy_dir(str(tmp_path / "empty"))


def test_split_copy_builds_and_caches(tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"x": list(range(10))}), src / "t.parquet")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    copy = bench._split_copy_dir(str(src))
    assert copy.startswith(str(tmp_path))
    assert pq.read_table(f"{copy}/t.parquet").num_rows == 10
    assert bench._split_copy_dir(str(src)) == copy
