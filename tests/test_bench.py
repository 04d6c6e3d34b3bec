"""bench.py's failures are loud and its timing core is exact.

- The splittable-copy step raises when a copy cannot be built (the
  main bench reports the error and falls back to the raw layout)
  instead of quietly returning no copy.
- _time_query_cold, the one best-of-N timing function, is checked
  against a fake clock.
- An unrecognised flag exits 2 before any Spark session starts,
  instead of falling through to the full bench.
"""

from __future__ import annotations

import os
import subprocess
import sys
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


class _FakeClock:
    def __init__(self):
        self.now = 100.0

    def __call__(self):
        return self.now


class _FakeFrame:
    """Stands in for a DataFrame: each noop save advances the clock by
    the next of ``save_secs``."""

    def __init__(self, clock, save_secs):
        self.clock, self.save_secs, self.saves = clock, list(save_secs), 0

    @property
    def write(self):
        return self

    def format(self, fmt):
        assert fmt == "noop"
        return self

    def mode(self, mode):
        assert mode == "overwrite"
        return self

    def save(self):
        self.clock.now += self.save_secs[self.saves]
        self.saves += 1


def test_time_query_cold_steady_and_first(monkeypatch):
    clock = _FakeClock()
    monkeypatch.setattr(bench.time, "perf_counter", clock)
    saves = [5.0, 3.0, 1.5, 2.0]
    df = _FakeFrame(clock, saves)
    builds = []

    def build():
        builds.append(1)
        clock.now += 0.7
        return df

    steady, first = bench._time_query_cold(build, 3)
    assert len(builds) == 1
    assert df.saves == 3 + 1
    assert steady == min(saves[1:]) == 1.5
    assert first == 0.7 + saves[0]


@pytest.mark.parametrize("flag", ["--haircut", "--bogus"])
def test_unknown_flag_exits_before_any_session(flag):
    script = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
    proc = subprocess.run(
        [sys.executable, script, flag],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 2
    assert proc.stdout == ""
    assert "usage" in proc.stderr


def test_session_workers_find_the_package_from_any_cwd(tmp_path):
    """Run from outside the repository with no PYTHONPATH, a bench
    session's Python workers still import the package: a capture read
    (one ``map_rows`` pass over the package's frame parser) succeeds."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "\n".join([
        "import sys",
        f"sys.path.insert(0, {root!r})",
        "import bench",
        "from ingestor_etl_spark import capturegen as g",
        "from ingestor_etl_spark.sources.pcap import read_pcap",
        "open('x.pcap', 'wb').write(g.pcap([(1, 0, b'a'), (2, 0, b'b')]))",
        "spark = bench._session('bench-cwd-test')",
        "print(read_pcap(spark, 'x.pcap').where('error IS NULL').count())",
        "spark.stop()",
    ])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "2"
