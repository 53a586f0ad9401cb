"""``queries._scan_parallelism``: the footer-only estimate of how many
tasks a parquet scan can use.  No Spark session needed."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from spider_spark.queries import _scan_parallelism


def _write_parts(path, n, start=0):
    for i in range(start, start + n):
        pq.write_table(pa.table({"x": [i]}),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def test_non_parquet_entries_do_not_cap_the_walk(tmp_path):
    """Checksum/marker files sort ahead of the data files; they must not
    count toward the walk's entry cap."""
    for i in range(65):
        (tmp_path / f".part-{i:05d}.parquet.crc").write_bytes(b"")
    _write_parts(str(tmp_path), 20)
    assert _scan_parallelism(str(tmp_path)) >= 16


def test_cache_follows_rewrites(tmp_path):
    path = str(tmp_path / "t.parquet")
    os.mkdir(path)
    _write_parts(path, 1)
    assert _scan_parallelism(path) == 1
    # a rewrite in the same process (new files, new dir mtime)
    _write_parts(path, 19, start=1)
    os.utime(path, ns=(0, os.stat(path).st_mtime_ns + 1))
    assert _scan_parallelism(path) == 20


def test_missing_path_assumes_parallel(tmp_path):
    assert _scan_parallelism(str(tmp_path / "absent.parquet")) >= 64
