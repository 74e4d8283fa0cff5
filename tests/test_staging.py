"""``sources/staging.fingerprint_cached_dir`` judges a staged copy by the
files under its source, not by the source path's own stat."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from big_data_streaming_spark.sources.staging import fingerprint_cached_dir


def test_file_rewritten_inside_directory_source_restages(tmp_path):
    src = tmp_path / "t.parquet"
    part = src / "k=1" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"v": [1, 2, 3]}), part)
    dst = str(tmp_path / "staged")
    want = [os.path.join(dst, "part_0.parquet")]

    def build() -> None:
        pq.write_table(pq.read_table(part), want[0])

    def staged_rows() -> list[int]:
        fingerprint_cached_dir(str(src), dst, want, build)
        return pq.read_table(want[0]).column("v").to_pylist()

    assert staged_rows() == [1, 2, 3]

    # Rewrite the file in place at the same size; the directories above
    # it keep their stat, as a same-name rewrite leaves them.
    dir_stats = [os.stat(d) for d in (src, part.parent)]
    old = os.stat(part)
    pq.write_table(pa.table({"v": [4, 5, 6]}), part)
    assert os.stat(part).st_size == old.st_size
    os.utime(part, ns=(old.st_atime_ns, old.st_mtime_ns + 1_000_000_000))
    for d, st in zip((src, part.parent), dir_stats):
        os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))

    assert staged_rows() == [4, 5, 6]
    # unchanged source: the copy is served, not rebuilt
    mtime = os.stat(want[0]).st_mtime_ns
    assert staged_rows() == [4, 5, 6]
    assert os.stat(want[0]).st_mtime_ns == mtime
