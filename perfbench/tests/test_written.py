"""What a write left in a table, from listings before and after it."""

from workloads import data_files, written


def test_new_files_bytes_and_changed_partitions():
    before = {"season=1/a.parquet": 10, "season=2/b.parquet": 20, "season=3/c.parquet": 5}
    after = {"season=1/a.parquet": 10, "season=2/d.parquet": 30, "season=2/e.parquet": 7,
             "season=4/f.parquet": 1}
    # season=2 rewritten, season=3 removed, season=4 added; season=1 untouched
    assert written(before, after) == (38, 3, 3)
    assert written(after, after) == (0, 0, 0)


def test_data_files_skips_marker_files(tmp_path):
    (tmp_path / "season=1").mkdir()
    (tmp_path / "season=1" / "part-0.parquet").write_bytes(b"x" * 5)
    (tmp_path / "season=1" / ".part-0.parquet.crc").write_bytes(b"c")
    (tmp_path / "_SUCCESS").write_bytes(b"")
    assert data_files(str(tmp_path)) == {"season=1/part-0.parquet": 5}
