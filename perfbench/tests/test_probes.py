"""Storage and /proc probes."""

import os

from perfbench import probes


def test_written_counts_new_and_rewritten_data_files_only(tmp_path):
    keep, redo = tmp_path / "a.parquet", tmp_path / "b.parquet"
    keep.write_bytes(b"x" * 10)
    redo.write_bytes(b"y" * 20)
    before = probes.snapshot(str(tmp_path))
    os.replace(str(redo), str(tmp_path / "old"))  # a swap writes a new inode
    redo.write_bytes(b"z" * 30)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "c.parquet").write_bytes(b"w" * 5)
    (tmp_path / "sub" / "_SUCCESS").write_bytes(b"")
    (tmp_path / "sub" / ".c.parquet.crc").write_bytes(b"k" * 7)
    after = probes.snapshot(str(tmp_path))
    assert probes.written(before, after) == (3, 30 + 5 + 20)  # b, c and 'old'
    assert probes.tree_size(str(tmp_path / "sub")) == (1, 5)


def test_tree_usage_reads_this_process():
    u = probes.tree_usage()
    assert u["py"] > 0 and u["jvm"] >= 0 and u["peak_rss_mb"] > 0
    assert os.getpid() in probes.process_tree()
