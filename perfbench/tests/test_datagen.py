"""Inputs are a pure function of the seed."""

import hashlib
import os

import numpy as np

from perfbench import datagen


def _digest(d):
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_same_seed_same_source(tmp_path):
    for name in ("a", "b"):
        datagen.write_source(str(tmp_path / name), 7, 0.001, 300)
    datagen.write_source(str(tmp_path / "c"), 8, 0.001, 300)
    a, b, c = (_digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert set(a) == set(c) and a["orders.parquet"] != c["orders.parquet"]
    assert a["region.parquet"] == c["region.parquet"]


def test_doc_slices_are_seeded_disjoint_held_out():
    s1 = datagen.doc_slices(2000, 3, 10)
    assert [x.tolist() for x in s1] == [x.tolist() for x in datagen.doc_slices(2000, 3, 10)]
    assert [x.tolist() for x in s1] != [x.tolist() for x in datagen.doc_slices(2000, 4, 10)]
    ids = np.concatenate(s1)
    assert len(s1) == 20 and len(set(ids.tolist())) == len(ids) == 200
    assert (ids % datagen.ARRIVAL_MOD == 0).all()


def test_doc_slice_file_holds_exactly_its_ids(tmp_path):
    import pyarrow.parquet as pq

    datagen.write_source(str(tmp_path), 1, 0.001, 300)
    ids = datagen.doc_slices(300, 1, 5)[2]
    path = str(tmp_path / "slice.parquet")
    assert datagen.write_doc_slice(str(tmp_path / "documents.parquet"), path, ids) > 0
    got = pq.read_table(path).column("doc_id").to_pylist()
    assert sorted(got) == ids.tolist()
