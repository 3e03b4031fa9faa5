import hashlib
import os

import pyarrow.parquet as pq

import datagen


def _digests(paths):
    return [hashlib.sha256(open(p, "rb").read()).hexdigest() for p in paths]


def test_same_seed_gives_byte_identical_corpus(tmp_path):
    a = datagen.write_ingest_corpus(str(tmp_path / "a"), datagen.ingest_corpus(7, 2, 0.07), 4)
    b = datagen.write_ingest_corpus(str(tmp_path / "b"), datagen.ingest_corpus(7, 2, 0.07), 4)
    c = datagen.write_ingest_corpus(str(tmp_path / "c"), datagen.ingest_corpus(8, 2, 0.07), 4)
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)


def test_corpus_has_the_stated_invalid_share_and_offsets():
    corpus = datagen.ingest_corpus(3, 4, 0.07)
    n = 4 * datagen.SF01_ROWS["documents"]
    assert list(corpus["doc_id"]) == list(range(n))
    invalid = corpus["text"].map(lambda t: t is None or t.strip(" ") == "")
    assert invalid.sum() == round(n * 0.07)
    assert set(corpus.loc[invalid, "text"].map(repr)) == {repr(t) for t in datagen._INVALID_TEXTS}


def test_corpus_files_split_doc_ids_in_order(tmp_path):
    paths = datagen.write_ingest_corpus(str(tmp_path), datagen.ingest_corpus(1, 1, 0.07), 5)
    ids = [pq.read_table(p)["doc_id"].to_pylist() for p in paths]
    assert [x for part in ids for x in part] == list(range(datagen.SF01_ROWS["documents"]))
    assert all(part == sorted(part) for part in ids)


def test_sf01_tables_repeat_per_seed(tmp_path):
    a = datagen.write_sf01(str(tmp_path / "a"), 5)
    b = datagen.write_sf01(str(tmp_path / "b"), 5)
    names = sorted(os.listdir(a))
    assert len(names) == 10
    assert _digests([os.path.join(a, n) for n in names]) == _digests([os.path.join(b, n) for n in names])
    assert pq.read_metadata(os.path.join(a, "lineitem.parquet")).num_rows == datagen.SF01_ROWS["lineitem"]
