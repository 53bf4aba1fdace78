"""The word-break class table's temp file is keyed on the classifier:
a different key writes, and reads, a different file."""

import numpy as np

from golucene_spark.analysis import wordbreak


def _table(monkeypatch, key):
    monkeypatch.setattr(wordbreak, "_TABLE", None)
    monkeypatch.setattr(wordbreak, "_table_key", lambda: key)
    return wordbreak.class_table()


def test_table_file_follows_classifier_key(monkeypatch, tmp_path):
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
    a = _table(monkeypatch, "a")
    assert (tmp_path / "golucene_wb_table_a.npy").is_file()
    assert a[ord("x")] == wordbreak.ALETTER

    # a file under another key is read for that key only
    fake = np.full(0x110000, wordbreak.OTHER, dtype=np.uint8)
    np.save(tmp_path / "golucene_wb_table_b.npy", fake)
    assert np.array_equal(_table(monkeypatch, "b"), fake)
    assert np.array_equal(_table(monkeypatch, "a"), a)

    _table(monkeypatch, "c")
    assert sorted(p.name for p in tmp_path.glob("*.npy")) == [
        "golucene_wb_table_a.npy", "golucene_wb_table_b.npy",
        "golucene_wb_table_c.npy"]

