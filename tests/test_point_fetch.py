"""Targeted row-group point fetch (executor._docs_rg_index /
_docs_point_table) over the bounded-row-group docs layout
(build.ROW_GROUP_BYTES).

The top-k fetch used to decode whole row groups through the dataset
scanner — with Spark's 128 MB default groups a 10-doc fetch decompressed
millions of text rows (measured 0.87 s/query at the 6M-turn tier, the
dominant warm cost).  The build now writes 256 KB groups (~2.3k
transcript rows) and the fetch binary-searches cached footer stats to
read only the covering groups, with one read per covering file.
Invariants:

* the targeted read returns exactly the scanner's rows (parity across
  the targeted, scanner-forced, and Spark-join physical paths);
* a partition-column select falls back to the scanner;
* legacy oversized-group layouts bail to the scanner (gate test);
* refresh() rebuilds the footer index (append visibility);
* every covering file is closed after the fetch (no descriptor leak).
"""

import pytest

from resin_spark.executor import SearchEngine


@pytest.fixture()
def fresh_engine(spark, index_root):
    return SearchEngine(spark, index_root)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_rg_index_builds_on_bounded_layout(fresh_engine):
    idx = fresh_engine._docs_rg_index()
    assert idx is not None
    mins, cum, entries = idx
    assert len(entries) >= 1
    assert mins == sorted(mins)
    # cum is the running max of group maxima (the stabbing bound)
    run = entries[0][1]
    for e, c in zip(entries, cum):
        run = max(run, e[1])
        assert c == run


def test_point_fetch_parity_across_paths(spark, index_root):
    q = {"and": {"text": "apple", "not": {"text": "apples"}}}
    targeted = SearchEngine(spark, index_root)
    assert targeted._docs_rg_index() is not None
    want = _rows(targeted.search(q, k=8))

    scanner = SearchEngine(spark, index_root)
    scanner._POINT_RG_MAX_ROWS = -1  # every group "oversized" -> scanner
    assert scanner._docs_rg_index() is None
    assert _rows(scanner.search(q, k=8)) == want

    sparkio = SearchEngine(spark, index_root)
    sparkio.io_mode = "spark"  # no pa dataset -> broadcast-join fetch
    assert _rows(sparkio.search(q, k=8)) == want


def test_partition_column_select_falls_back(fresh_engine):
    # 'segment' lives in the directory name, not the parquet files — the
    # targeted reader must refuse and the scanner must serve it
    assert fresh_engine._docs_point_table([1], ["doc_id", "segment"]) is None
    got = fresh_engine.search(
        {"and": {"text": "apple"}}, k=3, select=["role", "segment"]
    ).collect()
    assert got and all(r["segment"] == 0 for r in got)


def test_rg_index_refresh_rebuilds(fresh_engine):
    idx1 = fresh_engine._docs_rg_index()
    assert idx1 is not None
    assert fresh_engine._docs_rg_index() is idx1  # cached
    fresh_engine.refresh()
    idx2 = fresh_engine._docs_rg_index()
    assert idx2 is not None and idx2 is not idx1  # rebuilt after refresh


def test_point_fetch_closes_covering_files(fresh_engine):
    import os

    need = fresh_engine._pa_dataset("docs").to_table(
        columns=["doc_id"])["doc_id"].to_pylist()[::7]
    names = ["doc_id", "text"]
    first = fresh_engine._docs_point_table(need, names)  # builds the index
    assert first is not None and first.num_rows == len(need)
    before = len(os.listdir("/proc/self/fd"))
    for _ in range(50):
        assert fresh_engine._docs_point_table(need, names).num_rows == len(need)
    assert len(os.listdir("/proc/self/fd")) == before
