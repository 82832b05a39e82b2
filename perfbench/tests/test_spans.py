"""Span arithmetic and the wrappers that feed it."""

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench import spans
from resin_spark import postings


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent, "qid": "q", "thread": 0, "attrs": {}}


def test_self_time_on_nested_spans():
    sp = [
        _span(0, "query", 0.0, 10.0),
        _span(1, "executor.search", 1.0, 9.0, 0),
        _span(2, "io.postings_read", 2.0, 4.0, 1),
        _span(3, "postings.decode_doc_ids", 4.0, 6.0, 1),
        _span(4, "postings.varint_decode", 4.5, 5.0, 3),
        _span(5, "spark.collect", 9.0, 9.5, 0),
    ]
    st = spans.self_times(sp)
    assert st == {0: 1.5, 1: 4.0, 2: 2.0, 3: 1.5, 4: 0.5, 5: 0.5}
    # the self times of one query's spans partition its wall
    assert sum(st.values()) == 10.0
    assert [s["id"] for s in spans.outermost(sp, "postings.")] == [3]
    assert [s["id"] for s in spans.outermost(sp, "io.")] == [2]


def test_self_time_counts_overlapping_children_once():
    sp = [_span(0, "executor.search", 0.0, 10.0),
          _span(1, "io.docs_fetch", 1.0, 5.0, 0),
          _span(2, "io.docs_fetch", 3.0, 6.0, 0),    # overlaps the first
          _span(3, "spark.collect", 8.0, 12.0, 0)]  # clipped at the parent
    assert spans.self_times(sp)[0] == 10.0 - 5.0 - 2.0


def test_tracer_parents_and_qids():
    tr = spans.Tracer()
    with tr.span("query", qid="a"):
        with tr.span("executor.search"):
            with tr.span("io.docs_fetch"):
                pass
    with tr.span("executor.search"):
        pass
    q, ex, io, free = tr.spans
    assert (ex["parent"], io["parent"], free["parent"]) == (0, 1, None)
    assert (ex["qid"], io["qid"], free["qid"]) == ("a", "a", None)
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_wrappers_return_the_unwrapped_results(tmp_path):
    ids = np.array([3, 7, 8, 100, 1 << 40], dtype=np.int64)
    tfs = np.array([1, 2, 1, 3, 1], dtype=np.int64)
    pos = np.array([0, 1, 5, 2, 0, 4, 9, 7], dtype=np.int64)
    ids_bin = postings.encode_doc_ids(ids)
    tfs_bin = postings.encode_counts(tfs)
    gaps = np.concatenate([np.diff(np.concatenate(([0], r)))
                           for r in np.split(pos, np.cumsum(tfs)[:-1])])
    pos_bin = postings.varint_encode(gaps.astype(np.uint64))
    path = tmp_path / "docs"
    path.mkdir()
    pq.write_table(pa.table({"doc_id": list(range(100)),
                             "x": [str(i) for i in range(100)]}),
                   str(path / "a.parquet"), row_group_size=10)

    def calls():
        filt = pads.field("doc_id").isin([3, 42])
        return (postings.decode_doc_ids(ids_bin).tolist(),
                postings.decode_counts(tfs_bin).tolist(),
                postings.decode_positions(pos_bin, tfs).tolist(),
                pads.dataset(str(path)).to_table(filter=filt).to_pylist(),
                pads.dataset(str(path)).count_rows(),
                pq.ParquetFile(str(path / "a.parquet"))
                .read_row_groups([0, 4]).to_pylist(),
                pq.ParquetFile(str(path / "a.parquet"))
                .read_row_group(2, columns=["x"]).to_pylist())

    plain = calls()
    tr = spans.Tracer()
    uninstall = spans.install(tr)
    try:
        traced = calls()
    finally:
        uninstall()
    assert traced == plain
    assert plain[0] == ids.tolist() and plain[2] == pos.tolist()
    names = [s["name"] for s in tr.spans]
    assert "postings.decode_doc_ids" in names
    assert "postings.varint_decode" in names
    # two dataset reads, two file opens, two row-group reads
    assert names.count("io.docs_fetch") == 6
    assert postings.decode_doc_ids.__name__ == "decode_doc_ids"
    assert calls() == plain  # uninstalled: originals back
    assert len(tr.spans) == len(names)
