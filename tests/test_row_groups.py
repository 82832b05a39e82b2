"""Row-group layout of the docs and postings tables (build.ROW_GROUP_BYTES)
and the term filters that prune it.

Every embedded point read decodes whole row groups, so it costs O(hits)
only when (a) every writer bounds the groups and (b) the query filter is
one parquet min/max stats can prune.  pyarrow prunes row groups on
``term == t`` but keeps every group for ``term.isin([...])``: the guard
tests catch a return of ``isin`` in the engine's term filters, the layout
test a writer that goes back to one group per file.
"""

import glob
import random

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from resin_spark import build as B
from resin_spark.executor import SearchEngine

TERMS = [f"t{i:03d}" for i in range(60)]
BLOCKS_PER_TERM = 2
ROWS_PER_GROUP = 12  # 6 terms per group, 10 groups


@pytest.fixture(scope="module")
def sorted_postings(tmp_path_factory):
    """A (field, term)-sorted postings-like file with 10 row groups."""
    rows = [(t, b) for t in TERMS for b in range(BLOCKS_PER_TERM)]
    tbl = pa.table({"field": ["text"] * len(rows),
                    "term": [t for t, _ in rows],
                    "block_id": pa.array([b for _, b in rows], pa.int64())})
    path = str(tmp_path_factory.mktemp("pruning") / "part-0.parquet")
    pq.write_table(tbl, path, row_group_size=ROWS_PER_GROUP)
    assert pq.ParquetFile(path).num_row_groups == 10
    return path


def _kept_groups(path, filt) -> list[int]:
    frag = next(iter(pads.dataset(path).get_fragments()))
    return sorted(rg.id for f in frag.split_by_row_group(filt)
                  for rg in f.row_groups)


def _groups_holding(path, terms: set) -> list[int]:
    with pq.ParquetFile(path) as pf:
        return [g for g in range(pf.num_row_groups)
                if terms & set(pf.read_row_group(g, columns=["term"])
                               ["term"].to_pylist())]


@pytest.mark.parametrize("terms", [{"t013"}, {"t013", "t057"},
                                   {"t000", "t031", "t059"}])
def test_term_filter_prunes_row_groups(spark, index_root, sorted_postings,
                                       terms):
    eng = SearchEngine(spark, index_root)
    filt = eng._pa_filter_terms({"text": terms})
    want = _groups_holding(sorted_postings, terms)
    assert len(want) == len(terms)
    assert _kept_groups(sorted_postings, filt) == want
    # a second field's keys add no group of the first field
    filt2 = eng._pa_filter_terms({"text": terms, "role": {"t020"}})
    assert _kept_groups(sorted_postings, filt2) == want


def test_positional_miss_filter_prunes_row_groups(spark, index_root,
                                                   sorted_postings):
    eng = SearchEngine(spark, index_root)
    seen = []

    def record(filt, cols):
        seen.append(filt)
        return []

    eng._pa_postings_rows = record
    # candidate doc 1 lives in block 0: the read also carries a
    # block_id restriction
    eng._phrase_verify_positions_driver("text", ["t013", "t057"], [(1, 1.0)])
    assert len(seen) == 1
    assert (_kept_groups(sorted_postings, seen[0])
            == _groups_holding(sorted_postings, {"t013", "t057"}))


def _corpus(spark, n_turns: int, seed: int, conv_prefix: str):
    """Turns of 100 words drawn from a 30k-word vocabulary: large enough
    that every docs and postings file spans several ROW_GROUP_BYTES
    groups, with no outsized posting rows."""
    from resin_spark.fixtures import TRANSCRIPT_SCHEMA

    rng = random.Random(seed)
    vocab = [f"w{i:05d}" for i in range(30_000)]
    rows = [(f"{conv_prefix}{i // 10:05d}", i % 10,
             ("user", "assistant")[i % 2],
             " ".join(rng.choices(vocab, k=100)), None, None)
            for i in range(n_turns)]
    return spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)


def _check_layout(root: str) -> list[int]:
    """Every docs/postings group is within the budget, and every file
    whose data exceeds it has several groups.  parquet-mr budgets a
    group's buffered values, which at this size are the plain-encoded
    (≈ Arrow) bytes, and flushes at the first size check past the
    budget, so a group may pass it by the few rows written since the
    check before.  Returns the number of multi-group [docs, postings]
    files."""
    multi = [0, 0]
    for i, table in enumerate((B.p_docs(root), B.p_postings(root))):
        files = glob.glob(f"{table}/segment=*/*.parquet")
        assert files
        for f in files:
            with pq.ParquetFile(f) as pf:
                sizes = [pf.read_row_group(g).nbytes
                         for g in range(pf.num_row_groups)]
            assert max(sizes) <= 1.05 * B.ROW_GROUP_BYTES, (f, sizes)
            if sum(sizes) > B.ROW_GROUP_BYTES:
                assert len(sizes) > 1, (f, sizes)
                multi[i] += 1
    return multi


def test_writers_bound_row_groups(spark, tmp_path):
    from resin_spark.api import append_docs

    root = str(tmp_path / "coll")
    B.build_index(spark, _corpus(spark, 2000, 1, "a"), root)
    built = _check_layout(root)
    append_docs(spark, _corpus(spark, 2000, 2, "b"), root)
    appended = _check_layout(root)
    B.compact(spark, root)
    compacted = _check_layout(root)
    # each writer site produced docs and postings files large enough to
    # need several groups
    assert min(built) >= 1 and min(compacted) >= 1
    assert all(a > b for a, b in zip(appended, built))
