"""The seeded generator: deterministic per seed, different across seeds,
and its df bands hold on a small corpus."""

import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.oracle import build_index
from resin_spark.tokenizer import tokenize_py

N = 40_000


def _rows(spark, n, seed):
    return [tuple(r) for r in gen.corpus_df(spark, n, seed)
            .orderBy("conv_id", "turn_idx").collect()]


def test_corpus_is_deterministic_per_seed_and_differs_across_seeds(spark):
    a = _rows(spark, 300, 1)
    assert a == _rows(spark, 300, 1)
    b = _rows(spark, 300, 2)
    assert [r[3] for r in a] != [r[3] for r in b]


def test_words_match_the_python_twin_and_the_tokenizer(spark):
    texts = [r[3] for r in _rows(spark, 200, 3)]
    vocab = {gen.word(r) for r in range(gen.VOCAB)}
    for t in texts:
        assert t.split() == tokenize_py(t)
        assert set(t.split()) <= vocab


def test_roles_set_turn_length_and_tool(spark):
    for _, turn, role, text, tool in _rows(spark, 400, 4):
        lo, hi = gen.ROLE_LEN[role]
        assert lo <= len(text.split()) <= hi
        assert (tool in gen.TOOLS) == (role == "tool")
        if turn == 0:
            assert role == "user"


@pytest.fixture(scope="module")
def small_vocab(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus"))
    gen.corpus_df(spark, N, 5).write.mode("overwrite").parquet(path)
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    terms = {w for t in texts for w in t.split()}
    idx, _, _ = build_index([path], {"text": terms,
                                     "role": {"user", "assistant", "tool"},
                                     "tool": set(gen.TOOLS)})
    dfs = {(f, t): len(p) for f, post in idx.postings.items()
           for t, p in post.items() if p}
    return gen.Vocab(dfs, N), texts


def test_df_bands_hold_and_do_not_overlap(small_vocab):
    vocab, texts = small_vocab
    phrases = gen.phrase_candidates(texts[:500], vocab, gen.random.Random(0),
                                    50)
    for seed in (1, 2):
        sel = gen.query_stream("search_selective", vocab, seed, 3, phrases)
        broad = gen.query_stream("search_broad", vocab, seed, 1)
        assert max(q.sigma_df for q in sel) < N * gen.SELECTIVE_MAX
        assert min(q.sigma_df for q in broad) >= N * gen.BROAD_MIN
        wide = [q for q in broad if q.shape == "nested_wide"]
        assert all(q.sigma_df >= N * gen.WIDE_MIN for q in wide)
        assert all(9 <= len(q.keys) <= 12 for q in wide)
    for t in vocab.rare:
        assert vocab.dfs[("text", t)] <= max(gen.RARE[0], N * gen.RARE[1])
    for t in vocab.stop:
        assert vocab.dfs[("text", t)] >= N * gen.STOP_MIN


def test_query_stream_is_seeded(small_vocab):
    vocab, texts = small_vocab
    phrases = gen.phrase_candidates(texts[:500], vocab, gen.random.Random(0),
                                    50)

    def draw(seed):
        return [q.to_json() for q in
                gen.query_stream("search_selective", vocab, seed, 2, phrases)]

    assert draw(7) == draw(7)
    assert draw(7) != draw(8)
