"""Small pure helpers of the runner and the oracle check."""

from perfbench import oracle, run


def test_tail_is_the_eleventh_largest_sample():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = run.tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10
    assert run.tail([1.0, 3.0, 2.0]) == (3.0, 100.0, 3)


def test_same_topk_checks_keys_and_scores():
    want = [[["c1", 0], 1.5], [["c2", 3], 1.0]]
    assert oracle.same_topk([[["c1", 0], 1.5 + 1e-12], [["c2", 3], 1.0]],
                            want)
    assert not oracle.same_topk([[["c2", 3], 1.0], [["c1", 0], 1.5]], want)
    assert not oracle.same_topk([[["c1", 0], 1.5 + 1e-6], [["c2", 3], 1.0]],
                                want)
    assert not oracle.same_topk(want[:1], want)
