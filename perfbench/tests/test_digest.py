"""Order-insensitive digests (perfbench/digest.py) and the fast-join
borderline rule (perfbench/join_tile.py)."""

import numpy as np

import digest as D
import join_tile


def test_np_hash_matches_spark_xxhash64():
    # Spark 4.1: SELECT xxhash64(a, a) FROM VALUES (0), (1), (-1), (123456789)
    a = np.array([0, 1, -1, 123456789])
    assert D.np_hash(a, a).tolist() == [
        -9199931545335556226, -5792773037217024698,
        7877098769625710558, 8008310275186080547]


def test_digest_ignores_row_order_but_not_content():
    rng = np.random.default_rng(3)
    a, b = rng.integers(0, 1000, 500), rng.integers(0, 1000, 500)
    perm = rng.permutation(500)
    assert D.np_digest(a, b) == D.np_digest(a[perm], b[perm])
    b2 = b.copy()
    b2[7] += 1
    assert D.np_digest(a, b2) != D.np_digest(a, b)


def test_floor_to_rounds_down_at_resolution():
    assert D.floor_to([1.23456, -1.23456], 1e2).tolist() == [123, -124]


def test_borderline_pairs_may_fall_either_way():
    h = D.np_hash(np.arange(5))
    sure, edge = h[:3], tuple(int(x) for x in h[3:])
    want = (3, D.xor_all(sure), edge)
    assert join_tile.matches((3, D.xor_all(sure)), want)
    assert join_tile.matches((4, D.xor_all(h[:4])), want)
    assert join_tile.matches((5, D.xor_all(h)), want)
    assert not join_tile.matches((4, D.xor_all(sure)), want)
    assert not join_tile.matches((2, D.xor_all(h[:2])), want)
