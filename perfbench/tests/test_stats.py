"""The tail-percentile rule and interval arithmetic."""

from perfbench.stats import tail, union_length


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    t = tail(xs)
    assert t == {"value": 89.0, "percentile": 90.0, "samples": 100,
                 "beyond": 10}
    assert sum(x > t["value"] for x in xs) == 10


def test_tail_order_does_not_matter():
    xs = [float(i) for i in range(40)]
    assert tail(list(reversed(xs))) == tail(xs)
    assert tail(xs)["percentile"] == 75.0  # 30 of 40 at or below


def test_tail_at_twenty_samples_is_the_median_with_ten_beyond():
    t = tail([float(i) for i in range(20)])
    assert (t["value"], t["percentile"], t["beyond"]) == (9.0, 50.0, 10)


def test_tail_below_twenty_samples_falls_back_to_median():
    t = tail([5.0, 1.0, 3.0])
    assert (t["value"], t["percentile"], t["samples"]) == (3.0, 50.0, 3)
    assert t["beyond"] < 10


def test_tail_of_nothing():
    assert tail([])["samples"] == 0


def test_union_length_merges_and_clips():
    iv = [(1, 3), (2, 5), (8, 12), (6, 6)]
    assert union_length(iv) == 4 + 4
    assert union_length(iv, 0, 10) == 4 + 2
    assert union_length([], 0, 1) == 0
