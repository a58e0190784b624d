import pytest

from stats import highest_percentile, percentile, supports


@pytest.mark.parametrize("n,want", [
    (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (199, 90.0), (200, 95.0),
    (999, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_highest_percentile_keeps_ten_beyond(n, want):
    assert highest_percentile(n) == want
    if want is not None:
        assert round(n * (100 - want) / 100, 6) >= 10


def test_supports_boundary():
    assert supports(200, 95) and not supports(199, 95)


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 95) == pytest.approx(4.8)
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 5.0
