"""bench_extra's ``--scale`` probe cache must be keyed by the source SF
dir as well as the scale."""

from __future__ import annotations


def test_scaled_cache_dir_keys_on_sf_dir(tmp_path):
    from bench_extra import scaled_cache_dir

    a, b = tmp_path / "sf0.01", tmp_path / "sf0.1"
    a.mkdir()
    b.mkdir()
    assert scaled_cache_dir(str(a), 10) != scaled_cache_dir(str(b), 10)
    assert scaled_cache_dir(str(a), 10) != scaled_cache_dir(str(a), 4)
    # the same dir spelled differently resolves to the same cache
    assert scaled_cache_dir(str(a), 10) == scaled_cache_dir(f"{b}/../sf0.01/", 10)
