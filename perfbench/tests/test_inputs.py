"""The seeded inputs are deterministic: request stream, damage schedule
and generated tables depend on the seed alone."""

from __future__ import annotations

from fractions import Fraction

from perfbench.datagen import generate
from perfbench.serve import (
    CORRUPT_RANK,
    DELETE_RANK,
    N_CLIENTS,
    N_KEYS,
    REQUESTS_PER_CYCLE,
    answer_ok,
    cycle_plan,
    hot_key_order,
    zipf_counts,
)


def test_request_stream_and_damage_repeat_for_a_seed():
    for seed in (0, 1, 12345):
        for cycle in (0, 1, 7):
            assert cycle_plan(seed, cycle) == cycle_plan(seed, cycle)


def test_request_stream_changes_with_seed_and_cycle():
    assert cycle_plan(1, 0) != cycle_plan(2, 0)
    assert cycle_plan(1, 0) != cycle_plan(1, 1)


def test_stream_is_zipf_skewed_over_the_keys():
    counts = zipf_counts(REQUESTS_PER_CYCLE)
    assert sum(counts) == REQUESTS_PER_CYCLE
    assert counts == sorted(counts, reverse=True) and counts[0] > 5 * max(1, counts[-1])
    for seed in (3, 4):
        order = hot_key_order(seed)
        assert sorted(order) == list(range(N_KEYS))
        keys = cycle_plan(seed, 0)[0]
        assert [keys.count(k) for k in order] == counts


def test_damage_targets_keys_requested_earlier():
    for seed in range(20):
        keys, damage = cycle_plan(seed, 0)
        order = hot_key_order(seed)
        assert sorted(damage.values()) == [("corrupt", order[CORRUPT_RANK]), ("delete", order[DELETE_RANK])]
        for at, (_, key) in damage.items():
            assert keys.index(key) + 2 * N_CLIENTS <= at < REQUESTS_PER_CYCLE


def test_generated_tables_repeat_for_a_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        generate(str(d), 0.001, seed)
    for name in ("orders", "documents", "embeddings"):
        f = f"{name}.parquet"
        assert (a / f).read_bytes() == (b / f).read_bytes()
        assert (a / f).read_bytes() != (c / f).read_bytes()


def test_table_subsets_match_the_full_set(tmp_path):
    generate(str(tmp_path / "all"), 0.001, 9)
    generate(str(tmp_path / "two"), 0.001, 9, ("customer", "orders"))
    for f in ("customer.parquet", "orders.parquet"):
        assert (tmp_path / "all" / f).read_bytes() == (tmp_path / "two" / f).read_bytes()


def test_answer_check_truncates_toward_zero():
    assert answer_ok(12, Fraction(1299, 100))
    assert not answer_ok(13, Fraction(1299, 100))
    assert answer_ok(-12, Fraction(-1299, 100))
    # A whole-number mean may come back one lower through a double sum.
    assert answer_ok(12, Fraction(13)) and answer_ok(13, Fraction(13))
    assert not answer_ok(11, Fraction(13))
