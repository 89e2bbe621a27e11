"""Seeded inputs are reproducible; span and window arithmetic."""

from __future__ import annotations

import filecmp
import os

import pytest

from perfbench import gen
from perfbench.run import percentile_tail
from perfbench.trace import Span, self_times


def _files(d):
    return sorted(os.listdir(d))


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.write_sf_dir(a, 7, 0.001)
    gen.write_sf_dir(b, 7, 0.001)
    gen.write_sf_dir(c, 8, 0.001)
    assert _files(a) == _files(b) == _files(c)
    same = filecmp.cmpfiles(a, b, _files(a), shallow=False)[0]
    assert same == _files(a)
    # the two fixed tables do not depend on the seed; every other does
    differ = filecmp.cmpfiles(a, c, _files(a), shallow=False)[1]
    assert set(differ) == set(_files(a)) - {"region.parquet", "nation.parquet"}


def test_session_events_follow_the_seed():
    a, b, c = (gen.session_events(s, 3000) for s in (5, 5, 6))
    assert a.equals(b) and not a.equals(c)
    ts = a.column("ts").cast("int64").to_numpy()
    assert (ts[1:] >= ts[:-1]).all()
    gaps = []
    for u in set(a.column("user_id").to_pylist()):
        t = ts[a.column("user_id").to_numpy() == u]
        gaps.extend((t[1:] - t[:-1]).tolist())
    # sessions of several events, separated by gaps beyond 30 minutes
    share_new = sum(g >= 30 * 60 * 10**6 for g in gaps) / len(gaps)
    assert 0.05 < share_new < 0.5


@pytest.mark.parametrize("seed", [1, 2])
def test_corpora_sit_on_either_side_of_the_jaccard_route(seed):
    from datastore_mapper_spark.operators.dedup import JACCARD_KERNEL_MIN_JOIN_ROWS
    from perfbench.workloads.llm_dedup import N_NATURAL, N_TEMPLATED, _token_sets

    def sum_df2(texts):
        x, _ = _token_sets(texts)
        return int((x.sum(0).astype("int64") ** 2).sum())

    templated = gen.templated_corpus(seed, N_TEMPLATED, (20, 60), 0.1)
    natural = gen.natural_corpus(seed, N_NATURAL)
    assert sum_df2(templated) >= JACCARD_KERNEL_MIN_JOIN_ROWS > sum_df2(natural)


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, 0, start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0),
             _span(2, 0, 3.0, 5.0), _span(3, 1, 1.5, 2.0), _span(4, 0, 9.0, 12.0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.5)
    assert (st[2], st[3], st[4]) == pytest.approx((2.0, 0.5, 3.0))


def test_tail_has_ten_samples_beyond_it():
    assert percentile_tail(list(range(10)))[2] == 10
    value, pct, n = percentile_tail([float(i) for i in range(40)])
    assert (value, n) == (29.0, 40) and pct == pytest.approx(75.0)
