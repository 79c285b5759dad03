import numpy as np

import gen


def _same(a, b) -> bool:
    return all(a[k].equals(b[k]) for k in a) and a.keys() == b.keys()


def test_star_schema_is_a_function_of_the_seed():
    a, b, c = gen.star_schema(7, 0.001), gen.star_schema(7, 0.001), gen.star_schema(8, 0.001)
    assert _same(a, b)
    assert not _same(a, c)
    assert a["lineitem"].num_rows == 6000


def test_star_schema_keys_resolve():
    t = gen.star_schema(3, 0.001)
    orders = t["orders"]["o_orderkey"].to_numpy()
    assert set(t["lineitem"]["l_orderkey"].to_numpy()) <= set(orders)
    assert t["lineitem"]["l_suppkey"].to_numpy().max() < t["supplier"].num_rows
    ts = t["events"]["ts"].to_numpy()
    assert (np.diff(ts.astype(np.int64)) >= 0).all()


def test_point_batches_are_seeded_and_carry_late_and_null_rows():
    a, b = gen.point_batch(5, 20, 10_000), gen.point_batch(5, 20, 10_000)
    c = gen.point_batch(6, 20, 10_000)
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not np.array_equal(a["value"], c["value"])
    day0 = gen.day_start_us(gen.day_of(20))
    late = (a["ts"] >= 0) & (a["ts"] < day0)
    assert 100 < late.sum() < 300  # 2 % late
    assert 50 < (a["ts"] < 0).sum() < 150  # 1 % NULL ts


def test_reads_and_stream_files_are_seeded():
    assert gen.read_targets(1, 9) == gen.read_targets(1, 9) != gen.read_targets(2, 9)
    assert gen.range_target(1, 9) == gen.range_target(1, 9)
    f0, f1 = gen.stream_file(1, 0, 12, 100), gen.stream_file(1, 1, 12, 100)
    assert f0.equals(gen.stream_file(1, 0, 12, 100))
    assert not set(f0["event_id"].to_pylist()) & set(f1["event_id"].to_pylist())
