import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

COLS = ["k", "v", "t"]
ROWS = [(1, 0.5, dt.datetime(2024, 1, 1)), (2, -0.0, None), (3, 1e-3, dt.datetime(2024, 1, 2))]


def test_value_hash_ignores_row_and_column_order():
    swapped = [(t, k, v) for k, v, t in reversed(ROWS)]
    assert checks.value_hash(ROWS, COLS) == checks.value_hash(swapped, ["t", "k", "v"])


def test_adhoc_check_rejects_a_corrupted_result():
    want = checks.result_signature(ROWS, COLS)
    assert checks.check_signature(checks.result_signature(ROWS, COLS), want) == []
    corrupt = [ROWS[0], (2, 0.0, None), (3, 1.0000000000000002e-3, ROWS[2][2])]
    assert checks.check_signature(checks.result_signature(corrupt, COLS), want)
    assert checks.check_signature(checks.result_signature(ROWS[:2], COLS), want)


def _model_after(cycles: int) -> checks.StoreModel:
    m = checks.StoreModel(2)
    for c in range(cycles):
        m.insert(gen.point_batch(1, c, 2000))
    return m


def test_store_model_counts_late_and_invalid_rows():
    m = _model_after(12)
    batch = gen.point_batch(1, 12, 2000)
    inserted, late, invalid = m.insert(batch)
    assert invalid == (batch["ts"] < 0).sum() > 0
    assert late > 0 and inserted + late + invalid == 2000
    # a wrong InsertResult is caught
    assert checks.check_equal("InsertResult", (inserted + 1, late - 1, invalid), (inserted, late, invalid))


def test_store_model_reads_and_retention():
    m = _model_after(16)
    m.retain(3)
    assert len(m.row_counts()) == 3
    src, metric, seek = gen.read_targets(1, 15)[0]
    first = m.first_after(src, metric, seek)
    latest = m.latest(src, metric)
    assert first is not None and first[0] >= seek and latest[0] >= first[0]
    corrupt = (first[0], first[1] + 0.01)
    assert checks.check_equal("first", corrupt, first)
    s, mt, lo, hi = gen.range_target(1, 15)
    pts = m.range(s, mt, lo, hi)
    assert all(lo <= t < hi for t, _ in pts)
    assert checks.check_equal("range", pts[:-1], pts) if pts else True
    counts = m.row_counts()
    bad = {d: n + 1 for d, n in counts.items()}
    assert checks.check_equal("rows per dt", bad, counts)


def _land(base, dt_name, ids):
    part = base / f"dt={dt_name}"
    part.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"event_id": np.array(ids, np.int64)}), part / f"part-{ids[0]}.parquet")


def test_stream_check_rejects_duplicates_and_losses(tmp_path):
    _land(tmp_path, "2024-03-01", [0, 1, 2])
    _land(tmp_path, "2024-03-02", [3, 4])
    assert checks.check_stream(str(tmp_path), 5) == []
    assert checks.check_stream(str(tmp_path), 6)  # a row lost
    _land(tmp_path, "2024-03-02", [4, 9])  # event 4 delivered twice
    errs = checks.check_stream(str(tmp_path), 7)
    assert any("duplicate" in e for e in errs)
