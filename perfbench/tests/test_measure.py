import datetime

import pyarrow as pa
import pytest

from measure import add_raw, check_comparable, raw_bytes, summarize


def _table():
    ts = datetime.datetime(2020, 1, 1)
    return pa.table({
        "s": pa.array(["a", "héllo", None, "中文"]),
        "b": pa.array([b"\xff\x00", None, b"", b"xyz"]),
        "t": pa.array([ts, None, ts, ts], type=pa.timestamp("us")),
        "i": pa.array([1, 2, None, 4], type=pa.int32()),
    })


def test_raw_bytes_counts_octets_and_fixed_widths_without_nulls():
    assert raw_bytes(_table()) == {"s": 1 + 6 + 6, "b": 2 + 0 + 3,
                                   "t": 3 * 8, "i": 3 * 4}


def test_raw_bytes_is_independent_of_chunking():
    t = _table()
    whole = raw_bytes(t)
    assert raw_bytes(pa.concat_tables([t.slice(0, 1), t.slice(1)])) == whole
    parts = add_raw(raw_bytes(t.slice(0, 3)), raw_bytes(t.slice(3)))
    assert parts == whole


def test_summarize_reports_tail_only_with_ten_samples_beyond():
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "median": 2.0, "p": None, "p_value": None}
    assert summarize([float(x) for x in range(10)])["p"] is None
    s = summarize([float(x) for x in range(20)])
    assert (s["p"], s["p_value"]) == (50, 9.0)
    s = summarize([float(x) for x in range(100)])
    assert (s["p"], s["p_value"]) == (90, 89.0)
    with pytest.raises(ValueError):
        summarize([])


def test_check_comparable_refuses_other_fingerprints():
    a = {"fingerprint": {"nproc": 4, "n_chunks": 16}}
    check_comparable(a, {"fingerprint": {"nproc": 4, "n_chunks": 16}})
    with pytest.raises(ValueError, match="n_chunks, nproc"):
        check_comparable(a, {"fingerprint": {"nproc": 32, "n_chunks": 128}})
    with pytest.raises(ValueError, match="without"):
        check_comparable(a, {})


def test_combine_equals_the_checksum_of_the_union():
    from workloads import combine
    rows = [(1, -7, 3), (1, 12, -5), (1, 9, 9)]
    whole = combine(rows)
    assert whole == (3, -7 ^ 12 ^ 9, 3 ^ -5 ^ 9)
    assert combine([combine(rows[:2]), combine(rows[2:])]) == whole
    assert combine([whole, (0, None, None)]) == whole
    assert combine([(0, None, None)]) == (0, None, None)
