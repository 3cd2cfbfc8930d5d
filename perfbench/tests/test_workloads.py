import json
import os

import pandas as pd

from perfbench import workloads as w

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_seed_fixes_the_operation_sequence():
    for gen in (w.read_pass_specs, w.write_pass_specs):
        assert gen(7, 0) == gen(7, 0)
        assert gen(7, 1) == gen(7, 1)
        assert gen(7, 0) != gen(8, 0)
        assert gen(7, 0) != gen(7, 1)


def test_every_pass_runs_each_kind_once():
    kinds = sorted(s[0] for s in w.read_pass_specs(3, 2))
    assert kinds == sorted([*w.READ_KINDS, *w.QUERY_KINDS])
    write = [s[0] for s in w.write_pass_specs(3, 2)]
    assert write.count("ingest") == len(w.INGEST_SLICES)
    assert write.count("bulk_insert") == len(w.BULK_BATCHES)
    assert write.count("insert") == len(w.INSERTS)


def test_write_rows_per_interval():
    assert w.spec_rows_per_interval(("ingest", 5, 100, 0)) == 100
    assert w.spec_rows_per_interval(("ingest", 5, 100, -2)) == 300
    assert w.spec_rows_per_interval(("bulk_insert", ((1, "a", 1.0),) * 4, 1)) == 8
    assert w.spec_rows_per_interval(("insert", (1, "a", 1.0), 3, -1)) == 6
    for spec in w.write_pass_specs(1, 0):
        if spec[0] == "ingest":
            assert 0 <= spec[1] and spec[1] + spec[2] <= 100_000


def test_digest_ignores_set_order_and_float_noise():
    a = {1: {3.0, 1.0, 2.0}, 2: 0.1 + 0.2}
    b = {1: {2.0, 3.0, 1.0}, 2: 0.3}
    assert w.digest(a) == w.digest(b)
    assert w.digest(a) != w.digest({2: 0.3, 1: {1.0, 2.0, 3.0}})  # key order counts


def test_recorded_digests_cover_every_read_a_seed_can_draw():
    with open(os.path.join(HERE, "digests.json")) as f:
        recorded = json.load(f)["kairos_read"]
    drawn = {w.spec_id(s) for seed in range(20) for k in range(3)
             for s in w.read_pass_specs(seed, k) if s[0] not in w.QUERY_KINDS}
    assert drawn <= set(recorded)
    assert len(recorded) == len(w.READ_KINDS) * len(w.NAMES) * len(w.ANCHORS)


JAN5_1017 = w.JAN1 + 4 * w.DAY + 10 * 3600 + 17 * 60 + 42  # 2024-01-05 10:17:42


def _cells(names, secs, values, fan):
    got = w.content(w.expected_rows(names, secs, values, fan))
    return {k: [r.n, r.v] for k, r in got.iterrows()}


def test_expected_rows_bucket_each_event_into_every_interval():
    hour = JAN5_1017 - 17 * 60 - 42
    assert _cells(["click"], [JAN5_1017], [2.5], 0) == {
        ("minute", "click", JAN5_1017 - 42, -1): [1, 2.5],
        ("hour", "click", hour, JAN5_1017 - 42): [1, 2.5],
        ("daily", "click", 20240105, -1): [1, 2.5],
    }


def test_expected_rows_fan_out_to_shifted_bucket_starts():
    hour = JAN5_1017 - 17 * 60 - 42
    got = _cells(["click"], [JAN5_1017], [1.0], -2)
    assert sorted(k for k in got if k[0] == "hour") == [
        ("hour", "click", hour - 7200, hour - 7200),
        ("hour", "click", hour - 3600, hour - 3600),
        ("hour", "click", hour, JAN5_1017 - 42),
    ]
    assert sorted(k[2] for k in got if k[0] == "daily") == [20240103, 20240104, 20240105]
    up = _cells(["click"], [w.JAN1 + 31 * w.DAY - 1], [1.0], 1)
    assert sorted(k[2] for k in up if k[0] == "daily") == [20240131, 20240201]
    assert all(n == 1 for n, _ in up.values())
    assert len(up) == 2 * len(w.STORE_INTERVALS)


def test_content_diff_flags_counts_sums_and_missing_cells():
    def frame(i_time, n, v):
        rows = pd.DataFrame({"interval": ["minute"], "name": ["a"], "i_time": [i_time],
                             "r_time": [-1], "n": [n], "v": [v]})
        return rows.set_index(w.CELL)

    want = w.content(w.expected_rows(["a", "a"], [61, 62], [1.0, 2.0], 0).query(
        "interval == 'minute'"))
    assert w.content_diff(frame(60, 2, 3.0 + 1e-12), want) == []
    assert w.content_diff(frame(60, 1, 3.0), want) == [("minute", "a", 60, -1)]
    assert w.content_diff(frame(60, 2, 3.5), want) == [("minute", "a", 60, -1)]
    assert len(w.content_diff(frame(120, 2, 3.0), want)) == 2
