"""Tests of the benchmark itself (no Spark session needed).

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import analytics  # noqa: E402
import catchup  # noqa: E402
import cdc  # noqa: E402
import gen  # noqa: E402
import trickle  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _changes(seed: int):
    base = gen.orders_base(seed, 500)
    return base, gen.synth_changes(seed, base, 300, (1, 20), 50, 0.8)


# -- generators are deterministic for a seed ---------------------------


def test_wal_generator_is_deterministic_per_seed():
    base_a, txns_a = _changes(7)
    base_b, txns_b = _changes(7)
    assert base_a == base_b
    assert gen.encode_txns(txns_a) == gen.encode_txns(txns_b)
    _base_c, txns_c = _changes(8)
    assert gen.encode_txns(txns_a) != gen.encode_txns(txns_c)


def test_wal_generator_mix_skew_and_validity():
    base, txns = _changes(3)
    ops = [op for t in txns for op in t.ops]
    assert len(txns) == 300 and all(1 <= len(t.ops) <= 20 for t in txns)
    share = {k: sum(1 for o in ops if o[0] == k) / len(ops) for k in "UID"}
    assert 0.65 < share["U"] < 0.75 and 0.15 < share["I"] < 0.25
    hot = sum(1 for o in ops if o[0] != "I" and o[1] < 50)
    # 50 of 500+ keys take over half the updates and deletes
    assert hot > 0.5 * sum(1 for o in ops if o[0] != "I")
    # every op is valid against the state before it
    live = {r[0] for r in base}
    for op, k, _row in ops:
        if op == "I":
            assert k not in live
            live.add(k)
        else:
            assert k in live
            if op == "D":
                live.remove(k)
    assert set(gen.replay(base, txns)) == live
    lsns = [t.lsn for t in txns]
    assert lsns == sorted(set(lsns))


def test_encoded_capture_decodes_to_the_generated_changes():
    from pgsink_spark.streaming.decoder import decode_message
    from pgsink_spark.streaming.marshal import RelationCache, marshal
    from pgsink_spark.streaming.sequence import Sequencer

    base, txns = _changes(5)
    cache, seq, state = RelationCache(), Sequencer(), {r[0]: r for r in base}
    for buf in gen.encode_txns(txns):
        sm = seq.feed(decode_message(buf))
        mod = sm and marshal(cache, sm)
        if not mod:
            continue
        if mod.after is None:
            del state[mod.before["o_orderkey"]]
        else:
            state[mod.after["o_orderkey"]] = tuple(mod.after[c] for c in gen.ORDERS_COLS)
    assert state == gen.replay(base, txns)


def test_trickle_transactions_are_deterministic_per_seed():
    a = gen.synth_changes(4, gen.orders_base(4, 100), 20, (10, 10), 20, 0.9, stream="trickle")
    b = gen.synth_changes(4, gen.orders_base(4, 100), 20, (10, 10), 20, 0.9, stream="trickle")
    assert [gen.encode_txn(t) for t in a] == [gen.encode_txn(t) for t in b]
    assert all(len(t.ops) == 10 for t in a)


def test_analytics_tables_are_deterministic_per_seed():
    a, b = gen.analytics_tables(9, scale=0.01), gen.analytics_tables(9, scale=0.01)
    assert all(a[k].equals(b[k]) for k in a)
    c = gen.analytics_tables(10, scale=0.01)
    assert not a["documents"].equals(c["documents"])


# -- metric names ------------------------------------------------------


def test_metric_names_equal_benchmark_json():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == list(workloads.END_TO_END)
    declared = [m["name"] for m in spec["per_layer"]]
    assert len(declared) == len(set(declared))
    assert set(declared) == set(catchup.PER_LAYER) | set(trickle.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} == {"catchup", "trickle"}
    assert set(analytics.PER_LAYER) <= set(trickle.PER_LAYER)


def test_run_workload_rejects_a_metric_set_that_drifts(monkeypatch, tmp_path):
    import types

    fake = types.ModuleType("catchup")
    fake.PER_LAYER = catchup.PER_LAYER
    metrics = {n: 1.0 for n in workloads.END_TO_END}
    fake.run = lambda ctx: workloads.Result(True, 1, 0, dict(metrics))
    monkeypatch.setitem(sys.modules, "catchup", fake)
    res = workloads.run_workload("catchup", 1, 1, False, str(tmp_path), 1)
    assert list(res.metrics) == list(workloads.END_TO_END)
    metrics["extra_s"] = 1.0
    try:
        workloads.run_workload("catchup", 1, 1, False, str(tmp_path), 1)
    except KeyError:
        pass
    else:
        raise AssertionError("an undeclared metric went through")


# -- correctness checks fail on corrupted output -----------------------


def test_view_check_passes_on_the_replay_and_fails_on_a_dropped_key():
    base, txns = _changes(11)
    want = gen.replay(base, txns)
    rows = sorted(want.values())
    assert cdc.check_view(rows, want) == []
    dropped = rows[:5] + rows[6:]
    errs = cdc.check_view(dropped, want)
    assert errs and "missing" in errs[0]


def test_view_check_fails_on_a_stale_or_duplicated_row():
    base, txns = _changes(12)
    want = gen.replay(base, txns)
    rows = sorted(want.values())
    stale = [rows[0][:3] + (rows[0][3] + 1.0,)] + rows[1:]
    assert cdc.check_view(stale, want)
    assert cdc.check_view(rows + [rows[0]], want)


def test_exactly_once_check():
    _base, txns = _changes(13)
    raw = [(lsn, s, i) for i, (lsn, s) in enumerate(sorted(trickle.expected_pairs(txns)))]
    # one epoch per transaction is fine …
    by_txn = [(lsn, s, lsn) for lsn, s, _e in raw]
    assert trickle.check_exactly_once(by_txn, txns) == []
    # … a replayed row, a lost row or a transaction split across
    # micro-batches are not
    assert trickle.check_exactly_once(by_txn + by_txn[:1], txns)
    assert trickle.check_exactly_once(by_txn[1:], txns)
    assert trickle.check_exactly_once(raw, txns)


def test_analytics_canon_ignores_row_and_column_order():
    a = analytics.canon([(1, "x"), (2, "y")], ["a", "b"])
    b = analytics.canon([("y", 2), ("x", 1)], ["B", "A"])
    assert a == b
    assert a != analytics.canon([(1, "x")], ["a", "b"])


def test_tail_percentile_leaves_ten_samples_beyond():
    from observe import quantile, tail_percentile

    assert tail_percentile(10) is None
    pct = tail_percentile(300)
    values = list(range(300))
    assert sum(1 for v in values if v > quantile(values, pct)) == 10
