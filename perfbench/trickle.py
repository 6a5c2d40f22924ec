"""``trickle``: steady-state live capture with a concurrent reader.

- One long-running stream (``trigger(processingTime="0 seconds")``,
  one decode slice) commits each micro-batch into the warehouse and
  flips the snapshot manifest. It first drains the table's base rows,
  captured as INSERT transactions, which also warms it up.
- One **open-loop** generator process (perfbench/trickle_gen.py) then
  appends ``RATE`` transactions per second of ``TXN_ROWS`` rows each
  (70/20/10 UPDATE/INSERT/DELETE on hot keys) to the capture on a fixed
  schedule and logs each transaction's due time, send time and LSN.
- One **closed-loop** reader thread runs keyed lookups on the snapshot
  compaction view (``install_view(snapshot=True)``) while writes go on.

Transactions and lookups of the first ``WARMUP_S`` seconds are not
measured. The run fails unless every transaction becomes visible
exactly once, no ``(lsn, sequence)`` repeats in the committed snapshot,
and the final view equals a Python replay of every transaction.
"""

from __future__ import annotations

import json
import os
import pickle
import random
import subprocess
import sys
import threading
import time
from statistics import median

import gen
from analytics import PER_LAYER as ANALYTICS_LAYER
from cdc import (
    Stream,
    check_view,
    program_setup,
    progress_metrics,
    raw_stats,
    sink_flush,
    view_rows,
    visible_at,
)
from observe import SparkAttribution, Tracer, peak_rss_mb, quantile, tail_percentile
from workloads import (
    DECODE_LAYERS,
    SPARK_LAYER,
    STREAM_LAYER,
    WAREHOUSE_LAYER,
    Ctx,
    Result,
    setup_cycles,
    spark_metrics,
    stop_spark,
)

BASE_ROWS = 10_000
BASE_TXN_ROWS = 500
RATE = 20.0  # transactions per second, open loop
TXN_ROWS = 10
HOT_KEYS = 200
HOT_SHARE = 0.9
WARMUP_S = 2.0
GEN_TIMEOUT_S = 120.0
LOOKUP_GROUP = "perfbench-lookup"
HERE = os.path.dirname(os.path.abspath(__file__))

PER_LAYER = (
    ("trickle.visible_p50_s", "trickle.visible_tail_s", "trickle.lag_end_s",
     "trickle.lookup_p50_s", "trickle.lookup_tail_s", "generator.late_s",
     "reader.rows_read_per_hit")
    + DECODE_LAYERS
    + STREAM_LAYER
    + WAREHOUSE_LAYER
    + SPARK_LAYER
    + ANALYTICS_LAYER
)


def expected_pairs(txns: list[gen.Txn]) -> set[tuple[int, int]]:
    """Every (lsn, sequence) the capture must produce. The first
    transaction also carries the Relation message, which takes
    sequence 1 there."""
    out = set()
    for i, t in enumerate(txns):
        first = 2 if i == 0 else 1
        out.update((t.lsn, first + j) for j in range(len(t.ops)))
    return out


def check_exactly_once(raw_rows: list[tuple], txns: list[gen.Txn]) -> list[str]:
    """``raw_rows`` are (lsn, sequence, epoch) of the committed snapshot's
    captured rows. Each change must appear once, each transaction in
    exactly one micro-batch epoch."""
    errs = []
    pairs = [(lsn, seq) for lsn, seq, _e in raw_rows]
    dups = len(pairs) - len(set(pairs))
    if dups:
        errs.append(f"{dups} duplicate (lsn, sequence) rows in the snapshot")
    want = expected_pairs(txns)
    missing, extra = want - set(pairs), set(pairs) - want
    if missing:
        errs.append(f"{len(missing)} changes never visible, e.g. {sorted(missing)[:3]}")
    if extra:
        errs.append(f"{len(extra)} unexpected changes, e.g. {sorted(extra)[:3]}")
    epochs: dict[int, set] = {}
    for lsn, _s, e in raw_rows:
        epochs.setdefault(lsn, set()).add(e)
    split = [lsn for lsn, es in epochs.items() if len(es) > 1]
    if split:
        errs.append(f"{len(split)} transactions span several batches")
    return errs


class Reader(threading.Thread):
    """Closed-loop keyed lookups against the snapshot compaction view."""

    def __init__(self, spark, wh, seed: int, tracer: Tracer):
        super().__init__(daemon=True)
        self.spark, self.wh, self.tracer = spark, wh, tracer
        self.rng = random.Random(f"lookup/{seed}")
        self.stop_event = threading.Event()
        self.lookups: list[tuple[float, float, int]] = []  # (start, s, rows)
        self.errors: list[str] = []

    def lookup(self, key: int) -> int:
        with self.tracer.span("warehouse.view_install"):
            view = self.wh.install_view("public", "orders", snapshot=True)
        return len(self.spark.sql(f"SELECT * FROM `{view}` WHERE o_orderkey = {key}").collect())

    def run(self):
        self.spark.sparkContext.setJobGroup(LOOKUP_GROUP, "keyed lookups")
        while not self.stop_event.is_set():
            key = int(HOT_KEYS * self.rng.random() ** 2)
            t0 = time.monotonic()
            try:
                n = self.lookup(key)
            except Exception as e:  # noqa: BLE001 — counted as a failed lookup
                self.errors.append(f"lookup {key}: {e!r}"[:300])
                continue
            self.lookups.append((t0, time.monotonic() - t0, n))
            if n > 1:
                self.errors.append(f"lookup {key} returned {n} rows")


def _epoch_s(iso: str) -> float:
    """Seconds since the epoch of a progress report's UTC timestamp."""
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _raw_rows(wh) -> list[tuple]:
    t = (wh.read_snapshot("public", "orders").where("lsn IS NOT NULL")
         .select("lsn", "sequence", "epoch").toArrow())
    return list(zip(*(t.column(c).to_pylist() for c in ("lsn", "sequence", "epoch"))))


def run(ctx: Ctx) -> Result:
    from pgsink_spark.sinks.warehouse import WarehouseSink
    from pgsink_spark.streaming.datasource import append_capture

    base = gen.orders_base(ctx.seed, BASE_ROWS)
    base_txns = gen.insert_txns(base, BASE_TXN_ROWS)
    n_txns = int(RATE * (WARMUP_S + ctx.seconds))
    live_txns = gen.synth_changes(ctx.seed, base, n_txns,
                                  (TXN_ROWS, TXN_ROWS), HOT_KEYS, HOT_SHARE,
                                  first_lsn=base_txns[-1].lsn + gen.LSN_STEP,
                                  stream="trickle")
    txns_path = os.path.join(ctx.work, "txns.pickle")
    with open(txns_path, "wb") as f:
        pickle.dump([(t.lsn, len(t.ops), gen.encode_txn(t)) for t in live_txns], f)
    d = os.path.join(ctx.work, "live")
    os.makedirs(d)
    capture = os.path.join(d, "wal.capture")
    append_capture(capture, gen.encode_txns(base_txns))
    log_path = os.path.join(d, "generator.log")

    spark, entry, setup_s = setup_cycles("trickle", ctx.cpus, program_setup(ctx.work))
    tracer = Tracer(ctx.trace)
    wh = WarehouseSink(spark, os.path.join(d, "wh"))
    wh.handle_schema(entry)
    reader = Reader(spark, wh, ctx.seed, tracer)
    attr = None
    gen_proc = None
    with Stream(spark, capture, os.path.join(d, "ckpt"),
                sink_flush(wh, entry, tracer), partitions=1) as stream:
        try:
            stream.wait_for(base_txns[-1].lsn)
            reader.lookup(0)  # warm the lookup path before measuring
            tracer.spans.clear()
            attr = SparkAttribution(spark) if ctx.trace else None
            gen_proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "trickle_gen.py"),
                 txns_path, capture, log_path, str(RATE)],
            )
            t_window, t_window_wall = time.monotonic(), time.time()
            reader.start()
            stream.wait_for(live_txns[-1].lsn)
            wall = time.monotonic() - t_window
        finally:
            reader.stop_event.set()
            if gen_proc is not None:
                try:
                    gen_proc.wait(timeout=GEN_TIMEOUT_S)
                finally:
                    if gen_proc.poll() is None:
                        gen_proc.kill()
                        gen_proc.wait()
            if reader.is_alive():
                reader.join(timeout=GEN_TIMEOUT_S)
        progress = stream.stop()
    if reader.is_alive():
        raise RuntimeError("lookup thread did not stop")
    if gen_proc.returncode != 0:
        raise RuntimeError(f"generator exited with {gen_proc.returncode}")

    with open(log_path) as f:
        log = [json.loads(line) for line in f]
    start = log[0]["due"] + WARMUP_S
    window = [e for e in log if e["due"] >= start]
    seen = visible_at(stream.flips, [e["lsn"] for e in window])
    latency = [v - e["due"] for v, e in zip(seen, window)]
    pct = tail_percentile(len(latency))
    looks = [s for t0, s, _n in reader.lookups if t0 >= start]
    lpct = tail_percentile(len(looks))
    lag_end = seen[-1] - window[-1]["due"]

    all_txns = base_txns + live_txns
    errors = check_exactly_once(_raw_rows(wh), all_txns)
    view = wh.install_view("public", "orders", snapshot=True)
    errors += check_view(view_rows(spark.table(view).toArrow()),
                         gen.replay([], all_txns))
    errors += reader.errors[:5]

    m = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb(spark),
        "rows_per_s": sum(e["rows"] for e in window) / (seen[-1] - window[0]["due"]),
        "visible_p50_s": median(latency),
        "visible_tail_s": quantile(latency, pct),
        "read_s": median(looks),
    }
    notes = [
        f"trickle: {len(log)} txns of {TXN_ROWS} rows at {RATE:g}/s open loop "
        f"({len(window)} measured after {WARMUP_S:g} s), {len(looks)} measured "
        f"closed-loop lookups; visible tail = p{pct:.2f}, lookup tail = "
        + (f"p{lpct:.2f}" if lpct else "max")
        + f"; lag at end {lag_end:.3f} s"
    ] + errors
    if ctx.trace:
        import analytics
        import ladder

        lk = attr.read(wall, job_group=LOOKUP_GROUP, advance=False)
        hits = sum(1 for _t, _s, n in reader.lookups if n)
        files, size = raw_stats(os.path.join(d, "wh"))
        m.update(spark_metrics([attr.read(wall)]))
        m.update(progress_metrics([p for p in progress
                                   if _epoch_s(p.timestamp) >= t_window_wall]))
        m.update({
            "trickle.visible_p50_s": m["visible_p50_s"],
            "trickle.visible_tail_s": m["visible_tail_s"],
            "trickle.lag_end_s": lag_end,
            "trickle.lookup_p50_s": m["read_s"],
            "trickle.lookup_tail_s": quantile(looks, lpct) if lpct else max(looks),
            "generator.late_s": max(e["sent"] - e["due"] for e in log),
            "reader.rows_read_per_hit": lk["input_records"] / max(1, hits),
            "warehouse.insert_s": median(tracer.durations("warehouse.insert")),
            "warehouse.insert_calls": float(tracer.count("warehouse.insert")),
            "warehouse.manifest_s": median(tracer.durations("warehouse.manifest")),
            "warehouse.view_install_s": median(tracer.durations("warehouse.view_install")),
            "warehouse.files": float(files),
            "warehouse.bytes_per_row": size / sum(len(t.ops) for t in all_txns),
        })
        live_capture = os.path.join(d, "live.capture")
        append_capture(live_capture, gen.encode_txns(live_txns))
        m.update(ladder.in_process_layers(live_capture, live_txns[-1].lsn))
        am, aerr = analytics.run_list(spark, ctx.seed, os.path.join(ctx.work, "analytics"))
        m.update(am)
        errors += aerr
        notes += aerr
    stop_spark(spark)
    return Result(
        correct=not errors,
        attempted=len(log) + len(reader.lookups) + len(reader.errors),
        failed=len(reader.errors),
        metrics=m,
        notes=notes,
    )
