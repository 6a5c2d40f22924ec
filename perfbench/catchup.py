"""``catchup``: the pgsink lifecycle for one table, repeated in rounds.

One round, on a fresh warehouse:

1. backfill ``orders`` with ``imports.Importer`` (keyset batches) and
   ``imports.ImportJobStore`` into ``sinks.warehouse.WarehouseSink``;
2. drain a seeded pgoutput WAL backlog through the DSv2 source
   (``format("pgoutput")``, ``maxpartitions`` = cores, bounded
   ``maxcommitspertrigger``) → ``changelog.envelope.cast_envelope`` →
   ``WarehouseSink.insert(epoch=batch_id)`` → ``commit_manifest``;
3. read the compaction view (``install_view``) in full, ``VIEW_READS``
   times.

The backlog is large enough (about 80k rows) that the drain is bound
by per-row work in decode, the Arrow emit and the sink append rather
than by the stream's start-up and per-batch fixed cost, which swing
with the host's load. One untimed round on the same inputs first warms
the JVM and the Python workers. Timed rounds then repeat until
``--seconds`` have passed (at least ``MIN_ROUNDS``) and every metric is
the median over rounds. After every view read the view must equal an
independent replay of the backfill plus every generated change.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from statistics import median

import gen
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
from ladder import RUNGS
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

BASE_ROWS = 5_000
# a fixed transaction count keeps the micro-batch boundaries, and with
# them the commit-to-visible steps, in the same place for every seed
CHANGE_TXNS = 4_000
TXN_ROWS = (1, 40)
HOT_KEYS = 1_000
HOT_SHARE = 0.8
IMPORT_BATCH = 2_500
MAX_COMMITS = 2_000
MIN_ROUNDS = 2
# one read is under a second; its median over a round's reads is steadier
VIEW_READS = 3

PER_LAYER = (
    ("catchup.import_rows_per_s", "catchup.drain_rows_per_s", "catchup.view_read_s")
    + DECODE_LAYERS
    + ("envelope.cast_s",)
    + tuple(f"ladder.{r}_rows_per_s" for r in RUNGS)
    + STREAM_LAYER
    + WAREHOUSE_LAYER
    + ("imports.keyset_s", "imports.insert_s", "imports.progress_s", "imports.batches")
    + SPARK_LAYER
)


class Inputs:
    """One round's generated inputs, written under ``d``."""

    def __init__(self, seed: int, d: str, base_rows: int, change_txns: int):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pgsink_spark.streaming.datasource import append_capture

        os.makedirs(d)
        self.base = gen.orders_base(seed, base_rows)
        self.txns = gen.synth_changes(seed, self.base, change_txns, TXN_ROWS,
                                      HOT_KEYS, HOT_SHARE)
        self.change_rows = sum(len(t.ops) for t in self.txns)
        self.expected = gen.replay(self.base, self.txns)
        self.capture = os.path.join(d, "wal.capture")
        append_capture(self.capture, gen.encode_txns(self.txns))
        self.source = os.path.join(d, "orders_base.parquet")
        cols = list(zip(*self.base))
        types = (pa.int64(), pa.int64(), pa.string(), pa.float64())
        pq.write_table(
            pa.table({c: pa.array(v, t) for c, v, t in zip(gen.ORDERS_COLS, cols, types)}),
            self.source,
        )
        self.final_lsn = self.txns[-1].lsn


class _TimedStore:
    """ImportJobStore proxy that spans each cursor/progress commit."""

    def __init__(self, store, tracer: Tracer):
        self._store, self._tracer = store, tracer

    def update_progress(self, *args):
        with self._tracer.span("imports.progress"):
            return self._store.update_progress(*args)

    def __getattr__(self, name):
        return getattr(self._store, name)


@contextlib.contextmanager
def _traced_keyset(tracer: Tracer):
    """Span every keyset batch the Importer takes (traced runs only)."""
    from pgsink_spark.imports import importer

    orig = importer.keyset_batch

    def timed(*a, **kw):
        with tracer.span("imports.keyset"):
            return orig(*a, **kw)

    importer.keyset_batch = timed
    try:
        yield
    finally:
        importer.keyset_batch = orig


def one_round(spark, entry, inp: Inputs, d: str, ctx: Ctx, tracer: Tracer,
              attr: SparkAttribution | None) -> dict:
    from pgsink_spark.imports.importer import Importer
    from pgsink_spark.imports.jobs import ImportJobStore
    from pgsink_spark.sinks.warehouse import WarehouseSink

    os.makedirs(d)
    wh = WarehouseSink(spark, os.path.join(d, "wh"))
    wh.handle_schema(entry)
    capture = os.path.join(d, "wal.capture")
    shutil.copyfile(inp.capture, capture)
    store = ImportJobStore(os.path.join(d, "jobs.json"))
    source = spark.read.parquet(inp.source)
    # import batches take their own exactly-once epochs and ledger
    # stream, as the CLI's import path does next to a CDC stream
    epoch = [1_000_000_000]

    def insert(env, ns, name):
        epoch[0] += 1
        with tracer.span("imports.insert"):
            return wh.insert(env, ns, name, epoch=epoch[0], stream_id="import")

    out: dict = {"attrs": []}
    if attr:
        attr.mark()
    with _traced_keyset(tracer) if ctx.trace else contextlib.nullcontext():
        t0 = time.monotonic()
        job = store.enqueue("perfbench", "public", "orders")
        job = store.claim()
        importer = Importer(_TimedStore(store, tracer) if ctx.trace else store,
                            insert, batch_limit=IMPORT_BATCH)
        res = importer.run(job, source, "o_orderkey")
        out["import_s"] = time.monotonic() - t0
    if attr:
        out["attrs"].append(attr.read(out["import_s"]))
    if not res.done or res.rows != len(inp.base):
        raise RuntimeError(f"import incomplete: {res}")
    out["import_batches"] = res.batches

    # the whole backlog is committed when the drain starts, so each
    # transaction's commit-to-visible time is measured from there
    with Stream(spark, capture, os.path.join(d, "ckpt"),
                sink_flush(wh, entry, tracer), ctx.cpus, MAX_COMMITS) as s:
        t_end = s.wait_for(inp.final_lsn)
        out["drain_s"] = t_end - s.t0
        out["progress"] = s.stop()
        visible = [t - s.t0 for t in visible_at(s.flips, [t.lsn for t in inp.txns])]
    if attr:
        out["attrs"].append(attr.read(out["drain_s"]))
    out["visible_p50_s"] = median(visible)
    out["tail_pct"] = tail_percentile(len(visible))
    out["visible_tail_s"] = quantile(visible, out["tail_pct"])

    reads, out["errors"] = [], []
    for _ in range(VIEW_READS):
        t0 = time.monotonic()
        with tracer.span("warehouse.view_install"):
            view = wh.install_view("public", "orders")
        table = spark.table(view).toArrow()
        reads.append(time.monotonic() - t0)
        if attr:
            out["attrs"].append(attr.read(reads[-1]))
        out["errors"] += check_view(view_rows(table), inp.expected)
    out["view_read_s"] = median(reads)
    out["files"], out["bytes"] = raw_stats(os.path.join(d, "wh"))
    out["raw_rows"] = len(inp.base) + inp.change_rows
    return out


def run(ctx: Ctx) -> Result:
    marks = [time.monotonic()]
    inp = Inputs(ctx.seed, os.path.join(ctx.work, "in"), BASE_ROWS, CHANGE_TXNS)
    marks.append(time.monotonic())
    spark, entry, setup_s = setup_cycles("catchup", ctx.cpus, program_setup(ctx.work))
    marks.append(time.monotonic())
    tracer = Tracer(ctx.trace)
    w = one_round(spark, entry, inp, os.path.join(ctx.work, "warm"),
                  ctx, Tracer(False), None)
    notes = [f"warm-up round: {e}" for e in w["errors"]]
    attr = SparkAttribution(spark) if ctx.trace else None
    marks.append(time.monotonic())

    rounds: list[dict] = []
    t_start = time.monotonic()
    while len(rounds) < MIN_ROUNDS or time.monotonic() - t_start < ctx.seconds:
        r = one_round(spark, entry, inp,
                      os.path.join(ctx.work, f"round{len(rounds)}"),
                      ctx, tracer, attr)
        rounds.append(r)
        notes += [f"round {len(rounds) - 1}: {e}" for e in r["errors"]]
    marks.append(time.monotonic())

    def med(key):
        return median([r[key] for r in rounds])

    import_rps = median([BASE_ROWS / r["import_s"] for r in rounds])
    drain_rps = median([inp.change_rows / r["drain_s"] for r in rounds])
    m = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb(spark),
        "rows_per_s": median([(BASE_ROWS + inp.change_rows) / (r["import_s"] + r["drain_s"])
                              for r in rounds]),
        "visible_p50_s": med("visible_p50_s"),
        "visible_tail_s": med("visible_tail_s"),
        "read_s": med("view_read_s"),
    }
    notes.append(
        f"catchup: {len(rounds)} rounds of {BASE_ROWS} backfill rows + "
        f"{inp.change_rows} WAL rows in {len(inp.txns)} txns; medians: import "
        f"{import_rps:.0f} rows/s, drain {drain_rps:.0f} rows/s, view read "
        f"{m['read_s']:.3f} s; visible tail = p{rounds[0]['tail_pct']:.2f} "
        f"of each round's {len(inp.txns)} txns"
    )
    notes.append("phases (s): inputs %.1f, set-up %.1f, warm-up %.1f, rounds %.1f"
                 % tuple(b - a for a, b in zip(marks, marks[1:])))
    notes.append("per round (s): " + "; ".join(
        f"import {r['import_s']:.2f} drain {r['drain_s']:.2f} view {r['view_read_s']:.2f}"
        for r in rounds))
    if ctx.trace:
        import ladder

        n = len(rounds)
        m.update({
            "catchup.import_rows_per_s": import_rps,
            "catchup.drain_rows_per_s": drain_rps,
            "catchup.view_read_s": m["read_s"],
            "imports.keyset_s": tracer.total("imports.keyset") / n,
            "imports.insert_s": tracer.total("imports.insert") / n,
            "imports.progress_s": tracer.total("imports.progress") / n,
            "imports.batches": med("import_batches"),
            "warehouse.insert_s": median(tracer.durations("warehouse.insert")),
            "warehouse.insert_calls": tracer.count("warehouse.insert") / n,
            "warehouse.manifest_s": median(tracer.durations("warehouse.manifest")),
            "warehouse.view_install_s": median(tracer.durations("warehouse.view_install")),
            "warehouse.files": med("files"),
            "warehouse.bytes_per_row": median([r["bytes"] / r["raw_rows"] for r in rounds]),
        })
        per_round = spark_metrics([a for r in rounds for a in r["attrs"]])
        m.update({k: v / n for k, v in per_round.items()})
        m.update(progress_metrics([p for r in rounds for p in r["progress"]]))
        m["stream.batches"] /= n
        m.update(ladder.run_ladder(spark, entry, inp, os.path.join(ctx.work, "ladder"),
                                   ctx.cpus, MAX_COMMITS, rounds))
    stop_spark(spark)
    bad = [r for r in rounds if r["errors"]]
    return Result(  # one operation = one timed lifecycle round
        correct=not bad and not w["errors"],
        attempted=len(rounds),
        failed=len(bad),
        metrics=m,
        notes=notes,
    )
