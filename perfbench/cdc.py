"""Pieces both CDC workloads share: program set-up, the capture stream
and its micro-batch, visibility bookkeeping and the view check."""

from __future__ import annotations

import bisect
import os
import re
import time
from statistics import median

import gen
from observe import Tracer

STREAM_TIMEOUT_S = 120.0


def orders_entry():
    from pgsink_spark.changelog.registry import entry_from_relation

    return entry_from_relation(gen.ORDERS_REL)


def program_setup(work: str):
    """One set-up cycle's program work: register the pgoutput source,
    open a warehouse sink, announce the table schema, open the import
    job store. Returns the table's schema entry."""

    def setup(spark, i):
        from pgsink_spark.imports.jobs import ImportJobStore
        from pgsink_spark.sinks.warehouse import WarehouseSink
        from pgsink_spark.streaming.datasource import register

        register(spark)
        d = os.path.join(work, f"setup{i}")
        wh = WarehouseSink(spark, os.path.join(d, "wh"))
        entry = orders_entry()
        wh.handle_schema(entry)
        ImportJobStore(os.path.join(d, "jobs.json"))
        return entry

    return setup


def sink_flush(wh, entry, tracer: Tracer):
    """The pipeline's micro-batch: typed cast → exactly-once raw
    append → snapshot manifest flip. Returns the highest LSN made
    visible."""
    from pgsink_spark.changelog.envelope import cast_envelope

    def flush(df, bid):
        with tracer.span("stream.foreach_batch"):
            with tracer.span("warehouse.insert"):
                r = wh.insert(cast_envelope(df, entry.payload),
                              "public", "orders", epoch=bid)
            with tracer.span("warehouse.manifest"):
                wh.commit_manifest("public", "orders")
        return r.max_lsn

    return flush


class Stream:
    """A running ``format("pgoutput")`` stream over ``capture`` with a
    ``processingTime="0 seconds"`` trigger, feeding ``flush(df, id)``.

    ``flips`` records (monotonic time, LSN) after every micro-batch
    whose ``flush`` returned an LSN, i.e. made rows visible.
    """

    def __init__(self, spark, capture: str, ckpt: str, flush,
                 partitions: int, max_commits: int = 0):
        self.flips: list[tuple[float, int]] = []

        def batch(df, bid):
            top = flush(df, bid)
            if top is not None:
                self.flips.append((time.monotonic(), top))

        self.t0 = time.monotonic()
        self.query = (
            spark.readStream.format("pgoutput")
            .option("path", capture)
            .option("maxpartitions", str(partitions))
            .option("maxcommitspertrigger", str(max_commits))
            .option("drainid", os.path.basename(ckpt))
            .load()
            .writeStream.foreachBatch(batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def wait_for(self, lsn: int) -> float:
        """Block until ``lsn`` is visible (or, for a flush that returns
        nothing, delivered by the source); returns that moment."""
        polls = 0
        while True:
            if self.flips and self.flips[-1][1] >= lsn:
                return self.flips[-1][0]
            polls += 1
            if polls % 10 == 0:  # each of these is a JVM round trip
                if source_lsn(self.query.lastProgress) >= lsn:
                    return time.monotonic()
                if self.query.exception() is not None:
                    raise RuntimeError(f"stream failed: {self.query.exception()}")
                if time.monotonic() - self.t0 > STREAM_TIMEOUT_S:
                    raise TimeoutError(f"LSN {lsn} not visible in {STREAM_TIMEOUT_S} s")
            time.sleep(0.005)

    def stop(self) -> list:
        """Stop the query once the last flipped micro-batch has reported
        its progress; returns ``recentProgress``."""
        try:
            top = self.flips[-1][1] if self.flips else 0
            deadline = time.monotonic() + 10.0
            while (source_lsn(self.query.lastProgress) < top
                   and time.monotonic() < deadline):
                time.sleep(0.05)
            return self.query.recentProgress
        finally:
            self.query.stop()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        if self.query.isActive:
            self.query.stop()


def source_lsn(progress) -> int:
    """End LSN of the source in a progress report (0 before any)."""
    if progress is None or not progress.sources:
        return 0
    found = re.search(r"\d+", progress.sources[0].endOffset or "")
    return int(found.group()) if found else 0


def visible_at(flips, lsns: list[int]) -> list[float]:
    """Per LSN: the time of the first manifest flip that covers it."""
    tops = [lsn for _t, lsn in flips]
    return [flips[bisect.bisect_left(tops, lsn)][0] for lsn in lsns]


def check_view(rows: list[tuple], expected: dict[int, tuple]) -> list[str]:
    """Differences between view rows ``(key, cust, status, price)`` and
    the replayed table state; empty when they agree."""
    errs = []
    seen: dict[int, tuple] = {}
    for r in rows:
        if r[0] in seen:
            errs.append(f"key {r[0]} appears twice in the view")
        seen[r[0]] = tuple(r)
    missing = expected.keys() - seen.keys()
    extra = seen.keys() - expected.keys()
    if missing:
        errs.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    if extra:
        errs.append(f"{len(extra)} unexpected keys, e.g. {sorted(extra)[:3]}")
    wrong = [k for k in expected.keys() & seen.keys() if seen[k] != expected[k]]
    if wrong:
        k = min(wrong)
        errs.append(f"{len(wrong)} keys differ, e.g. {k}: {seen[k]} != {expected[k]}")
    return errs


def view_rows(table) -> list[tuple]:
    """Rows of a pyarrow view read, in ``ORDERS_COLS`` order."""
    return list(zip(*(table.column(c).to_pylist() for c in gen.ORDERS_COLS)))


def raw_stats(wh_root: str) -> tuple[int, int]:
    """(parquet files, bytes) of the raw table."""
    files = size = 0
    for dp, dn, fn in os.walk(os.path.join(wh_root, "public_orders_raw")):
        dn[:] = [d for d in dn if d != "_manifest"]
        for f in fn:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dp, f))
    return files, size


def progress_metrics(progress) -> dict[str, float]:
    """Median per-batch phases from ``StreamingQuery.recentProgress``
    over the batches that read rows."""
    rows = [p for p in progress if p.numInputRows > 0]
    out = {"stream.batches": float(len(rows)),
           "stream.rows_per_batch": median([p.numInputRows for p in rows])}
    for key, name in (
        ("latestOffset", "latest_offset"),
        ("queryPlanning", "query_planning"),
        ("addBatch", "add_batch"),
        ("walCommit", "wal_commit"),
        ("commitOffsets", "commit_offsets"),
    ):
        out[f"stream.{name}_ms"] = median([p.durationMs.get(key, 0) for p in rows])
    return out
