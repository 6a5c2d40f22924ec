"""The CDC layer ladder, run on the ``catchup`` capture (traced runs).

Each rung adds one layer to the one below and is timed over the whole
capture:

    decode → +sequence → +marshal → +read (``PgoutputStreamReader.read``,
    Arrow emit) → +source (the DSv2 stream, rows dropped in the noop
    sink) → +cast (``cast_envelope``) → +append (``WarehouseSink.insert``)
    → +manifest (``commit_manifest``) → +view (full compaction-view read)

The first four rungs run in this process on one core, as one executor
slice would; the rest run the real stream with ``maxpartitions`` =
cores. The ``manifest`` and ``view`` rungs are the timed rounds
themselves. Layer seconds are differences between adjacent rungs.
"""

from __future__ import annotations

import os
import time
from statistics import median


RUNGS = ("decode", "sequence", "marshal", "read", "source", "cast",
         "append", "manifest", "view")


def _in_process(capture: str, final_lsn: int) -> dict:
    from pgsink_spark.streaming.datasource import (
        PgoutputStreamReader,
        iter_capture_from,
    )
    from pgsink_spark.streaming.decoder import decode_message
    from pgsink_spark.streaming.marshal import RelationCache, marshal
    from pgsink_spark.streaming.sequence import Sequencer

    out = {}
    t0 = time.perf_counter()
    msgs = 0
    for _p, buf in iter_capture_from(capture, 0):
        decode_message(buf)
        msgs += 1
    out["decode"] = time.perf_counter() - t0
    out["msgs"] = msgs

    seq = Sequencer()
    t0 = time.perf_counter()
    for _p, buf in iter_capture_from(capture, 0):
        seq.feed(decode_message(buf))
    out["sequence"] = time.perf_counter() - t0

    cache, seq, rows = RelationCache(), Sequencer(), 0
    t0 = time.perf_counter()
    for _p, buf in iter_capture_from(capture, 0):
        sm = seq.feed(decode_message(buf))
        if sm is not None and marshal(cache, sm) is not None:
            rows += 1
    out["marshal"] = time.perf_counter() - t0
    out["rows"] = rows

    reader = PgoutputStreamReader({"path": capture})
    (part,) = reader.partitions({"lsn": 0}, {"lsn": final_lsn})
    t0 = time.perf_counter()
    emitted = sum(b.num_rows for b in reader.read(part))
    out["read"] = time.perf_counter() - t0
    if emitted != rows:
        raise RuntimeError(f"reader emitted {emitted} rows, marshal made {rows}")
    return out


def run_ladder(spark, entry, inp, work: str, cpus: int, max_commits: int,
               rounds: list[dict]) -> dict:
    import shutil

    from cdc import Stream
    from pgsink_spark.changelog.envelope import cast_envelope
    from pgsink_spark.sinks.warehouse import WarehouseSink

    os.makedirs(work)
    capture = os.path.join(work, "wal.capture")
    shutil.copyfile(inp.capture, capture)
    secs = _in_process(capture, inp.final_lsn)

    def noop(df, _bid):
        df.write.format("noop").mode("overwrite").save()

    def cast(df, _bid):
        cast_envelope(df, entry.payload).write.format("noop").mode("overwrite").save()

    wh = WarehouseSink(spark, os.path.join(work, "wh"))
    wh.handle_schema(entry)

    def append(df, bid):
        wh.insert(cast_envelope(df, entry.payload), "public", "orders", epoch=bid)

    for rung, flush in (("source", noop), ("cast", cast), ("append", append)):
        ckpt = os.path.join(work, f"ckpt-{rung}")
        with Stream(spark, capture, ckpt, flush, cpus, max_commits) as s:
            secs[rung] = s.wait_for(inp.final_lsn) - s.t0
            s.stop()
    secs["manifest"] = median([r["drain_s"] for r in rounds])
    secs["view"] = median([r["drain_s"] + r["view_read_s"] for r in rounds])

    m = {f"ladder.{r}_rows_per_s": secs["rows"] / secs[r] for r in RUNGS}
    m.update(layer_seconds(secs))
    m["envelope.cast_s"] = secs["cast"] - secs["source"]
    return m


def in_process_layers(capture: str, final_lsn: int) -> dict:
    """Decode-path layer metrics from the in-process rungs alone."""
    return layer_seconds(_in_process(capture, final_lsn))


def layer_seconds(secs: dict) -> dict:
    m = {}
    m["decoder.decode_s"] = secs["decode"]
    m["decoder.msgs"] = float(secs["msgs"])
    m["sequence.feed_s"] = secs["sequence"] - secs["decode"]
    m["marshal.marshal_s"] = secs["marshal"] - secs["sequence"]
    m["marshal.rows"] = float(secs["rows"])
    m["datasource.read_s"] = secs["read"]
    return m
