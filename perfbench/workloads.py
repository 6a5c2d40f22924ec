"""Shared workload harness: result type, repeated set-up, dispatch."""

from __future__ import annotations

import subprocess
import time
from dataclasses import dataclass, field
from statistics import median


SETUP_CYCLES = 3

# Metric names each run reports; perfbench/tests pins them to
# BENCHMARK.json and run_workload() to what a run actually emits.
END_TO_END = ("setup_s", "peak_rss_mb", "rows_per_s", "visible_p50_s",
              "visible_tail_s", "read_s")
SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s",
              "shuffle_write_bytes", "driver_gap_s")
SPARK_LAYER = tuple(f"spark.{k}" for k in SPARK_KEYS)
DECODE_LAYERS = ("decoder.decode_s", "decoder.msgs", "sequence.feed_s",
                 "marshal.marshal_s", "marshal.rows", "datasource.read_s")
STREAM_LAYER = ("stream.batches", "stream.rows_per_batch",
                "stream.latest_offset_ms", "stream.query_planning_ms",
                "stream.add_batch_ms", "stream.wal_commit_ms",
                "stream.commit_offsets_ms")
WAREHOUSE_LAYER = ("warehouse.insert_s", "warehouse.insert_calls",
                   "warehouse.manifest_s", "warehouse.view_install_s",
                   "warehouse.files", "warehouse.bytes_per_row")


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    work: str
    cpus: int


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict[str, float]
    notes: list[str] = field(default_factory=list)


def setup_cycles(app: str, cpus: int, program_setup, cycles: int = SETUP_CYCLES):
    """Set the program up ``cycles`` times and keep the last session.

    One cycle is ``get_spark`` plus the workload's own program set-up
    (``program_setup(spark, i)``: source registration, sink, schema).
    Every cycle but the last stops its session; the first one also
    launches the JVM. Returns (spark, last set-up state, median s).
    """
    from pgsink_spark.session import get_spark

    times = []
    for i in range(cycles):
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{app}", cpus)
        state = program_setup(spark, i)
        times.append(time.perf_counter() - t0)
        if i < cycles - 1:
            spark.stop()
    return spark, state, median(times)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit. The JVM
    exits when its stdin closes; its Python workers follow it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def spark_metrics(attrs: list[dict]) -> dict[str, float]:
    """Sum region attributions into ``spark.{jobs,…}`` metrics."""
    return {f"spark.{k}": float(sum(a[k] for a in attrs)) for k in SPARK_KEYS}


def spec() -> dict:
    """The benchmark declaration, BENCHMARK.json at the checkout root."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        os.pardir, "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 work: str, cpus: int) -> Result:
    """Run one workload; ``metrics`` holds exactly the declared names of
    the run's kind (per-layer with ``trace``, else end-to-end)."""
    if name == "catchup":
        import catchup as mod
    else:
        import trickle as mod
    res = mod.run(Ctx(seed, seconds, trace, work, cpus))
    want = set(END_TO_END) | (set(mod.PER_LAYER) if trace else set())
    if set(res.metrics) != want:
        raise KeyError(
            f"{name} emitted {sorted(set(res.metrics) - want)} beyond and "
            f"lacks {sorted(want - set(res.metrics))} of its declared metrics"
        )
    if trace:
        # the per-layer list spans both workloads; a layer this workload
        # does not exercise reads 0
        names = [m["name"] for m in spec()["per_layer"]]
        res.metrics = {n: float(res.metrics.get(n, 0.0)) for n in names}
    else:
        res.metrics = {n: float(res.metrics[n]) for n in END_TO_END}
    return res
