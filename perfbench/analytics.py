"""The analytics query list: registry queries over seeded tables of
sf0.1 shape, each checked against its ``__spark_entry__.oracle_sql()``
DuckDB oracle. Run inside the traced ``trickle`` run; see README.md.

``ivm_topk_view`` is left out: it keeps its state under a fixed /tmp
path, outside the checkout the benchmark may write to.
"""

from __future__ import annotations

import math
import os
import time
from datetime import date, datetime
from decimal import Decimal

import gen
from observe import SparkAttribution
from workloads import SPARK_KEYS

QUERIES = (
    "graph_kcore",
    "graph_label_propagation",
    "graph_linkpred",
    "dedup_cluster",
    "dedup_ngram_jaccard",
    "diversity_kcenter",
    "dedup_lsh_band_curve",
    "a16_compaction_view",
    "b4_latest_per_key",
)
PER_LAYER = (
    ("analytics.analytics_s",)
    + tuple(f"analytics.{q}_s" for q in QUERIES)
    + tuple(f"analytics.{q}.{k}" for q in QUERIES for k in SPARK_KEYS)
)


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def canon(rows, cols: list[str]) -> list[tuple]:
    """Order-insensitive, column-order-insensitive result form (the
    same comparison tools/selfcheck.py applies)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda row: tuple((v is None, str(v)) for v in row),
    )


def write_tables(seed: int, d: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    for name, table in gen.analytics_tables(seed).items():
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))


def oracle_results(d: str) -> dict[str, tuple[list[str], list]]:
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("orders", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        out = {}
        for q in QUERIES:
            rel = con.sql(oracles[q])
            out[q] = (list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def run_list(spark, seed: int, d: str) -> tuple[dict[str, float], list[str]]:
    """Time each query (collect included) with Spark attribution per
    query; returns (metrics, oracle mismatches)."""
    import __spark_entry__ as entry

    write_tables(seed, d)
    fns = entry.queries()
    attr = SparkAttribution(spark)
    m: dict[str, float] = {}
    results = {}
    for q in QUERIES:
        t0 = time.monotonic()
        df = fns[q](spark, d)
        rows = df.collect()
        wall = time.monotonic() - t0
        results[q] = (df.columns, rows)
        m[f"analytics.{q}_s"] = wall
        a = attr.read(wall)
        for k in SPARK_KEYS:
            m[f"analytics.{q}.{k}"] = float(a[k])
    m["analytics.analytics_s"] = sum(m[f"analytics.{q}_s"] for q in QUERIES)
    errors = []
    for q, (ocols, orows) in oracle_results(d).items():
        cols, rows = results[q]
        if canon(rows, cols) != canon(orows, ocols) or sorted(
            c.lower() for c in cols
        ) != sorted(c.lower() for c in ocols):
            errors.append(f"analytics {q}: result differs from its oracle")
    return m, errors
