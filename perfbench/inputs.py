"""Seeded benchmark inputs, staged to parquet once per (seed, size).

Pages are a seeded half-sample of a ``webgen.generate`` table: the
generator's own ``seed`` argument does not reach its hash expressions,
so rows are kept where ``xxhash64(seed, url)`` is even. Events come from
JVM hash expressions of the row id, with one hot user owning about half
of them. File counts follow from the input's bytes, not from the core
count, so every parallelism level reads the same files.

Next to each staged input the reference outputs are cached as JSON:
per-sink counts from the JVM extraction and parse path for pages, and a
DuckDB replay of the keyed operators for events.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# Sizes (measured on 4 cores, README "Input sizes"): a page job's time
# barely grows with its docs (stream_tail 7.2 s at 20k, 7.5 s at 60k),
# so pages stay small to keep staging within the run budget; events are
# sized so that fixed per-job cost is about a third of a keyed_skew job.
PAGE_DOCS = 20_000
EVENT_ROWS = 600_000
# measured parquet bytes per staged row; with FILE_BYTES they fix the
# file count (20k docs -> 8 files, 600k events -> 24 files)
PAGE_ROW_BYTES = 160
EVENT_ROW_BYTES = 16
FILE_BYTES = 400_000
HOT_USER = 0
N_USERS = 2000
EVENT_TYPES = ("click", "view", "buy", "error")
SESSION_GAP_SEC = 1800
PANE_SEC = 3600
WINDOW_SEC = 300


@dataclass(frozen=True)
class Staged:
    path: str
    rows: int
    files: int
    reference: dict


def _n_files(rows: int, row_bytes: int) -> int:
    return max(1, math.ceil(rows * row_bytes / FILE_BYTES))


def _cached(path: str) -> Staged | None:
    ref = os.path.join(path, "_reference.json")
    if not os.path.exists(ref):
        return None
    with open(ref) as fh:
        meta = json.load(fh)
    return Staged(path, meta["rows"], meta["files"], meta["reference"])


def _publish(tmp: str, path: str, rows: int, files: int, reference: dict) -> Staged:
    with open(os.path.join(tmp, "_reference.json"), "w") as fh:
        json.dump({"rows": rows, "files": files, "reference": reference}, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return Staged(path, rows, files, reference)


def staged_path(root: str, kind: str, seed: int) -> str:
    size = PAGE_DOCS if kind == "pages" else EVENT_ROWS
    return os.path.join(root, f"{kind}-seed{seed}-n{size}")


def load(root: str, kind: str, seed: int) -> Staged | None:
    """The cached input of this kind and seed, or None."""
    return _cached(staged_path(root, kind, seed))


def stage(spark: SparkSession, root: str, kind: str, seed: int) -> Staged:
    path = staged_path(root, kind, seed)
    return _cached(path) or STAGERS[kind](spark, path, seed)


def _stage_pages(spark: SparkSession, path: str, seed: int) -> Staged:
    from fluent_bit_spark.webgen import generate

    files = _n_files(PAGE_DOCS, PAGE_ROW_BYTES)
    pages = generate(spark, 2 * PAGE_DOCS, seed=seed, partitions=files).filter(
        F.pmod(F.xxhash64(F.lit(seed), F.col("url")), F.lit(2)) == 0
    )
    tmp = path + ".tmp"
    pages.write.mode("overwrite").parquet(tmp)
    staged = spark.read.parquet(tmp)
    rows = staged.count()
    return _publish(tmp, path, rows, files, page_reference(spark, staged))


def page_reference(spark: SparkSession, pages) -> dict:
    """Per-sink and parsed-row counts from the all-JVM path: JVM html
    extraction, then the JVM apache parse of the extracted text."""
    from fluent_bit_spark import webtext
    from fluent_bit_spark.pipeline import (
        DEFAULT_SINKS, enrich_stage, filter_stage, parse_stage, tag_stage,
    )
    from fluent_bit_spark.router import route_flags
    from fluent_bit_spark.webgen import geo_dict, lang_dict

    # checkpointed: fused into the parse and aggregate, the JVM
    # extraction chain overflows whole-stage codegen's 64 KB method limit
    extracted = webtext.extract_stage(
        pages.drop("text"), engine="jvm", keep_html=False
    ).localCheckpoint()
    parsed = parse_stage(extracted, engine="jvm", text_col="text_extracted")
    flagged = route_flags(
        tag_stage(enrich_stage(filter_stage(parsed), geo_dict(spark), lang_dict(spark))),
        DEFAULT_SINKS,
    )
    row = flagged.agg(
        F.count(F.lit(1)).alias("__parsed"),
        *[
            F.sum(F.col(f"`__route_{s.name}`").cast("long")).alias(s.name)
            for s in DEFAULT_SINKS
        ],
    ).collect()[0].asDict()
    return {"parsed_rows": row.pop("__parsed"), "sinks": row}


def _stage_events(spark: SparkSession, path: str, seed: int) -> Staged:
    i = F.col("id")

    def h(k: int):
        return F.abs(F.xxhash64(F.lit(seed), F.lit(k), i))

    types = F.array(*[F.lit(t) for t in EVENT_TYPES])
    rows = EVENT_ROWS
    files = _n_files(rows, EVENT_ROW_BYTES)
    events = spark.range(0, rows, 1, files).select(
        i.alias("event_id"),
        F.when(h(1) % 2 == 0, F.lit(HOT_USER))
        .otherwise(h(2) % N_USERS + 1)
        .alias("user_id"),
        F.element_at(types, (h(3) % len(EVENT_TYPES) + 1).cast("int")).alias("event_type"),
        # one value in 500 is an outlier, so pane_zscores flags some
        F.when(h(6) % 500 == 0, F.lit(100_000)).otherwise(h(4) % 1000).alias("value"),
        # events spread over 2*rows seconds from 2024-01-01T00:00:00Z
        F.timestamp_seconds(F.lit(1704067200) + h(5) % (2 * rows)).alias("ts"),
    )
    tmp = path + ".tmp"
    events.write.mode("overwrite").parquet(tmp)
    return _publish(tmp, path, rows, files, event_reference(tmp))


# (row count, integer-column sums) per keyed operator, replayed in DuckDB
def event_reference(path: str) -> dict:
    import duckdb

    from fluent_bit_spark.anomaly import pane_zscores_sql
    from fluent_bit_spark.sessions import sessionize_sql

    con = duckdb.connect()
    try:
        con.sql(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
        queries = {
            "groupby": """
                SELECT COUNT(*), SUM(n), SUM(sv) FROM (
                  SELECT user_id, COUNT(*) AS n, SUM(value) AS sv
                  FROM events GROUP BY user_id)""",
            "window": f"""
                SELECT COUNT(*), SUM(n), SUM(sv) FROM (
                  SELECT floor(epoch(ts) / {WINDOW_SEC}) AS w, event_type,
                         COUNT(*) AS n, SUM(value) AS sv
                  FROM events GROUP BY 1, 2)""",
            "sessionize": f"""
                SELECT COUNT(*), SUM(session), SUM(n_events), SUM(first_event_id)
                FROM ({sessionize_sql("events", key="user_id", ts_col="ts",
                                      gap_sec=SESSION_GAP_SEC, order_col="event_id")})""",
            "pane_zscores": f"""
                SELECT COUNT(*), SUM(pane), SUM(event_id), SUM(CAST(flagged AS INT))
                FROM ({pane_zscores_sql("events", "user_id", "ts", "value", "event_id",
                                        interval_sec=PANE_SEC)})""",
        }
        return {
            name: [int(v) for v in con.sql(q).fetchone()]
            for name, q in queries.items()
        }
    finally:
        con.close()


STAGERS = {"pages": _stage_pages, "events": _stage_events}
