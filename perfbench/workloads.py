"""The four benchmark workloads: one job each, driven through the
library's public entry points, plus the check of each job's output
against the cached reference for its seed.

A job returns what it produced; ``check`` returns a list of mismatches
(empty when the output is correct).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

import inputs

# files per micro-batch in stream_tail: 8 staged files -> 2 triggers (README
# "Input sizes" gives why not more)
STREAM_FILES_PER_TRIGGER = 4


@dataclass
class Ctx:
    spark: object
    source: str  # the staged input directory the job reads
    scratch: str
    tracer: object
    dims: tuple | None = None
    job_no: int = 0


@dataclass(frozen=True)
class Workload:
    name: str
    input_kind: str  # staged input the job reads: "pages" or "events"
    job: Callable  # (ctx) -> output
    check: Callable  # (output, staged) -> list[str]


def _sink_names():
    from fluent_bit_spark.pipeline import DEFAULT_SINKS

    return [s.name for s in DEFAULT_SINKS]


def _diff(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got!r}, want {want!r}"]


def _footer_rows(sink_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(sink_dir, n)).metadata.num_rows
        for n in os.listdir(sink_dir)
        if n.endswith(".parquet")
    )


def _fresh_dir(ctx: Ctx, name: str) -> str:
    path = os.path.join(ctx.scratch, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


# -- route_html --------------------------------------------------------------


def route_html_job(ctx: Ctx) -> dict:
    from fluent_bit_spark.pipeline import (
        DEFAULT_SINKS, enrich_stage, extract_parse_stage, filter_stage, tag_stage,
    )
    from fluent_bit_spark.router import route_flags
    from fluent_bit_spark.webgen import geo_dict, lang_dict

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("route_html", f"job{ctx.job_no}"):
        pages = spark.read.parquet(ctx.source).drop("text")
        with tr.span("extract_parse_stage"):
            df = extract_parse_stage(pages, include_text=False)
        with tr.span("filter_stage"):
            df = filter_stage(df)
        with tr.span("enrich_stage"):
            df = enrich_stage(df, geo_dict(spark), lang_dict(spark), dims=ctx.dims)
        with tr.span("tag_stage"):
            df = tag_stage(df)
        with tr.span("route_flags"):
            flagged = route_flags(df, DEFAULT_SINKS)
        counts = flagged.agg(
            *[
                F.sum(F.col(f"`__route_{s.name}`").cast("long")).alias(s.name)
                for s in DEFAULT_SINKS
            ]
        )
        with tr.span("collect"):
            return counts.collect()[0].asDict()


def route_html_check(out: dict, staged: inputs.Staged) -> list[str]:
    return _diff("sink counts", out, staged.reference["sinks"])


# -- sinks_text --------------------------------------------------------------


def sinks_text_job(ctx: Ctx) -> dict:
    from fluent_bit_spark.pipeline import run_pipeline

    out_dir = _fresh_dir(ctx, "sinks_text")
    with ctx.tracer.span("run_pipeline", f"job{ctx.job_no}"):
        pages = ctx.spark.read.parquet(ctx.source).drop("html")
        res = run_pipeline(
            ctx.spark, pages, out_dir, run_id=f"job{ctx.job_no}",
            resume=False, engine="jvm",
        )
    return {"out_dir": out_dir, "manifest": res.manifest_path}


def sinks_text_check(out: dict, staged: inputs.Staged) -> list[str]:
    ref = staged.reference
    with open(out["manifest"]) as fh:
        manifest = json.load(fh)
    errors = _diff("manifest input_rows", manifest["input_rows"], staged.rows)
    errors += _diff("manifest parsed_rows", manifest["parsed_rows"], ref["parsed_rows"])
    for name in _sink_names():
        want = ref["sinks"][name]
        errors += _diff(f"manifest {name}", manifest["sinks"][name]["rows"], want)
        sink_dir = os.path.join(out["out_dir"], name)
        errors += _diff(f"{name} _SUCCESS", os.path.exists(os.path.join(sink_dir, "_SUCCESS")), True)
        errors += _diff(f"{name} footer rows", _footer_rows(sink_dir), want)
    shutil.rmtree(out["out_dir"], ignore_errors=True)
    return errors


# -- stream_tail -------------------------------------------------------------


def stream_tail_job(ctx: Ctx) -> dict:
    from fluent_bit_spark.pipeline import DEFAULT_SINKS
    from fluent_bit_spark.streaming import run_pipeline_stream, tail_source

    out_dir = _fresh_dir(ctx, "stream_tail")
    tr = ctx.tracer
    with tr.span("stream_tail", f"job{ctx.job_no}"):
        with tr.span("tail_source"):
            src = tail_source(
                ctx.spark, ctx.source,
                max_files_per_trigger=STREAM_FILES_PER_TRIGGER,
            )
        with tr.span("run_pipeline_stream"):
            query = run_pipeline_stream(
                ctx.spark, src, out_dir, DEFAULT_SINKS,
                checkpoint_dir=os.path.join(out_dir, "_checkpoint"),
                available_now=True, engine="fused",
            )
        with tr.span("awaitTermination"):
            query.awaitTermination()
    return {
        "out_dir": out_dir,
        "progress": [
            {"rows": p.numInputRows, **p.durationMs} for p in query.recentProgress
        ],
    }


def stream_tail_check(out: dict, staged: inputs.Staged) -> list[str]:
    ref = staged.reference["sinks"]
    progress = out["progress"]
    want_triggers = -(-staged.files // STREAM_FILES_PER_TRIGGER)
    errors = _diff("triggers", len(progress), want_triggers)
    errors += _diff("input rows", sum(p["rows"] for p in progress), staged.rows)
    for name in _sink_names():
        sink_dir = os.path.join(out["out_dir"], name)
        got = _footer_rows(sink_dir) if os.path.isdir(sink_dir) else 0
        errors += _diff(f"{name} footer rows", got, ref[name])
    shutil.rmtree(out["out_dir"], ignore_errors=True)
    return errors


# -- keyed_skew --------------------------------------------------------------


def keyed_skew_job(ctx: Ctx) -> dict:
    from fluent_bit_spark.anomaly import pane_zscores
    from fluent_bit_spark.sessions import sessionize
    from fluent_bit_spark.sqlsp import SPEngine

    spark, tr = ctx.spark, ctx.tracer
    summaries = {}
    with tr.span("keyed_skew", f"job{ctx.job_no}"):
        events = spark.read.parquet(ctx.source)
        engine = SPEngine(streams={"events": events}, mode="static", ts_col="ts")
        with tr.span("SPEngine.run"):
            groupby = engine.run(
                "SELECT user_id, COUNT(*) AS n, SUM(value) AS sv "
                "FROM STREAM:events GROUP BY user_id;"
            )
            window = engine.run(
                "SELECT event_type, COUNT(*) AS n, SUM(value) AS sv FROM STREAM:events "
                f"WINDOW TUMBLING ({inputs.WINDOW_SEC} SECOND) GROUP BY event_type;"
            )
        with tr.span("sessionize"):
            sessions = sessionize(
                events, key="user_id", ts_col="ts",
                gap_sec=inputs.SESSION_GAP_SEC, order_col="event_id",
            )
        with tr.span("pane_zscores"):
            zscores = pane_zscores(
                events, "user_id", "ts", "value", "event_id",
                interval_sec=inputs.PANE_SEC,
            )
        sv = F.sum(F.col("sv").cast("long"))
        plans = {
            "groupby": groupby.agg(F.count(F.lit(1)), F.sum("n"), sv),
            "window": window.agg(F.count(F.lit(1)), F.sum("n"), sv),
            "sessionize": sessions.agg(
                F.count(F.lit(1)), F.sum("session"), F.sum("n_events"),
                F.sum("first_event_id"),
            ),
            "pane_zscores": zscores.agg(
                F.count(F.lit(1)), F.sum("pane"), F.sum("event_id"),
                F.sum(F.col("flagged").cast("long")),
            ),
        }
        for name, plan in plans.items():
            with tr.span(f"collect.{name}"):
                summaries[name] = [int(v or 0) for v in plan.collect()[0]]
    return summaries


def keyed_skew_check(out: dict, staged: inputs.Staged) -> list[str]:
    return [
        err
        for name, want in staged.reference.items()
        for err in _diff(name, out[name], want)
    ]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("route_html", "pages", route_html_job, route_html_check),
        Workload("sinks_text", "pages", sinks_text_job, sinks_text_check),
        Workload("keyed_skew", "events", keyed_skew_job, keyed_skew_check),
        Workload("stream_tail", "pages", stream_tail_job, stream_tail_check),
    )
}
