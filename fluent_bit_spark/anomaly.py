"""Metric anomaly detection: per-pane z-scores + cross-pane EWMA drift.

The alerting tier a fleet pipeline bolts onto its metrics stream. The
reference's closest surfaces are threshold alerts (in_cpu/in_mem
``alert`` mode, plugins/in_cpu/cpu.c — a fixed cutoff on the current
sample, ported in hoststats) ; statistical baselines are part of the
beyond-reference analytics tier, same class as dataops.sketches.

Design for determinism + scale, two levels:

* **pane_zscores** — tumbling panes (floor(epoch/interval)); each
  sample scored against ITS OWN pane's population mean/std. Per
  (key, pane) state is the pane's sample list — bounded by pane width
  by construction (the same bound filter_throttle's pane rank uses).
  Sums fold in a FIXED order (array_sort(collect_list(struct)) +
  F.aggregate left fold — the repo's bm25/pagerank pattern), so every
  mean/std/z is a bit-deterministic function of the data,
  partition-independent, and the DuckDB oracle replays it with
  list_reduce over the same sorted list. No rounding anywhere: equal
  inputs produce bit-equal doubles in both engines.
* **ewma_drift** — the per-key series of PANE MEANS (<= panes rows per
  key, e.g. 720/month at 1h) folded through the standard EWMA
  recursions m_i = (1-a)*m_{i-1} + a*x_i and s_i (same recursion on
  squares); a pane is drift-flagged when its mean departs the
  PREVIOUS pane's baseline by more than z_threshold sigma. One extra
  tiny groupBy per key — the cross-pane state is the (m, s) pair, the
  same constant-state contract as the sketches.

z convention: z_i = (x - mean) / std with std = population sigma of
the pane; panes with fewer than ``min_n`` samples or zero variance
emit z = 0 (never flagged) rather than NaN/inf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pane(ts_col: str, interval_sec: int):
    ep = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return F.floor(ep / F.lit(interval_sec * 1_000_000)).cast("long")


def pane_zscores(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    interval_sec: int = 3600,
    z_threshold: float = 3.0,
    min_n: int = 5,
) -> DataFrame:
    """Score every sample against its tumbling pane's population:
    (key, pane, <order_col>, v, z, flagged).

    One groupBy(key, pane) + explode — the grouped list is pane-bounded.
    """
    staged = df.select(
        F.col(key).alias("key"),
        _pane(ts_col, interval_sec).alias("pane"),
        F.col(order_col).alias("ord"),
        F.col(value_col).cast("double").alias("v"),
    )
    grouped = staged.groupBy("key", "pane").agg(
        F.array_sort(F.collect_list(F.struct("ord", "v"))).alias("xs")
    )
    # fixed-order left folds from an exact zero: bit-deterministic
    s1 = F.aggregate(
        "xs", F.lit(0.0), lambda acc, x: acc + x.getField("v")
    )
    s2 = F.aggregate(
        "xs", F.lit(0.0),
        lambda acc, x: acc + x.getField("v") * x.getField("v"),
    )
    grouped = (
        grouped.withColumn("n", F.size("xs").cast("long"))
        .withColumn("s1", s1)
        .withColumn("s2", s2)
        .withColumn("mean", F.col("s1") / F.col("n"))
        .withColumn(
            "var",
            F.col("s2") / F.col("n") - F.col("mean") * F.col("mean"),
        )
    )
    x = F.col("x")
    z = F.when(
        (F.col("n") < min_n) | (F.col("var") <= 0.0), F.lit(0.0)
    ).otherwise((x.getField("v") - F.col("mean")) / F.sqrt(F.col("var")))
    out = grouped.select(
        "key", "pane", "n", "mean", "var",
        F.explode("xs").alias("x"),
    ).select(
        "key",
        "pane",
        F.col("x").getField("ord").alias(order_col),
        F.col("x").getField("v").alias("v"),
        z.alias("z"),
    )
    return out.withColumn(
        "flagged", F.abs(F.col("z")) > F.lit(float(z_threshold))
    )


def pane_zscores_sql(
    table: str,
    key: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    interval_sec: int = 3600,
    z_threshold: float = 3.0,
    min_n: int = 5,
) -> str:
    """DuckDB replay of :func:`pane_zscores` value-for-value — the same
    sorted-list left folds (list_reduce with an exact-zero seed,
    CLAUDE.md fixed-order-fold pattern)."""
    return f"""
        WITH staged AS (
          SELECT {key} AS key,
                 CAST(floor(epoch_us({ts_col}) / {interval_sec * 1_000_000})
                      AS BIGINT) AS pane,
                 {order_col} AS ord,
                 CAST({value_col} AS DOUBLE) AS v
          FROM {table}
        ), grouped AS (
          SELECT key, pane,
                 list({{'ord': ord, 'v': v}} ORDER BY ord, v) AS xs,
                 COUNT(*) AS n
          FROM staged GROUP BY key, pane
        ), stats AS (
          SELECT key, pane, xs, n,
                 list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                [x.v FOR x IN xs]),
                   (a, b) -> a + b) AS s1,
                 list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                [x.v * x.v FOR x IN xs]),
                   (a, b) -> a + b) AS s2
          FROM grouped
        ), m AS (
          SELECT key, pane, xs, n, s1 / n AS mean,
                 s2 / n - (s1 / n) * (s1 / n) AS var
          FROM stats
        ), ex AS (
          SELECT key, pane, n, mean, var, unnest(xs, recursive := true)
          FROM m
        )
        SELECT key, pane, ord AS {order_col}, v,
               CASE WHEN n < {min_n} OR var <= 0.0 THEN 0.0
                    ELSE (v - mean) / sqrt(var) END AS z,
               abs(CASE WHEN n < {min_n} OR var <= 0.0 THEN 0.0
                        ELSE (v - mean) / sqrt(var) END)
                 > {float(z_threshold)!r} AS flagged
        FROM ex
    """


def ewma_drift(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    interval_sec: int = 3600,
    alpha: float = 0.3,
    z_threshold: float = 3.0,
    min_history: int = 5,
) -> DataFrame:
    """Cross-pane drift: fold the per-key series of pane means through
    EWMA mean/second-moment recursions; flag pane i when
    |mean_i - m_{i-1}| > z_threshold * sqrt(var_{i-1}) with at least
    ``min_history`` panes behind it.

    Returns (key, pane, pane_mean, baseline, sigma, drifted). The fold
    is a per-key loop over <= #panes values (a month of hourly panes is
    720 rows) — driver-free, shuffle = one groupBy(key, pane) + one
    groupBy(key).
    """
    a = float(alpha)
    staged = df.select(
        F.col(key).alias("key"),
        _pane(ts_col, interval_sec).alias("pane"),
        F.col(value_col).cast("double").alias("v"),
    )
    panes = staged.groupBy("key", "pane").agg(
        F.array_sort(F.collect_list("v")).alias("vs")
    ).withColumn(
        "pane_mean",
        F.aggregate("vs", F.lit(0.0), lambda acc, x: acc + x)
        / F.size("vs"),
    ).drop("vs")
    series = panes.groupBy("key").agg(
        F.array_sort(F.collect_list(F.struct("pane", "pane_mean"))).alias("ps")
    )
    # left fold carrying (m, s, i, out[]); out rows score pane i against
    # the state BEFORE absorbing it
    zero = F.struct(
        F.lit(0.0).alias("m"),
        F.lit(0.0).alias("s"),
        F.lit(0).cast("long").alias("i"),
        F.array().cast(
            "array<struct<pane:bigint,pane_mean:double,baseline:double,"
            "sigma:double,drifted:boolean>>"
        ).alias("out"),
    )

    def step(acc, x):
        pm = x.getField("pane_mean")
        var = acc.getField("s") - acc.getField("m") * acc.getField("m")
        sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
        drift = (
            (acc.getField("i") >= min_history)
            & (sigma > 0.0)
            & (F.abs(pm - acc.getField("m")) > F.lit(z_threshold) * sigma)
        )
        row = F.struct(
            x.getField("pane").alias("pane"),
            pm.alias("pane_mean"),
            acc.getField("m").alias("baseline"),
            sigma.alias("sigma"),
            drift.alias("drifted"),
        )
        first = acc.getField("i") == 0
        m2 = F.when(first, pm).otherwise(
            (1.0 - a) * acc.getField("m") + a * pm
        )
        s2 = F.when(first, pm * pm).otherwise(
            (1.0 - a) * acc.getField("s") + a * pm * pm
        )
        return F.struct(
            m2.alias("m"),
            s2.alias("s"),
            (acc.getField("i") + 1).alias("i"),
            F.array_append(acc.getField("out"), row).alias("out"),
        )

    folded = series.select(
        "key", F.aggregate("ps", zero, step).getField("out").alias("out")
    )
    return folded.select("key", F.explode("out").alias("o")).select(
        "key",
        F.col("o").getField("pane").alias("pane"),
        F.col("o").getField("pane_mean").alias("pane_mean"),
        F.col("o").getField("baseline").alias("baseline"),
        F.col("o").getField("sigma").alias("sigma"),
        F.col("o").getField("drifted").alias("drifted"),
    )


def ewma_drift_stream(
    events: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    interval_sec: int = 3600,
    alpha: float = 0.3,
    z_threshold: float = 3.0,
    min_history: int = 5,
):
    """Streaming drift alerts: the :func:`ewma_drift` recursion with the
    (m, s, i) baseline carried ACROSS micro-batches per key via
    applyInPandasWithState — emit one row per completed pane, flagged
    against the baseline as it stood BEFORE the pane.

    Equality with the batch fold on closed panes holds up to summation
    ORDER: the stream accumulates a pane's sum in (ts, value) arrival
    order while batch folds value-sorted, so arbitrary doubles can
    differ in the last ulp (bit-equal for exactly-summable values —
    the e2e test uses dyadic values; treat cross-checks accordingly).

    Ordering/closing contract: each invocation sorts its batch's rows
    globally (across Arrow chunks) before folding; a pane closes when a
    LATER pane's first sample arrives for the key, so the still-open
    newest pane stays buffered as (pane, sum, count) until the stream
    moves past it — flush the tail by sending any later-pane record
    (the streaming SP / dedup flush contract). Records for panes
    EARLIER than the open pane (late cross-batch arrivals) are DROPPED
    — their pane already closed and the EWMA absorbed it; the
    no-watermark tradeoff, stated here rather than hidden. Null
    timestamps and null values are dropped (batch's collect_list skips
    nulls the same way). Micros are taken JVM-side (tz-independent,
    sessionize_stream lesson).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .sessions import ordered_rows

    a = float(alpha)
    key_ddl = events.schema[key].dataType.simpleString()
    out_schema = (
        f"{key} {key_ddl}, pane long, pane_mean double, baseline double, "
        "sigma double, drifted boolean"
    )
    # m/s/i = the cross-pane EWMA state; csum/cn = the open pane's
    # running sum/count. cn == 0 means "no open pane" (close_pane is
    # only reachable with cn >= 1, so the encoding is unambiguous and
    # no sentinel pane id can collide with a real pre-epoch pane)
    state_schema = (
        "m double, s double, i long, open_pane long, csum double, cn long"
    )
    pane_us = interval_sec * 1_000_000

    def track(key_tuple, pdfs, state: GroupState):
        if state.exists:
            m, s, i, open_pane, csum, cn = state.get
        else:
            m, s, i, open_pane, csum, cn = 0.0, 0.0, 0, 0, 0.0, 0
        rows = []

        def close_pane():
            nonlocal m, s, i
            pane_mean = csum / cn
            var = s - m * m
            sigma = max(var, 0.0) ** 0.5
            drifted = bool(
                i >= min_history and sigma > 0.0
                and abs(pane_mean - m) > z_threshold * sigma
            )
            rows.append((key_tuple[0], open_pane, pane_mean, m, sigma,
                         drifted))
            if i == 0:
                m, s = pane_mean, pane_mean * pane_mean
            else:
                m = (1.0 - a) * m + a * pane_mean
                s = (1.0 - a) * s + a * pane_mean * pane_mean
            i += 1

        # one global sort across every Arrow chunk of this batch: a
        # per-chunk sort would close panes prematurely
        rows_in = ordered_rows(pdfs, ["__us", "__v"])
        for u, v in zip(rows_in["__us"].astype("int64"),
                        rows_in["__v"].astype("float64")):
            pane = int(u) // pane_us
            if cn == 0:
                open_pane = pane
            elif pane > open_pane:
                close_pane()
                open_pane, csum, cn = pane, 0.0, 0
            elif pane < open_pane:
                # late arrival for an already-closed pane: dropped
                # (docstring contract)
                continue
            csum += float(v)
            cn += 1
        state.update((float(m), float(s), int(i), int(open_pane),
                      float(csum), int(cn)))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[key, "pane", "pane_mean", "baseline", "sigma",
                         "drifted"],
            )

    staged = events.select(
        F.col(key),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
        F.col(value_col).cast("double").alias("__v"),
    )
    return staged.groupBy(F.col(key)).applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
