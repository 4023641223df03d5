"""Seventh wave (SURVEY.md §2.5 X61-X66): classic product-analytics
operators over the event stream — Markov transition matrix, weekly
retention cohorts, a strictly-sequential conversion funnel, daily
anomaly flags (median/MAD over the per-type daily series), LTV decile
bands (broadcast DISCRETE order-statistic boundaries — integer prefix
sums, no interpolated quantile, no global rank window), and a
nearest-centroid confusion matrix over the embeddings. These are
the workloads the reference's own domain (event streams into Flink)
exists to serve; the reference delegates them wholesale to Flink's API
(SURVEY §2.2), so here they are first-class, oracle-checked plans.

Scale posture, per operator:
- transition matrix: ONE user-keyed window (lead over (ts, event_id) —
  a total order, so tie-handling is engine-independent) feeding a
  |types|²-bounded aggregate; the row-probability normalizer is a window
  over that tiny aggregate, not the fact table.
- retention cohorts: two user-keyed aggregates (first-week, distinct
  active weeks) joined on user_id — the join reuses the aggregates' own
  hash partitioning; output is |weeks|² rows.
- funnel: one conditional-min aggregate per stage, each a user-keyed
  shuffle with map-side combine, chained by joins on user_id that reuse
  the same partitioning; stages are a fixed small constant. The strict
  sequencing (first click AFTER first view, first purchase AFTER that
  click) is what one-pass min-per-type gets wrong.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import register
from .rounding import stable_round


def _events(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "events")


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type,
           CAST(n AS BIGINT) AS n_transitions,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type), 4) AS p
    FROM pairs
    """,
    doc="First-order Markov transition matrix between event types per "
    "user journey — the behavioral-model / anomaly-detection primitive. "
    "One user-keyed window with the (ts, event_id) total order (ties "
    "are engine-independent), then a |types|²-bounded count; the "
    "row-stochastic normalizer is a window over that tiny aggregate, "
    "never the fact table.",
    tags=("events", "markov", "analytics"),
)
def event_transition_matrix(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _events(spark, sf_dir).select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    pairs = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n_transitions"),
        F.round(F.col("n").cast("double") / F.sum("n").over(tot), 4).alias("p"),
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH fw AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY 1
    ), aw AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    )
    SELECT fw.cohort_week,
           CAST((aw.week - fw.cohort_week) / 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT aw.user_id) AS BIGINT) AS n_users
    FROM aw JOIN fw USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention matrix: users grouped by first-activity "
    "week (ISO Monday truncation — identical on both engines), counted "
    "in each later active week. Two user-keyed aggregates joined on "
    "user_id (the join reuses their hash partitioning); the output is "
    "|weeks|² rows regardless of corpus size.",
    tags=("events", "retention", "cohort", "analytics"),
)
def retention_cohorts(spark, sf_dir):
    ev = _events(spark, sf_dir)
    fw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    aw = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    return (
        aw.join(fw, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )


@register(
    "funnel_stage_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase,
           round((SELECT count(*) FROM c)
                 / CAST(nullif((SELECT count(*) FROM v), 0) AS DOUBLE), 4)
             AS view_to_click,
           round((SELECT count(*) FROM p)
                 / CAST(nullif((SELECT count(*) FROM c), 0) AS DOUBLE), 4)
             AS click_to_purchase
    """,
    doc="Strictly-sequential conversion funnel view → click → purchase: "
    "each stage counts users whose FIRST qualifying event follows their "
    "previous stage's timestamp (one-pass min-per-type gets this wrong — "
    "a click before the first view must not convert). One conditional "
    "user-keyed min-aggregate per stage; the stage joins reuse the "
    "user_id partitioning, and the stage count is a small constant.",
    tags=("events", "funnel", "analytics"),
)
def funnel_stage_conversion(spark, sf_dir):
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    # Each stage's per-user table feeds the next stage AND its own count;
    # checkpoint v and c once so each funnel stage scans events once
    # (r13 audit: 6 event scans → 3, one per stage — the algorithmic
    # floor: the sequential ts constraint needs each stage's raw events).
    v = materialize(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = materialize(
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click"))
    np_ = p.agg(F.count("*").alias("n_purchase"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            F.col("n_view").cast("bigint").alias("n_view"),
            F.col("n_click").cast("bigint").alias("n_click"),
            F.col("n_purchase").cast("bigint").alias("n_purchase"),
            # try_divide: an empty stage (no views / no converting clicks)
            # yields a NULL rate instead of an ANSI DIVIDE_BY_ZERO abort —
            # mirroring the oracle's nullif denominator
            F.round(
                F.try_divide(F.col("n_click"), F.col("n_view").cast("double")),
                4,
            ).alias("view_to_click"),
            F.round(
                F.try_divide(
                    F.col("n_purchase"), F.col("n_click").cast("double")
                ),
                4,
            ).alias("click_to_purchase"),
        )
    )




@register(
    "daily_anomaly_events",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type, median(n) AS med, mad(n) AS md
      FROM d GROUP BY 1
    )
    SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n_events,
           abs(d.n - s.med) > 3 * 1.4826 * s.md AS anomaly
    FROM d JOIN s USING (event_type)
    """,
    doc="Time-series anomaly flags: each (type, day) count is compared "
    "against that type's median/MAD over its own daily series — the "
    "volume-spike/outage detector behind ingest monitoring. The fact "
    "table collapses to a |types|x|days| daily aggregate FIRST (map-side "
    "combined); the robust stats and the flag join then run over that "
    "tiny series. No division anywhere, so integer-count comparisons "
    "are exactly reproducible across engines (MAD=0 degrades to "
    "'any deviation flags' on both).",
    tags=("events", "timeseries", "anomaly", "analytics"),
)
def daily_anomaly_events(spark, sf_dir):
    # The daily series feeds three consumers (median, MAD, flag join);
    # without pinning, Catalyst re-derives it per consumer = 4 scans of
    # the fact table. materialize() stores the types×days rows
    # once — tiny, and freed on GC (the round-2 cache lesson).
    d = materialize(
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.count("*").alias("n"))
    )
    s = d.groupBy("event_type").agg(F.median("n").alias("med"))
    dev = d.join(F.broadcast(s), "event_type").withColumn(
        "dv", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("dv").alias("md"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n_events"),
            (F.col("dv") > 3 * 1.4826 * F.col("md")).alias("anomaly"),
        )
    )


@register(
    "user_ltv_deciles",
    oracle="""
    WITH ltv AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), vc AS (
      SELECT v, CAST(count(*) AS BIGINT) AS c FROM ltv GROUP BY 1
    ), cum AS (
      SELECT v, CAST(sum(c) OVER (ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM vc
    ), b AS (
      -- type-1 discrete order statistics: boundary_i = smallest v with
      -- rank >= ceil(i*n/10). Pure integer — NO interpolated quantile:
      -- quantile_cont's a+(b-a)*f arithmetic differs across engines by
      -- one ulp, and the cents-quantized v values sit EXACTLY on such
      -- boundaries (the seed-7 sf10 finding: duck 122.19999999999999
      -- vs spark 122.2 flipped the users tied at 122.20).
      SELECT min(CASE WHEN cw * 10 >= 1 * n THEN v END) AS q1,
             min(CASE WHEN cw * 10 >= 2 * n THEN v END) AS q2,
             min(CASE WHEN cw * 10 >= 3 * n THEN v END) AS q3,
             min(CASE WHEN cw * 10 >= 4 * n THEN v END) AS q4,
             min(CASE WHEN cw * 10 >= 5 * n THEN v END) AS q5,
             min(CASE WHEN cw * 10 >= 6 * n THEN v END) AS q6,
             min(CASE WHEN cw * 10 >= 7 * n THEN v END) AS q7,
             min(CASE WHEN cw * 10 >= 8 * n THEN v END) AS q8,
             min(CASE WHEN cw * 10 >= 9 * n THEN v END) AS q9
      FROM cum
    ), assigned AS (
      SELECT ltv.v,
             (CASE WHEN ltv.v > b.q1 THEN 1 ELSE 0 END
              + CASE WHEN ltv.v > b.q2 THEN 1 ELSE 0 END
              + CASE WHEN ltv.v > b.q3 THEN 1 ELSE 0 END
              + CASE WHEN ltv.v > b.q4 THEN 1 ELSE 0 END
              + CASE WHEN ltv.v > b.q5 THEN 1 ELSE 0 END
              + CASE WHEN ltv.v > b.q6 THEN 1 ELSE 0 END
              + CASE WHEN ltv.v > b.q7 THEN 1 ELSE 0 END
              + CASE WHEN ltv.v > b.q8 THEN 1 ELSE 0 END
              + CASE WHEN ltv.v > b.q9 THEN 1 ELSE 0 END) AS decile
      FROM ltv CROSS JOIN b
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(v) AS BIGINT) AS min_ltv_cents,
           CAST(max(v) AS BIGINT) AS max_ltv_cents,
           CAST(sum(v) * 10000 // count(*) AS BIGINT) AS avg_ltv_micro
    FROM assigned GROUP BY 1
    """,
    doc="Customer-lifetime-value decile bands over per-user purchase "
    "totals, END-TO-END INTEGER. Round 11 (seed-7 sf10 finding): the "
    "interpolated quantile boundary differed across engines by one ulp "
    "(122.19999999999999 vs 122.2) exactly where cents-quantized LTVs "
    "sit, flipping tied users across deciles — so boundaries are now "
    "TYPE-1 DISCRETE order statistics (smallest v with rank ≥ "
    "ceil(i·n/10)), computed by integer prefix sums over the distinct-"
    "value census: no quantile interpolation, no doubles anywhere in "
    "the plan. Per-user LTV is an exact integer cents sum; per-decile "
    "averages exact micro-dollars. Scale shape: the census window runs "
    "over DISTINCT cent values (bounded by the value domain, not the "
    "user count); boundaries broadcast back as 9 scalars; no global "
    "ntile/percent_rank sort of the fact table.",
    tags=("events", "ltv", "quantile", "analytics"),
)
def user_ltv_deciles(spark, sf_dir):
    from pyspark.sql import Window

    ltv = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("v")
        )
    )
    from fractions import Fraction

    from ..operators.quantiles import discrete_quantile_bounds

    b = discrete_quantile_bounds(
        ltv, "v", [Fraction(i, 10) for i in range(1, 10)]
    )
    decile = sum(
        F.when(F.col("v") > F.col(f"q{i}"), 1).otherwise(0) for i in range(1, 10)
    )
    return (
        ltv.crossJoin(F.broadcast(b))
        .groupBy(decile.cast("bigint").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.min("v").cast("bigint").alias("min_ltv_cents"),
            F.max("v").cast("bigint").alias("max_ltv_cents"),
            F.expr("sum(v) * 10000 div count(*)")
            .cast("bigint")
            .alias("avg_ltv_micro"),
        )
    )


@register(
    "nearest_centroid_confusion",
    oracle="""
    WITH ex AS (
      SELECT label,
             unnest(range(len(embedding))) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS val
      FROM embeddings WHERE embedding IS NOT NULL
    ), cm AS (
      SELECT label, pos, avg(val) AS c FROM ex GROUP BY 1, 2
    ), cent AS (
      SELECT label AS c_label, list(c ORDER BY pos) AS centroid
      FROM cm GROUP BY 1
    ), scored AS (
      SELECT e.vec_id, e.label, cent.c_label,
             floor(list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]), cent.centroid)
                 * 1000000 + 0.5) / 1000000 AS cs
      FROM embeddings e CROSS JOIN cent
      WHERE e.embedding IS NOT NULL
    ), best AS (
      SELECT vec_id, label, c_label,
             row_number() OVER (PARTITION BY vec_id
                 ORDER BY cs DESC, c_label) AS rk
      FROM scored
    )
    SELECT label, c_label AS assigned_label,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM best WHERE rk = 1
    GROUP BY 1, 2
    """,
    doc="Nearest-centroid confusion matrix: every vector is assigned to "
    "its argmax-cosine class prototype; off-diagonal mass is label noise "
    "or genuine class overlap — the 1-NN-to-centroid classifier that "
    "gates auto-labeled training data. The centroid MATRIX (|labels|×dim, "
    "cells bounded so |labels| ∝ n/cell_size) is collected once and "
    "closed over the Arrow-batched kernel: each batch scores all labels "
    "in ONE float64 GEMM and takes the argmax in numpy — no "
    "|vecs|×|labels| crossJoin rows, no per-vector window (the previous "
    "form shuffled 4M materialized array-pairs at sf1 and cost 18 s; "
    "this one is 1.4 s — the flops floor is inherent, the constant "
    "wasn't). Cosines are floor-rounded to 6 dp before the argmax and "
    "centroids ordered by label, so the first-max tie-break mirrors the "
    "oracle's ORDER BY cs DESC, c_label. Caveat (ADVICE r7): the GEMM's "
    "blocked/FMA accumulation and DuckDB's sequential element sum can "
    "differ in the last ulp, so the 6-dp floor REDUCES but does not "
    "eliminate argmax flips at an exact .5e-6 boundary — green at every "
    "tested sf, kept on the scale-gate watch list. Assumes nonzero "
    "vector/centroid norms (zero-norm cosine is undefined in both "
    "engines); empty embeddings short-circuit to an empty result. At "
    "extreme label counts the matrix shards into label blocks (block "
    "GEMM + running max), still no shuffle.",
    tags=("embeddings", "classification", "quality", "pipeline"),
)
def nearest_centroid_confusion(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from ..operators.similarity import label_centroid_arrays
    from ..session import load_table

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    # Same centroid plan as intra_label_cosine (shared helper), collected:
    # |labels|×dim doubles, bounded-cell regime keeps it driver-safe.
    cent_rows = sorted(
        label_centroid_arrays(emb).collect(), key=lambda r: r["label"]
    )
    if not cent_rows:
        # Empty embeddings table: V @ C.T on a 0-row matrix would raise in
        # the kernel; the correct confusion matrix is simply empty.
        return spark.createDataFrame(
            [], "label int, assigned_label int, n_vecs bigint"
        )
    C = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    cl = np.array([r["label"] for r in cent_rows], dtype=np.int64)
    nc = np.sqrt((C * C).sum(axis=1))

    def assign(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(pdf["v"].to_list(), dtype=np.float64)
            nv = np.sqrt((V * V).sum(axis=1))
            cs = (V @ C.T) / (nv[:, None] * nc[None, :])
            # identical floor form to the oracle (and to stable_round):
            # round BEFORE argmax so cross-engine argmax is stable
            cs = np.floor(cs * 1e6 + 0.5) / 1e6
            idx = cs.argmax(axis=1)  # first max = smallest label (C sorted)
            yield pd.DataFrame(
                {
                    "label": pdf["label"],
                    "assigned_label": cl[idx].astype("int32"),
                }
            )

    return (
        emb.select("label", "v")
        .mapInPandas(assign, "label int, assigned_label int")
        .groupBy("label", "assigned_label")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
    )


@register(
    "event_trigrams_top",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type, 1) OVER w AS p1,
             lag(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tg AS (
      SELECT p2 || '>' || p1 || '>' || event_type AS trigram,
             count(*) AS cnt
      FROM seq WHERE p2 IS NOT NULL GROUP BY 1
    ), rk AS (
      SELECT trigram, cnt,
             row_number() OVER (ORDER BY cnt DESC, trigram) AS rk,
             sum(cnt) OVER () AS total
      FROM tg
    )
    SELECT trigram, CAST(cnt AS BIGINT) AS cnt, CAST(rk AS BIGINT) AS rk,
           floor(CAST(cnt AS DOUBLE) / total * 1000000 + 0.5) / 1000000
             AS share
    FROM rk WHERE rk <= 20
    """,
    doc="X104: top-20 behavioral trigrams — the most frequent "
    "length-3 consecutive event-type sequences across all user "
    "sessions (sequential-pattern mining at fixed depth; extends the "
    "X61 transition matrix from first-order to second-order "
    "structure). ONE user-keyed window (total order on (ts, event_id)) "
    "produces both lags; the aggregate is |types|^3-bounded, and the "
    "share denominator is a window over that tiny aggregate, never "
    "the fact table. Deterministic top-k: rank breaks count ties on "
    "the trigram string.",
    tags=("events", "sequence", "analytics"),
)
def event_trigrams_top(spark, sf_dir):
    from .rounding import stable_round

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _events(spark, sf_dir).select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    tg = (
        seq.filter(F.col("p2").isNotNull())
        .select(
            F.concat_ws(">", "p2", "p1", "event_type").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count("*").alias("cnt"))
    )
    rk = F.row_number().over(Window.orderBy(F.col("cnt").desc(), "trigram"))
    total = F.sum("cnt").over(Window.partitionBy())
    return (
        tg.select(
            "trigram",
            F.col("cnt").cast("bigint").alias("cnt"),
            rk.cast("bigint").alias("rk"),
            stable_round(F.col("cnt").cast("double") / total, 6).alias("share"),
        )
        .filter(F.col("rk") <= 20)
    )


@register(
    "event_rate_cusum",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type,
             CAST(sum(n) AS BIGINT) * 1000 // count(*) AS target_milli
      FROM d GROUP BY 1
    ),
    p AS (
      SELECT d.event_type, d.day,
             sum(d.n * 1000 - t.target_milli - t.target_milli // 10)
               OVER (PARTITION BY d.event_type ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS pref,
             t.target_milli
      FROM d JOIN t USING (event_type)
    ),
    c AS (
      SELECT event_type, day, target_milli,
             pref - least(CAST(0 AS BIGINT),
                          min(pref) OVER (PARTITION BY event_type
                                          ORDER BY day
                                          ROWS UNBOUNDED PRECEDING))
               AS cusum
      FROM p
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(cusum) AS BIGINT) AS max_cusum_milli,
           CAST(count(*) FILTER (WHERE cusum > 3 * target_milli) AS BIGINT)
             AS n_flagged,
           min(day) FILTER (WHERE cusum > 3 * target_milli) AS first_flag_day
    FROM c GROUP BY event_type ORDER BY event_type
    """,
    doc="Sequential drift detection (Page's CUSUM) over per-type daily "
    "event rates — the detector that catches a sustained small rate "
    "drift the per-day median/MAD anomaly flags (daily_anomaly_events) "
    "miss. The CUSUM recursion s_i = max(0, s_{i-1} + dev_i) is "
    "deliberately NOT a row-by-row loop: by the prefix identity "
    "s_i = P_i - min(0, min_{j<=i} P_j) it becomes TWO stacked window "
    "functions over the same (type, day) ordering — one prefix sum, one "
    "running min — so both engines evaluate pure window algebra and the "
    "fact table collapses to the |types|x|days| daily aggregate first "
    "(map-side combined; the windows run over the tiny series, one "
    "exchange reused by both). All milli-integer: dev = n*1000 - "
    "target_milli - slack (slack = 10% of target), flag when the "
    "cumulative excess tops 3 mean-days. At 100 TB the shape is "
    "unchanged — windows partition by type over day-count-bounded "
    "series.",
    tags=("events", "timeseries", "anomaly", "cusum", "analytics"),
)
def event_rate_cusum(spark, sf_dir):
    from pyspark.sql import Window as W

    d = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    t = d.groupBy("event_type").agg(
        F.expr("CAST(sum(n) AS BIGINT) * 1000 div count(*)").alias(
            "target_milli"
        )
    )
    wo = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    p = d.join(F.broadcast(t), "event_type").select(
        "event_type",
        "day",
        "target_milli",
        F.sum(
            F.col("n") * 1000
            - F.col("target_milli")
            - F.expr("target_milli div 10")
        )
        .over(wo)
        .alias("pref"),
    )
    c = p.select(
        "event_type",
        "day",
        "target_milli",
        (
            F.col("pref")
            - F.least(F.lit(0).cast("bigint"), F.min("pref").over(wo))
        ).alias("cusum"),
    )
    flagged = F.col("cusum") > 3 * F.col("target_milli")
    return (
        c.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.max("cusum").cast("bigint").alias("max_cusum_milli"),
            F.sum(F.when(flagged, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.min(F.when(flagged, F.col("day"))).alias("first_flag_day"),
        )
        .orderBy("event_type")
    )


@register(
    "event_order_inversions",
    oracle="""
    WITH pairs AS (
      SELECT a.user_id % 16 AS bucket,
             CASE WHEN a.ts > b.ts THEN 1 ELSE 0 END AS inv
      FROM events a JOIN events b
        ON b.user_id = a.user_id AND a.event_id < b.event_id
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(inv) AS BIGINT) AS n_inversions,
           CAST(sum(inv) * 1000000 // count(*) AS BIGINT) AS inv_micro
    FROM pairs GROUP BY 1 ORDER BY 1
    """,
    doc="Out-of-order arrival severity (the streaming data-quality "
    "metric that sizes watermark delay): per user, every pair where a "
    "later-INGESTED event (event_id order) carries an EARLIER event "
    "time is an inversion — Kendall-style discordance between arrival "
    "and event order. The Spark plan never materializes pairs: each "
    "user's sequence is merge-counted in O(k log k) inside an Arrow "
    "batch (vectorized searchsorted per merge level), so a hot user "
    "with 10^4+ events costs k log k, not k^2/2 rows of shuffle — the "
    "oracle keeps the definitional pair join (fine at oracle scale). "
    "Users are sharded 4096 ways (user_id % 4096, a refinement of the "
    "16-way report bucket since 16 | 4096) so the single shuffle "
    "spreads across the cluster and each task emits one pre-aggregated "
    "partial row per shard. Reported per 16-way user bucket in exact "
    "micro-units — a monitor thresholds inv_micro to pick the "
    "watermark delay.",
    tags=("events", "quality", "streaming-equivalent", "analytics"),
)
def event_order_inversions(spark, sf_dir):
    import numpy as np
    import pandas as pd

    # Shard count scales with the cluster, not a constant: every event
    # of a user lands in one shard for ANY modulus (result-invariant),
    # so pick ~8 groups per core — enough shards that a 1000-executor
    # cluster fans out (8 × total-cores groups) without paying the
    # per-group Arrow-slice overhead 4096 fixed shards cost on a laptop
    # (measured 2.5 s vs 0.6 s at sf0.1 on local[32]).
    n_shards = max(64, 8 * spark.sparkContext.defaultParallelism)
    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts",
        (F.col("user_id") % n_shards).alias("shard"),
    )

    def _merge_count(a: "np.ndarray") -> int:
        """Pairs (i < j) with a[i] > a[j], O(k log k): classic merge
        count, sorting ``a`` in place level by level. The cross term is
        vectorized — with the left half sorted ascending, the number of
        left elements strictly greater than each right element is
        len(left) - searchsorted(left, right, 'right'); ties are not
        inversions (strict >), which 'right' encodes exactly."""
        n = len(a)
        if n < 2:
            return 0
        mid = n // 2
        c = _merge_count(a[:mid]) + _merge_count(a[mid:])
        ls, rs = a[:mid], a[mid:]  # each sorted by its recursive call
        c += int(np.sum(len(ls) - np.searchsorted(ls, rs, side="right")))
        a.sort(kind="mergesort")  # merge the halves for the parent level
        return c

    def _shard_partials(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["event_id"].to_numpy()
        ts = pdf["ts"].to_numpy()
        if ts.dtype.kind == "M":  # datetime64 → comparable int64
            ts = ts.astype("datetime64[ns]").astype("int64")
        users = pdf["user_id"].to_numpy()
        out: dict[int, list[int]] = {}
        order = np.lexsort((ids, users))  # group by user, ingest order
        users, ts = users[order], ts[order]
        bounds = np.flatnonzero(np.r_[True, users[1:] != users[:-1], True])
        for s, e in zip(bounds[:-1], bounds[1:]):
            k = e - s
            if k < 2:
                continue
            bucket = int(users[s]) % 16
            inv = _merge_count(ts[s:e].astype("int64", copy=True))
            acc = out.setdefault(bucket, [0, 0])
            acc[0] += k * (k - 1) // 2
            acc[1] += inv
        return pd.DataFrame(
            [(b, p, i) for b, (p, i) in sorted(out.items())],
            columns=["bucket", "n_pairs", "n_inversions"],
        )

    partials = ev.groupBy("shard").applyInPandas(
        _shard_partials,
        schema="bucket bigint, n_pairs bigint, n_inversions bigint",
    )
    return (
        partials.groupBy("bucket")
        .agg(
            F.sum("n_pairs").cast("bigint").alias("n_pairs"),
            F.sum("n_inversions").cast("bigint").alias("n_inversions"),
            F.expr("sum(n_inversions) * 1000000 div sum(n_pairs)")
            .cast("bigint")
            .alias("inv_micro"),
        )
        .orderBy("bucket")
    )


@register(
    "event_periodicity_acf",
    # Weekly-periodicity probe: Pearson autocorrelation of the daily
    # event-count series at lags 1..7, per event type. The lag pairing
    # is a calendar self-join (day, day+L) — gap-safe, unlike a
    # row-offset lag — and the correlation's integer core
    # (m·Σxy − Σx·Σy and the two variance terms) is computed in exact
    # int64; only the final normalization touches doubles (identical
    # expression text both engines, round-4 like the repo's other
    # double outputs).
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), lags AS (
      SELECT CAST(l.range AS BIGINT) AS lag FROM range(1, 8) l
    ), paired AS (
      SELECT a.event_type, lags.lag, a.n AS x, b.n AS y
      FROM daily a
      CROSS JOIN lags
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + CAST(lags.lag AS INTEGER)
    ), stats AS (
      SELECT event_type, lag,
             CAST(count(*) AS BIGINT) AS m,
             CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS num,
             CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS vx,
             CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS BIGINT) AS vy
      FROM paired GROUP BY 1, 2
    )
    SELECT event_type, lag, m, num, vx, vy,
           round(CAST(num AS DOUBLE)
                 / nullif(sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 0),
                 4) AS acf
    FROM stats ORDER BY event_type, lag
    """,
    doc="X143: daily-count autocorrelation at lags 1..7 per event type — "
    "the periodicity screen that tells a capacity planner (and a "
    "training-data sampler drawing by time window) whether the stream "
    "has a weekly pulse: acf(7) ≫ acf(1..6) means day-of-week "
    "stratification is load-bearing. Calendar self-join pairing is "
    "gap-safe (a missing day pairs with nothing rather than silently "
    "shifting the series, the row-offset-lag bug). The integer core "
    "(m·Σxy − Σx·Σy, variance terms) is exact int64 — cross-engine "
    "equality of the interesting part is by construction; only the "
    "final normalization is a round-4 double with identical expression "
    "text. Scale shape: the corpus collapses to |types|×|days| daily "
    "rows in one map-side-combined aggregate; everything after is "
    "censu-sized (≤ types×7 output rows).",
    tags=("events", "analytics", "timeseries"),
)
def event_periodicity_acf(spark, sf_dir):
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    lags = spark.range(1, 8).select(F.col("id").cast("bigint").alias("lag"))
    a = daily.select(
        "event_type", F.col("day").alias("day_a"), F.col("n").alias("x")
    ).crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("n").alias("y"),
    )
    paired = a.join(
        b,
        (F.col("et_b") == F.col("event_type"))
        & (F.col("day_b") == F.expr("date_add(day_a, CAST(lag AS INT))")),
    )
    stats = paired.groupBy("event_type", "lag").agg(
        F.count("*").cast("bigint").alias("m"),
        (F.count("*") * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
        .cast("bigint")
        .alias("num"),
        (F.count("*") * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        .cast("bigint")
        .alias("vx"),
        (F.count("*") * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y"))
        .cast("bigint")
        .alias("vy"),
    )
    return stats.select(
        "event_type",
        "lag",
        "m",
        "num",
        "vx",
        "vy",
        F.round(
            F.col("num").cast("double")
            / F.nullif(
                F.sqrt(F.col("vx").cast("double") * F.col("vy").cast("double")),
                F.lit(0.0),
            ),
            4,
        ).alias("acf"),
    ).orderBy("event_type", "lag")
