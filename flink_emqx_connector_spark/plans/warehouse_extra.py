"""Round-8 wave of warehouse/curation operators (SURVEY.md §2.5 X92-X95):
SCD Type-2 state history, per-source boilerplate detection, shared-span
(substring) near-dup detection, and a hierarchical-rollup re-aggregation
proof. Absent from the reference by design scope (it is a connector —
SURVEY §0); these are the batch-warehouse legs a team replacing the
reference's Flink jobs with this engine would run next to the stream.

Scale posture, per operator:
- SCD2 history: ONE user_id shuffle serves the change-flag window, the
  run-numbering window, the per-run groupBy, and the valid_to lead — the
  groupBy key (user_id, state_no, ...) is a superset of the window
  partitioning, so Catalyst reuses the exchange. Nothing is corpus-wide.
- boilerplate bigrams: distinct-per-doc bigram explode, one
  (source, bigram) shuffle with map-side partial aggregation; the
  per-source denominator is a 16-row broadcast. Output is
  top-5-per-source — source-bounded, never vocab-bounded.
- shared spans: the Lee et al. 2022 ("Deduplicating Training Data Makes
  Language Models Better") substring-dedup signal, bucketed exactly like
  the shingle family: rolling 16-token windows hashed to 16-byte digests
  (the shuffle carries digests, not 100-byte strings), document frequency
  computed first, and ONLY spans with 2 <= df <= _SPAN_DF_CAP enter the
  pair join — Σdf² is capped at df_cap × |hot spans|, the same bound as
  dedup_ngram_jaccard_dfcap (operators/dedup.py:121). A span shared by
  more than df_cap documents is boilerplate, not a near-dup signal, and
  is excluded by construction (documented recall tradeoff).
- rollup re-aggregation: proves sum/count/min/max COMPOSE across grains
  (hour -> day) on exact scaled-integer sums, so at 100 TB the hourly
  materialization (~5 orders of magnitude smaller than raw) can serve
  every coarser-grain query without rescanning the fact table — the
  hypertable continuous-aggregate contract. The oracle aggregates the
  RAW table straight to day grain; hash-equality IS the compose proof.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..materialize import materialize
from .registry import register
from .rounding import stable_round, stable_round_sql

_SPAN_K = 16  # tokens per rolling window (Lee et al. use 50 BPE tokens)
_SPAN_DF_CAP = 128  # spans in more docs than this are boilerplate, skip
_TOP_BOILER = 5  # boilerplate bigrams reported per source


def _docs(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "documents")


def _events(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "events")


@register(
    "scd2_user_state_history",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  ) IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events
    ), s AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS state_no
      FROM o
    ), g AS (
      SELECT user_id, state_no, event_type,
             min(ts) AS valid_from, count(*) AS n_events
      FROM s GROUP BY 1, 2, 3
    )
    SELECT user_id, CAST(state_no AS BIGINT) AS state_no, event_type,
           valid_from,
           lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY state_no) AS valid_to,
           CAST(CASE WHEN lead(valid_from) OVER (
                  PARTITION BY user_id ORDER BY state_no) IS NULL
                THEN 1 ELSE 0 END AS BIGINT) AS is_current,
           CAST(n_events AS BIGINT) AS n_events
    FROM g
    """,
    doc="X92: SCD Type-2 dimension build from an event log — collapse "
    "each user's event stream into state-run intervals (valid_from / "
    "valid_to half-open, is_current flag, events-per-run census). The "
    "interval-history counterpart of latest_state_per_user (X73, the "
    "SCD-1 snapshot) and of merge_upsert_orders (X83, the CDC apply): "
    "together they cover the three classic warehouse change-capture "
    "shapes. Deterministic: ties on ts break by event_id (ingest "
    "order). One user_id shuffle serves all four stages.",
    tags=("events", "state", "warehouse", "scd"),
)
def scd2_user_state_history(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = (
        _events(spark, sf_dir)
        .withColumn("chg", chg)
        .withColumn(
            "state_no",
            F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "state_no", "event_type")
        .agg(
            F.min("ts").alias("valid_from"),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("state_no")
    valid_to = F.lead("valid_from").over(w2)
    return runs.select(
        "user_id",
        F.col("state_no").cast("bigint").alias("state_no"),
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("bigint").alias("is_current"),
        "n_events",
    )


@register(
    "boilerplate_bigrams_by_source",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS w
      FROM documents WHERE text IS NOT NULL
    ), nd AS (
      SELECT source, count(*) AS n_docs FROM d GROUP BY 1
    ), bg AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               range(1, len(w)), i -> w[i] || ' ' || w[i + 1]))) AS bigram
      FROM d
    ), df AS (
      SELECT source, bigram, count(*) AS df FROM bg GROUP BY 1, 2
    ), rk AS (
      SELECT source, bigram, df,
             row_number() OVER (PARTITION BY source
                                ORDER BY df DESC, bigram) AS rk
      FROM df
    )
    SELECT r.source, r.bigram, CAST(r.df AS BIGINT) AS df,
           CAST(n.n_docs AS BIGINT) AS n_docs,
           {stable_round_sql('CAST(r.df AS DOUBLE) / n.n_docs', 4)} AS ratio,
           CAST(r.rk AS BIGINT) AS rk
    FROM rk r JOIN nd n USING (source)
    WHERE r.rk <= {_TOP_BOILER}
    """,
    doc="X93: per-source boilerplate detection (the CCNet/C4 'most "
    "common lines per domain' pass, at bigram grain because the corpus "
    "is single-line): the top-5 bigrams by document frequency within "
    "each source, with the doc-frequency ratio a cleaning pipeline "
    "thresholds to strip navigation chrome / license headers before "
    "dedup. Distinct-per-doc explode (presence, not count) -> one "
    "(source, bigram) shuffle with map-side combine; the per-source "
    "denominator is a source-cardinality broadcast join. Output is "
    "5 x |sources| rows — source-bounded.",
    tags=("text", "cleaning", "boilerplate", "pipeline"),
)
def boilerplate_bigrams_by_source(spark, sf_dir):
    from ..operators.dedup import word_ngrams

    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    n_docs = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    df = (
        d.select("doc_id", "source", F.explode(word_ngrams(F.col("text"), 2)).alias("bigram"))
        .groupBy("source", "bigram")
        .agg(F.count("*").alias("df"))
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("df").desc(), "bigram")
    )
    return (
        df.withColumn("rk", rk)
        .filter(F.col("rk") <= _TOP_BOILER)
        .join(F.broadcast(n_docs), "source")
        .select(
            "source",
            "bigram",
            F.col("df").cast("bigint").alias("df"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            stable_round(F.col("df").cast("double") / F.col("n_docs"), 4).alias(
                "ratio"
            ),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


@register(
    "dedup_common_substring",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE text IS NOT NULL
    ), sp AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - {_SPAN_K - 1}, 0) + 1),
               i -> array_to_string(w[i:i + {_SPAN_K - 1}], ' ')))) AS span
      FROM d
    ), df AS (
      SELECT span, count(*) AS df FROM sp GROUP BY 1
    ), ex AS (
      SELECT s.doc_id, s.span FROM sp s JOIN df USING (span)
      WHERE df.df BETWEEN 2 AND {_SPAN_DF_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_spans
    FROM ex a JOIN ex b ON a.span = b.span AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    doc="X94: shared-span (substring) near-dup detection — document "
    "pairs sharing at least one exact 16-token contiguous span, with "
    "the shared-span census per pair. This is the exact-substring "
    "dedup signal of Lee et al. 2022 (suffix-array dedup), re-expressed "
    "as a rolling-window inverted index: it catches partial-overlap "
    "duplicates (quote inclusion, concatenated crawls) that whole-doc "
    "shingle Jaccard (X2) dilutes below threshold and prefix blocking "
    "(X56) misses when the shared region is not a prefix. Shuffle "
    "carries 16-byte md5 digests, never span strings; df computed "
    "before the self-join and only 2 <= df <= {cap} spans join "
    "(Sigma-df^2 capped, boilerplate spans excluded by construction — "
    "same bound as dedup_ngram_jaccard_dfcap). The filtered index is "
    "localCheckpoint'ed: self-joins get no ReuseExchange, so without it "
    "the span generation would run twice.".format(cap=_SPAN_DF_CAP),
    tags=("dedup", "text", "substring", "pipeline"),
)
def dedup_common_substring(spark, sf_dir, docs=None):
    # ``docs``: optional shared (doc_id, text) frame from a composition
    # (dedup_method_agreement) — results and the standalone plan unchanged.
    d = (
        (docs if docs is not None else _docs(spark, sf_dir))
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("w"))
    )
    spans = F.when(
        F.size("w") >= _SPAN_K,
        F.expr(
            f"transform(sequence(1, size(w) - {_SPAN_K - 1}), "
            f"i -> concat_ws(' ', slice(w, i, {_SPAN_K})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = d.select(
        "doc_id", F.explode(F.array_distinct(spans)).alias("span")
    ).select("doc_id", F.md5("span").alias("sd"))
    df = ex.groupBy("sd").agg(F.count("*").alias("df"))
    ex_f = materialize(
        ex.join(
            df.filter((F.col("df") >= 2) & (F.col("df") <= _SPAN_DF_CAP)), "sd"
        )
        .select("doc_id", "sd")
    )
    a, b = ex_f.alias("a"), ex_f.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sd") == F.col("b.sd"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_spans"))
    )


@register(
    "events_rollup_reaggregate",
    oracle=f"""
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           {stable_round_sql(
               "sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) / 1000.0", 3
           )} AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value,
           {stable_round_sql(
               "sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) / 1000.0 "
               "/ count(*)", 4
           )} AS avg_value
    FROM events GROUP BY 1, 2
    """,
    doc="X95: hierarchical rollup re-aggregation (the hypertable "
    "continuous-aggregate contract): a daily summary computed by "
    "RE-AGGREGATING an hourly materialization — sum of counts, sum of "
    "exact scaled-integer sums, min of mins, max of maxes — while the "
    "oracle aggregates the raw table straight to day grain. "
    "Hash-equality proves the merge functions compose, which is what "
    "licenses serving every coarser grain from the hourly rollup at "
    "100 TB (~5 orders smaller than raw) instead of rescanning the "
    "fact table. Sums are exact int64 milli-units (associative, "
    "order-free) — the r7 lesson that FP re-aggregation order is not.",
    tags=("events", "rollup", "timeseries", "warehouse"),
)
def events_rollup_reaggregate(spark, sf_dir):
    milli = F.floor(F.col("value") * 1000 + 0.5).cast("bigint")
    hourly = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(milli).alias("sum_milli"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )
    return (
        hourly.groupBy(
            "event_type", F.date_trunc("day", "hour").cast("date").alias("day")
        )
        .agg(
            F.sum("cnt").cast("bigint").alias("n_events"),
            F.sum("sum_milli").alias("day_milli"),
            F.min("min_v").alias("min_value"),
            F.max("max_v").alias("max_value"),
        )
        .select(
            "event_type",
            "day",
            "n_events",
            stable_round(F.col("day_milli") / 1000.0, 3).alias("sum_value"),
            "min_value",
            "max_value",
            stable_round(
                F.col("day_milli") / 1000.0 / F.col("n_events"), 4
            ).alias("avg_value"),
        )
    )


@register(
    "snapshot_diff_cdc",
    oracle="""
    WITH old_snap AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders WHERE o_orderkey % 10 <> 3
    ),
    new_snap AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 10 = 5 THEN 1000 ELSE 0 END AS v
      FROM orders WHERE o_orderkey % 10 <> 7
    ),
    d AS (
      SELECT COALESCE(o.k, n.k) AS k,
             CASE WHEN o.k IS NULL THEN 'insert'
                  WHEN n.k IS NULL THEN 'delete'
                  WHEN o.v <> n.v THEN 'update'
                  ELSE 'unchanged' END AS op
      FROM old_snap o FULL OUTER JOIN new_snap n ON n.k = o.k
    )
    SELECT op, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(k) AS BIGINT) AS key_checksum
    FROM d GROUP BY op ORDER BY op
    """,
    doc="X126: snapshot diff / change-data-capture classification — the "
    "table-maintenance third leg next to SCD2 history "
    "(scd2_user_state_history) and MERGE apply (merge_upsert_orders): "
    "given two snapshots of a keyed table, classify every key as "
    "insert / delete / update / unchanged and emit the per-class census "
    "+ key checksum a reconciliation job signs off on. Snapshots are "
    "derived deterministically from orders (keys %10==3 arrive later, "
    "%10==7 are deleted, %10==5 change value — values compared as exact "
    "cents). Plan shape: ONE full-outer sort-merge join on the key and "
    "a row-local CASE — at 100 TB this is the canonical two-sided "
    "reconciliation scan, shuffling each snapshot once by key with no "
    "skew hazard beyond the key distribution itself; the census "
    "aggregate is map-side combined.",
    tags=("warehouse", "cdc", "diff", "join"),
)
def snapshot_diff_cdc(spark, sf_dir):
    from ..session import load_table

    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    old = orders.filter(F.col("o_orderkey") % 10 != 3).select(
        F.col("o_orderkey").alias("k"), cents.alias("v")
    )
    new = orders.filter(F.col("o_orderkey") % 10 != 7).select(
        F.col("o_orderkey").alias("k2"),
        (
            cents
            + F.when(F.col("o_orderkey") % 10 == 5, 1000).otherwise(0)
        ).alias("v2"),
    )
    d = old.join(new, F.col("k2") == F.col("k"), "full_outer").select(
        F.coalesce(F.col("k"), F.col("k2")).alias("key"),
        F.when(F.col("k").isNull(), "insert")
        .when(F.col("k2").isNull(), "delete")
        .when(F.col("v") != F.col("v2"), "update")
        .otherwise("unchanged")
        .alias("op"),
    )
    return (
        d.groupBy("op")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("key").cast("bigint").alias("key_checksum"),
        )
        .orderBy("op")
    )


@register(
    "fd_violation_audit",
    # Deequ-style functional-dependency audit over the denormalized
    # order view: for each declared FD det→dep, count determinant keys,
    # keys with >1 distinct dependent value (violations), and the worst
    # key's distinct count. Mixed held + violated FDs so the output is
    # non-trivial at every sf.
    oracle="""
    WITH ov AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority, o.o_orderstatus,
             c.c_nationkey, c.c_mktsegment
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    fd1 AS (SELECT o_orderkey AS det, count(DISTINCT o_custkey) AS d
            FROM ov GROUP BY 1),
    fd2 AS (SELECT o_custkey AS det, count(DISTINCT c_mktsegment) AS d
            FROM ov GROUP BY 1),
    fd3 AS (SELECT o_custkey AS det, count(DISTINCT o_orderpriority) AS d
            FROM ov GROUP BY 1),
    fd4 AS (SELECT c_nationkey AS det, count(DISTINCT c_mktsegment) AS d
            FROM ov GROUP BY 1)
    SELECT fd, CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_violating AS BIGINT) AS n_violating,
           CAST(max_distinct AS BIGINT) AS max_distinct,
           CAST(n_violating * 1000 // n_keys AS BIGINT) AS viol_milli
    FROM (
      SELECT 'o_orderkey->o_custkey' AS fd, count(*) AS n_keys,
             sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS n_violating,
             max(d) AS max_distinct FROM fd1
      UNION ALL
      SELECT 'o_custkey->c_mktsegment', count(*),
             sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), max(d) FROM fd2
      UNION ALL
      SELECT 'o_custkey->o_orderpriority', count(*),
             sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), max(d) FROM fd3
      UNION ALL
      SELECT 'c_nationkey->c_mktsegment', count(*),
             sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), max(d) FROM fd4
    ) ORDER BY fd
    """,
    doc="X136: functional-dependency violation audit (the Deequ/"
    "constraint-suite shape): declared FDs over the denormalized order "
    "view are checked by counting determinant keys whose dependent "
    "column takes >1 distinct value. The mix is deliberate — two FDs "
    "hold by construction (orderkey→custkey uniqueness, custkey→segment "
    "via the join) and two are expected VIOLATIONS (custkey→priority, "
    "nationkey→segment), so the audit proves it can tell the "
    "difference rather than rubber-stamping. Exact milli violation "
    "rates + worst-key distinct counts. Scale shape: each FD is one "
    "2-column groupBy with partial aggregation (count_distinct over a "
    "small value domain); the four audits scan the join once each — at "
    "100 TB you'd CACHE the denormalized view or fuse the audits with "
    "grouping sets; the per-FD aggregate output is 1 row each.",
    tags=("warehouse", "quality", "audit"),
)
def fd_violation_audit(spark, sf_dir):
    from ..session import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    # ONE pass over the fact⋈dim join: each joined row fans out into four
    # (fd, det, dep) census rows via an exploded struct array, so all four
    # FD checks share a single join execution with NO materialization.
    # The r13 shape localCheckpoint'ed the raw join instead — at 100 TB
    # that pins a fact-sized frame on unreplicated executor-local storage
    # (lineage truncated: one executor loss fails the query) — the exact
    # §5 hazard VERDICT/ADVICE r13 flagged. The explode shuffles 4×
    # narrow (tinyint, bigint, dep) rows; partial (map-side) distinct
    # aggregation collapses them before the exchange, and the dep values
    # are cast to string only to share one column (injective — distinct
    # counts unchanged).
    fds = [
        ("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
        ("o_custkey->c_mktsegment", "o_custkey", "c_mktsegment"),
        ("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"),
        ("c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"),
    ]
    ov = o.join(c, o.o_custkey == c.c_custkey)
    tall = ov.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("tinyint").alias("f"),
                        F.col(det).cast("bigint").alias("det"),
                        F.col(dep).cast("string").alias("dep"),
                    )
                    for i, (_, det, dep) in enumerate(fds)
                ]
            )
        ).alias("x")
    ).select("x.*")
    per_key = tall.groupBy("f", "det").agg(F.count_distinct("dep").alias("d"))
    stats = per_key.groupBy("f").agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating"),
        F.max("d").cast("bigint").alias("max_distinct"),
        F.expr(
            "CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) * 1000"
            " div count(*) AS BIGINT)"
        ).alias("viol_milli"),
    )
    name = F.element_at(F.array(*[F.lit(n) for n, _, _ in fds]), F.col("f") + 1)
    return stats.select(
        name.alias("fd"), "n_keys", "n_violating", "max_distinct", "viol_milli"
    ).orderBy("fd")


@register(
    "pit_join_purchase_state",
    # Point-in-time join: each purchase is attributed to the SCD2 state
    # run the user was in ONE HOUR BEFORE the purchase (the lag breaks
    # the circularity of joining events to their own history and
    # exercises the before-first-state NULL leg). Intervals are
    # half-open [valid_from, valid_to) and partition each user's
    # timeline, so the join multiplies nothing: exactly one state row
    # per purchase that has history, zero for purchases within the
    # first hour.
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  ) IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events
    ), s AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS state_no
      FROM o
    ), g AS (
      SELECT user_id, state_no, event_type, min(ts) AS valid_from
      FROM s GROUP BY 1, 2, 3
    ), dim AS (
      SELECT user_id, state_no, event_type AS state_type, valid_from,
             lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY state_no) AS valid_to
      FROM g
    ), p AS (
      SELECT user_id, ts - INTERVAL 1 HOUR AS pit
      FROM events WHERE event_type = 'purchase'
    )
    SELECT coalesce(d.state_type, 'no_history') AS state_type,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
    FROM p LEFT JOIN dim d
      ON d.user_id = p.user_id
     AND d.valid_from <= p.pit
     AND (d.valid_to > p.pit OR d.valid_to IS NULL)
    GROUP BY 1 ORDER BY 1
    """,
    doc="X140: point-in-time (temporal) join — the query SCD2 exists to "
    "serve: attribute each purchase to the state run the user occupied "
    "one hour earlier (half-open [from, to) semantics; purchases "
    "inside the first hour of history land in 'no_history' via the "
    "left join). Intervals partition each user's timeline, so the "
    "range join returns EXACTLY one row per purchase — no fan-out, no "
    "post-dedup, unlike a naive BETWEEN join against overlapping "
    "snapshots. Scale shape: one user_id shuffle builds the dimension "
    "(four window/agg stages reuse it) and the same key co-locates the "
    "probe side; the interval predicate evaluates inside the joined "
    "partition. Census output (states × 1 row).",
    tags=("events", "warehouse", "scd", "join", "temporal"),
)
def pit_join_purchase_state(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    g = (
        ev.withColumn("chg", chg)
        .withColumn(
            "state_no",
            F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "state_no", "event_type")
        .agg(F.min("ts").alias("valid_from"))
    )
    w2 = Window.partitionBy("user_id").orderBy("state_no")
    dim = g.select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state_type"),
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("pit"),
    )
    joined = p.join(
        dim,
        (F.col("d_user") == F.col("user_id"))
        & (F.col("valid_from") <= F.col("pit"))
        & ((F.col("valid_to") > F.col("pit")) | F.col("valid_to").isNull()),
        "left",
    )
    return (
        joined.groupBy(
            F.coalesce(F.col("state_type"), F.lit("no_history")).alias(
                "state_type"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("state_type")
    )
