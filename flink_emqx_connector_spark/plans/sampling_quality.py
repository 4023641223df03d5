"""Eighth wave of LLM-training-pipeline operators (SURVEY.md §2.5
X77-X82): deterministic sampling, tokenizer/corpus QA censuses, and
star-schema enrichment with a generated dimension. Absent from the
reference by design scope (connector — SURVEY §0). All deterministic,
all DuckDB oracle-checked.

Scale posture, per operator:
- reservoir sample: one source-partitioned window over md5-ranked rows —
  a single shuffle on the group key; k is constant so the retained set
  is |sources|·k, never data-scaled. The md5 rank IS the reservoir: the
  same rows win at any scale and on any engine.
- fertility census: one lang-keyed aggregate; quantiles from ONE
  array-form percentile buffer (the percentiles_lineitem route, with
  approx_percentile as the documented 100 TB swap).
- norm outliers: per-vector L2 norms via explode+agg (dimension-bounded
  rows), label stats broadcast back; thresholds computed on rounded
  values so the outlier CLASSIFICATION is engine-stable.
- dup inflation: digest-only shuffles (16-byte md5, never the text).
- type co-occurrence: per-user type sets collapse the fact table before
  the types²-bounded pair expansion; lift doubles come from exact
  integer counts → bit-identical across engines.
- weekday enrichment: the date dimension is GENERATED (sequence over the
  observed day range) and broadcast — the canonical star-schema pattern
  where the dim never touches disk.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import register
from .rounding import stable_round, stable_round_sql


def _docs(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "documents")


def _events(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "events")


def _emb(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "embeddings")


_RESERVOIR_K = 20


@register(
    "reservoir_sample_per_source",
    oracle=f"""
    SELECT source, doc_id, rk FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= {_RESERVOIR_K}
    """,
    doc="X77: deterministic k-per-source reservoir sample — the fixed "
    "QA panel re-drawn identically on every run and every engine "
    "(md5(doc_id) is the reservoir priority; no RNG state to sync). One "
    "source-partitioned window; retained set is |sources|·k.",
    tags=("sampling", "pipeline", "deterministic"),
)
def reservoir_sample_per_source(spark, sf_dir):
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        _docs(spark, sf_dir)
        .select("source", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _RESERVOIR_K)
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH d AS (
      SELECT lang, n_chars, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           {stable_round_sql(
               'CAST(sum(n_chars) AS DOUBLE) / sum(n_tokens)', 4
           )} AS chars_per_token,
           {stable_round_sql('quantile_cont(n_tokens, 0.5)', 4)} AS p50_tokens,
           {stable_round_sql('quantile_cont(n_tokens, 0.95)', 4)} AS p95_tokens
    FROM d GROUP BY lang
    """,
    doc="X78: tokenizer-fertility census per language — chars/token and "
    "tokens/doc quantiles, the capacity-planning numbers behind context "
    "budgets and per-lang sampling rates. One lang-keyed aggregate; both "
    "quantiles from ONE array-form percentile buffer; approx_percentile "
    "is the documented 100 TB swap.",
    tags=("text", "lang", "tokenizer", "stats"),
)
def tokenizer_fertility_by_lang(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "lang", "n_chars", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            stable_round(
                F.sum("n_chars").cast("double") / F.sum("n_tokens"), 4
            ).alias("chars_per_token"),
            F.expr("percentile(n_tokens, array(0.5D, 0.95D))").alias("q"),
        )
        .select(
            "lang", "n_docs", "chars_per_token",
            stable_round(F.col("q")[0], 4).alias("p50_tokens"),
            stable_round(F.col("q")[1], 4).alias("p95_tokens"),
        )
    )


_NORM_Z = 3.0


@register(
    "vector_norm_outliers",
    oracle=f"""
    WITH n AS (
      SELECT label, vec_id,
             CAST(floor(sqrt(sum(x * x)) * 1e8 + 0.5) AS BIGINT) AS nrm_i
      FROM (SELECT label, vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x
            FROM embeddings WHERE embedding IS NOT NULL)
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT label,
             CAST(count(*) AS DOUBLE) AS cnt,
             CAST(sum(CAST(nrm_i AS HUGEINT)) AS DOUBLE) AS s1,
             CAST(sum(CAST(nrm_i AS HUGEINT) * nrm_i) AS DOUBLE) AS s2
      FROM n GROUP BY label
    ),
    s AS (
      SELECT label,
             floor((s1 / cnt / 1e8) * 1e6 + 0.5) / 1e6 AS mean_norm,
             floor(sqrt(greatest(
                 s2 / cnt / 1e16 - (s1 / cnt / 1e8) * (s1 / cnt / 1e8), 0
             )) * 1e6 + 0.5) / 1e6 AS std_norm
      FROM agg
    )
    SELECT n.label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN abs(n.nrm_i / 1e8 - s.mean_norm)
                              > {_NORM_Z} * s.std_norm + 1e-6
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           any_value(s.mean_norm) AS mean_norm,
           any_value(s.std_norm) AS std_norm
    FROM n JOIN s USING (label)
    GROUP BY n.label
    """,
    doc="X79: embedding-norm outlier census per label (|norm − μ| > 3σ) — "
    "broken/degenerate vectors (truncated inputs, NaN-adjacent encodes) "
    "show up as norm outliers before they poison ANN recall. Norms via "
    "explode+agg; per-label stats broadcast back; norms and thresholds "
    "are floor-form ROUNDED before comparison (plus a granularity "
    "floor on the threshold) so the classification is engine-stable, "
    "not ulp-sensitive, and a zero-variance group flags nothing. "
    "Cross-vector mean/std accumulate the 1e8-scaled integer norms "
    "exactly (decimal/hugeint sums are associative), so partition "
    "accumulation ORDER cannot shift the stats by an ulp — the exact "
    "integer sums convert to the same double on both engines and the "
    "mean/variance formula is written identically on both sides.",
    tags=("embeddings", "quality", "stats"),
)
def vector_norm_outliers(spark, sf_dir):
    e = (
        _emb(spark, sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select(
            "label", "vec_id",
            F.explode(F.col("embedding").cast("array<double>")).alias("x"),
        )
    )
    n = e.groupBy("label", "vec_id").agg(
        F.floor(F.sqrt(F.sum(F.col("x") * F.col("x"))) * 1e8 + 0.5)
        .cast("bigint")
        .alias("nrm_i")
    )
    # Exact integer accumulation (decimal sums are associative) → the
    # label stats cannot depend on partition order; both engines convert
    # the same exact sums to double and run the same scalar formula.
    agg = n.groupBy("label").agg(
        F.count("*").cast("double").alias("cnt"),
        F.sum(F.col("nrm_i").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(F.col("nrm_i").cast("decimal(38,0)") * F.col("nrm_i"))
        .cast("double")
        .alias("s2"),
    )
    mean_raw = F.col("s1") / F.col("cnt") / F.lit(1e8)
    var_raw = F.greatest(
        F.col("s2") / F.col("cnt") / F.lit(1e16) - mean_raw * mean_raw,
        F.lit(0.0),
    )
    s = agg.select(
        "label",
        (F.floor(mean_raw * 1e6 + 0.5) / 1e6).alias("mean_norm"),
        (F.floor(F.sqrt(var_raw) * 1e6 + 0.5) / 1e6).alias("std_norm"),
    )
    # +1e-6: deviations below the stats' rounding granularity are noise,
    # not outliers — and the floor keeps a zero-variance group (unit-
    # normalized embeddings round to std 0) from flagging everything
    out = (
        F.abs(F.col("nrm_i") / F.lit(1e8) - F.col("mean_norm"))
        > _NORM_Z * F.col("std_norm") + 1e-6
    )
    return (
        n.join(F.broadcast(s), "label")
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum(F.when(out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.any_value("mean_norm").alias("mean_norm"),
            F.any_value("std_norm").alias("std_norm"),
        )
    )


@register(
    "dup_inflation_by_source",
    oracle=f"""
    WITH g AS (
      SELECT source, md5(text) AS fp, count(*) AS copies
      FROM documents GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(copies) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_distinct,
           {stable_round_sql(
               'CAST(sum(copies) AS DOUBLE) / count(*)', 4
           )} AS inflation,
           CAST(max(copies) AS BIGINT) AS max_copies
    FROM g GROUP BY source
    """,
    doc="X80: duplication inflation per source — raw/distinct doc ratio "
    "and the hottest duplicate's copy count, the triage table that says "
    "WHICH feed needs dedup before mixing. Digest-only shuffles (16-byte "
    "md5, never the text); two nested aggregates on the same key reuse "
    "the partitioning.",
    tags=("dedup", "sources", "stats", "pipeline"),
)
def dup_inflation_by_source(spark, sf_dir):
    g = (
        _docs(spark, sf_dir)
        .select("source", F.md5(F.encode("text", "UTF-8")).alias("fp"))
        .groupBy("source", "fp")
        .agg(F.count("*").alias("copies"))
    )
    return g.groupBy("source").agg(
        F.sum("copies").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_distinct"),
        stable_round(
            F.sum("copies").cast("double") / F.count("*"), 4
        ).alias("inflation"),
        F.max("copies").cast("bigint").alias("max_copies"),
    )


@register(
    "event_type_cooccurrence",
    oracle=f"""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    freq AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
    tot AS (SELECT count(DISTINCT user_id) AS nu FROM ut),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           {stable_round_sql(
               '(CAST(p.n_both AS DOUBLE) * t.nu) / (fa.n * fb.n)', 4
           )} AS lift
    FROM pairs p
    JOIN freq fa ON fa.event_type = p.type_a
    JOIN freq fb ON fb.event_type = p.type_b
    CROSS JOIN tot t
    """,
    doc="X81: event-type co-occurrence lift over users (market-basket "
    "shape) — which behaviors travel together, the feature-crossing "
    "signal for behavioral sampling. The fact table collapses to "
    "DISTINCT (user, type) first (≤ users×types rows), the pair "
    "self-join is types-bounded per user, and the lift doubles come from "
    "exact integer counts — bit-identical across engines.",
    tags=("events", "stats", "pipeline"),
)
def event_type_cooccurrence(spark, sf_dir):
    # The distinct (user, type) table feeds four consumers (freq, tot,
    # both self-join legs); checkpoint it once so the events scan +
    # distinct shuffle run once, not four times (r13 audit: 5 event
    # scans → 1).
    ut = materialize(
        _events(spark, sf_dir)
        .select("user_id", "event_type")
        .distinct()
    )
    freq = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    tot = ut.agg(F.count_distinct("user_id").alias("nu"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    fa = freq.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    fb = freq.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(fa), "type_a")
        .join(F.broadcast(fb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a", "type_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            stable_round(
                (F.col("n_both").cast("double") * F.col("nu"))
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("lift"),
        )
    )


@register(
    "events_weekday_enrichment",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events
    ),
    dim AS (
      SELECT d AS day,
             CASE isodow(d) WHEN 1 THEN 'Mon' WHEN 2 THEN 'Tue'
                  WHEN 3 THEN 'Wed' WHEN 4 THEN 'Thu' WHEN 5 THEN 'Fri'
                  WHEN 6 THEN 'Sat' ELSE 'Sun' END AS day_name,
             isodow(d) IN (6, 7) AS is_weekend
      FROM bounds, LATERAL unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS t(d)
    )
    SELECT dim.day_name, dim.is_weekend, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {stable_round_sql('avg(e.value)', 4)} AS avg_value
    FROM events e JOIN dim ON CAST(e.ts AS DATE) = dim.day
    GROUP BY 1, 2, 3
    """,
    doc="X82: weekday/weekend enrichment through a GENERATED date "
    "dimension (sequence over the observed day range, broadcast) — the "
    "star-schema pattern where the dim never touches disk; at 100 TB the "
    "same broadcast join serves holiday calendars and fiscal mappings. "
    "Day names via an explicit CASE on the ISO weekday so both engines "
    "share one literal mapping.",
    tags=("events", "star-schema", "enrichment"),
)
def events_weekday_enrichment(spark, sf_dir):
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    dim = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    ).select(
        "day",
        # weekday(): Monday=0 .. Sunday=6 → ISO 1..7
        (F.weekday("day") + 1).alias("isodow"),
    ).select(
        "day",
        F.element_at(
            F.array(*[F.lit(x) for x in
                      ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")]),
            F.col("isodow"),
        ).alias("day_name"),
        F.col("isodow").isin(6, 7).alias("is_weekend"),
    )
    return (
        ev.withColumn("day", F.col("ts").cast("date"))
        .join(F.broadcast(dim), "day")
        .groupBy("day_name", "is_weekend", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            stable_round(F.avg("value"), 4).alias("avg_value"),
        )
    )
