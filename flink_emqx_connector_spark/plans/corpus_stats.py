"""Sixth wave of LLM-training-pipeline operators (SURVEY.md §2.5 X52-X57):
corpus-level statistics a data-curation team runs continuously — per-doc
token entropy, per-source distribution drift (KL), n-gram novelty decay,
time-decayed engagement scores, truncation-duplicate detection, and robust
(median/MAD) outlier census. Absent from the reference by design scope
(it is a connector — SURVEY §0). All deterministic, all DuckDB
oracle-checked, all built-in expressions (zero Python in any hot path).

Scale posture, per operator:
- token entropy: one (doc,term) shuffle + one doc shuffle, both with
  map-side partial aggregation; entropy folded algebraically into the
  aggregate (ln n - Σc·ln c / n) so no window and no second scan.
- source KL: one (source,term) shuffle; corpus term totals are a re-agg
  of that SAME aggregate (vocab-bounded, not corpus-bounded) joined back
  on term; per-source totals and the corpus scalar are broadcast.
- n-gram novelty: distinct bigrams per doc (zip_with over shifted
  slices), min-doc per bigram is one vocab-bounded shuffle; the join
  back reuses the min-agg's hash partitioning on the bigram key.
- time decay: single user_id shuffle with map-side combine; the global
  anchor timestamp is a broadcast 1-row cross join.
- truncation dupes: self-join BLOCKED on a fixed-width prefix key —
  shuffle join on the 24-char key, never all-pairs; web-scale boilerplate
  prefixes make this key skewed → AQE skew-join splits it (salting the
  key with len(text) div K is the manual fallback).
- MAD outliers: two exact-median passes over a LOW-cardinality group key
  (event types), each joined back via broadcast — the fact table is
  scanned twice but never shuffled on a wide key. At 100 TB swap the
  exact median for approx_percentile (same shape, documented in
  QUERIES.md via `approx_aggregates`).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import register


def _docs(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "documents")


def _events(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "events")


_DECAY_TAU_S = 3600.0  # one-hour e-folding for engagement decay
_MAD_K = 3 * 1.4826  # 3-sigma equivalent under normality
_PREFIX_W = 24  # truncation-dupe blocking-key width (chars)


def _bigrams_distinct(text_col):
    """Distinct word bigrams as an array — the single shared shingling
    expression (operators/dedup.py:word_ngrams), not a copy: tokenization
    fixes must land in exactly one place."""
    from ..operators.dedup import word_ngrams

    return word_ngrams(text_col, 2)


@register(
    "token_entropy_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE text IS NOT NULL
    ), tc AS (
      SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(ln(CAST(sum(c) AS DOUBLE))
                 - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 4) AS entropy
    FROM tc GROUP BY 1
    """,
    doc="Per-document Shannon entropy (nats) of the token distribution — "
    "the classic gibberish/boilerplate detector (low entropy = repeated "
    "tokens, high = diverse text). Algebraic form ln(n) - Σc·ln(c)/n "
    "needs only sums, so the whole query is two map-side-combinable "
    "aggregates with no window and no second scan of the corpus.",
    tags=("text", "entropy", "quality", "pipeline"),
)
def token_entropy_docs(spark, sf_dir):
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    tc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c")
    ent = F.log(n.cast("double")) - F.sum(
        F.col("c") * F.log(F.col("c").cast("double"))
    ) / n
    return tc.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        F.round(ent, 4).alias("entropy"),
    )


@register(
    "source_token_kl",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE text IS NOT NULL
    ), st AS (
      SELECT source, term, count(*) AS c FROM toks GROUP BY 1, 2
    ), t AS (
      SELECT term, CAST(sum(c) AS DOUBLE) AS ct FROM st GROUP BY 1
    ), s AS (
      SELECT source, CAST(sum(c) AS DOUBLE) AS cs FROM st GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(c) AS DOUBLE) AS ctot FROM st
    )
    SELECT st.source,
           CAST(any_value(s.cs) AS BIGINT) AS n_tokens,
           round(sum((st.c / s.cs)
                     * ln((st.c / s.cs) / (t.ct / tot.ctot))), 6) AS kl_nats
    FROM st JOIN t USING (term) JOIN s USING (source) CROSS JOIN tot
    GROUP BY 1
    """,
    doc="Per-source KL divergence (nats) of the token distribution vs the "
    "whole corpus — the drift/mixing diagnostic behind source-weighting "
    "decisions (a source with high KL is lexically unlike the blend). "
    "One (source,term) shuffle; corpus term totals re-aggregate that "
    "SAME vocab-bounded frame and join back on term; per-source totals "
    "and the corpus scalar are broadcast (sources are few).",
    tags=("text", "kl", "mixing", "pipeline"),
)
def source_token_kl(spark, sf_dir):
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    # The (source,term) census feeds four consumers (t, s, tot, scoring
    # join); checkpoint it once so the corpus tokenize + census shuffle
    # runs once, not four times (r13 audit: 4 document scans → 1).
    st = materialize(
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    t = st.groupBy("term").agg(F.sum("c").cast("double").alias("ct"))
    s = st.groupBy("source").agg(F.sum("c").cast("double").alias("cs"))
    tot = st.agg(F.sum("c").cast("double").alias("ctot"))
    p = F.col("c") / F.col("cs")
    q = F.col("ct") / F.col("ctot")
    return (
        st.join(t, "term")
        .join(F.broadcast(s), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.any_value("cs").cast("bigint").alias("n_tokens"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_nats"),
        )
    )


@register(
    "ngram_novelty_docs",
    oracle="""
    WITH sh AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS bg
      FROM documents WHERE text IS NOT NULL
    ), ex AS (
      SELECT doc, unnest(bg) AS s FROM sh
    ), first AS (
      SELECT s, min(doc) AS first_doc FROM ex GROUP BY 1
    )
    SELECT ex.doc AS doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(CASE WHEN first.first_doc = ex.doc
                          THEN 1.0 ELSE 0.0 END), 4) AS novel_frac
    FROM ex JOIN first USING (s)
    GROUP BY 1
    """,
    doc="Per-document n-gram novelty: the fraction of a doc's distinct "
    "bigrams FIRST introduced by that doc (min doc_id over the corpus) — "
    "the diminishing-returns curve behind 'is more of this source still "
    "adding new text?'. Distinct bigrams per doc via zip_with shingling; "
    "first-occurrence is one vocab-bounded min-aggregate whose hash "
    "partitioning the join back reuses (no extra exchange).",
    tags=("text", "ngram", "novelty", "pipeline"),
)
def ngram_novelty_docs(spark, sf_dir):
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    ex = d.select(
        F.col("doc_id").alias("doc"),
        F.explode(_bigrams_distinct(F.col("text"))).alias("s"),
    )
    first = ex.groupBy("s").agg(F.min("doc").alias("first_doc"))
    return (
        ex.join(first, "s")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.when(F.col("first_doc") == F.col("doc"), 1.0).otherwise(0.0)
                ),
                4,
            ).alias("novel_frac"),
        )
    )


@register(
    "time_decay_user_scores",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch(ts) AS t, value FROM events
    ), mx AS (
      SELECT max(t) AS tmax FROM ev
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * exp(-(mx.tmax - t) / {_DECAY_TAU_S})), 4)
             AS decay_score
    FROM ev CROSS JOIN mx
    GROUP BY 1
    """,
    doc="Per-user exponentially time-decayed activity score (1-hour "
    "e-folding, anchored at the corpus max timestamp) — the recency "
    "weighting used for freshness-aware sampling of interaction data. "
    "Single user_id shuffle with map-side combine; the anchor is a "
    "broadcast 1-row cross join. Timestamps compared at full micros "
    "precision on both engines (ts cast to double epoch seconds).",
    tags=("events", "decay", "sampling", "pipeline"),
)
def time_decay_user_scores(spark, sf_dir):
    # ts is TIMESTAMP_NTZ; route through TIMESTAMP (session tz = UTC) —
    # the same instant DuckDB's epoch() assigns to a naive timestamp.
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("timestamp").cast("double").alias("t"),
        "value",
    )
    mx = ev.agg(F.max("t").alias("tmax"))
    score = F.sum(
        F.col("value") * F.exp(-(F.col("tmax") - F.col("t")) / _DECAY_TAU_S)
    )
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(score, 4).alias("decay_score"),
        )
    )


@register(
    "prefix_truncation_dupes",
    oracle=f"""
    SELECT a.doc_id AS doc_short, b.doc_id AS doc_long,
           CAST(len(a.text) AS BIGINT) AS len_short,
           CAST(len(b.text) AS BIGINT) AS len_long
    FROM documents a JOIN documents b
      ON substr(a.text, 1, {_PREFIX_W}) = substr(b.text, 1, {_PREFIX_W})
     AND len(a.text) < len(b.text)
     AND starts_with(b.text, a.text)
    WHERE len(a.text) >= {_PREFIX_W}
    """,
    doc="Truncation-duplicate pairs: doc A is a strict prefix of doc B "
    "(the crawler-truncation / re-scrape artifact exact-hash dedup "
    "misses). Self-join BLOCKED on the first-24-char key — an equi-join "
    "shuffle, never all-pairs; the prefix verify runs only inside "
    "blocks. Docs shorter than the blocking key are excluded by "
    "definition (their block key is not length-stable). At web scale the "
    "boilerplate-prefix key is skewed: AQE skew-join splits hot blocks.",
    tags=("dedup", "prefix", "join", "pipeline"),
)
def prefix_truncation_dupes(spark, sf_dir, docs=None):
    # ``docs``: optional shared (doc_id, text) frame from a composition
    # (dedup_method_agreement) — results and the standalone plan unchanged.
    d = (
        (docs if docs is not None else _docs(spark, sf_dir))
        .filter(F.col("text").isNotNull())
        .filter(F.length("text") >= _PREFIX_W)
        .select(
            "doc_id",
            "text",
            F.substring("text", 1, _PREFIX_W).alias("pfx"),
            F.length("text").alias("ln"),
        )
    )
    a = d.alias("a")
    b = d.select("doc_id", "text", "pfx", "ln").alias("b")
    return (
        a.join(
            b,
            (F.col("a.pfx") == F.col("b.pfx"))
            & (F.col("a.ln") < F.col("b.ln"))
            & F.col("b.text").startswith(F.col("a.text")),
        )
        .select(
            F.col("a.doc_id").alias("doc_short"),
            F.col("b.doc_id").alias("doc_long"),
            F.col("a.ln").cast("bigint").alias("len_short"),
            F.col("b.ln").cast("bigint").alias("len_long"),
        )
    )


@register(
    "mad_outlier_events",
    oracle=f"""
    WITH stats AS (
      SELECT event_type, median(value) AS m, mad(value) AS md
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           round(any_value(s.m), 4) AS med,
           round(any_value(s.md), 4) AS mad,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN abs(e.value - s.m) > {_MAD_K} * s.md
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN stats s USING (event_type)
    GROUP BY 1
    """,
    doc="Robust per-type outlier census: median + MAD (median absolute "
    "deviation) with a 3-sigma-equivalent 1.4826 scaling — the "
    "heavy-tail-safe alternative to the z-score filter "
    "(`zscore_per_priority`), standard for metric-quality gating. Two "
    "exact-median passes over the LOW-cardinality type key, each joined "
    "back broadcast; the fact table is never shuffled on a wide key. "
    "100 TB route: approx_percentile in the same shape (see QUERIES.md).",
    tags=("events", "robust-stats", "outliers", "pipeline"),
)
def mad_outlier_events(spark, sf_dir):
    ev = _events(spark, sf_dir).select("event_type", "value")
    # The per-type median is broadcast into BOTH deviation passes (mad,
    # final scoring); checkpoint the 5-row table so the median shuffle
    # runs once. MAD stays an honest 3-pass algorithm (median →
    # deviation median → score): materializing the corpus-sized deviation
    # frame to save the third narrow scan would cost more than it saves.
    med = materialize(
        ev.groupBy("event_type")
        .agg(F.median("value").alias("m"))
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("m"))
    )
    mad = dev.groupBy("event_type").agg(F.median("d").alias("md"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.any_value("m"), 4).alias("med"),
            F.round(F.any_value("md"), 4).alias("mad"),
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("d") > _MAD_K * F.col("md"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


def _embeddings(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "embeddings")


_HIST_BINS = 20


@register(
    "label_centroids",
    oracle="""
    WITH ex AS (
      -- parallel unnests zip elementwise in DuckDB: (pos, val) pairs
      SELECT label,
             unnest(range(len(embedding))) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS val
      FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT label, CAST(pos AS BIGINT) AS pos,
           round(avg(val), 6) AS centroid,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM ex GROUP BY 1, 2
    """,
    doc="Per-label centroid of the embedding space, one row per (label, "
    "dimension) — the class prototype behind semantic dedup, drift "
    "monitoring, and cluster-balance checks. posexplode + one "
    "(label,pos) aggregate: map-side partial means the shuffle carries "
    "|labels|x|dims| rows per task, never the vectors; reducer "
    "parallelism is dimension-bounded, which is exactly right because "
    "the reduce work is too.",
    tags=("embeddings", "centroid", "pipeline"),
)
def label_centroids(spark, sf_dir):
    ex = (
        _embeddings(spark, sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "val"
            ),
        )
    )
    return ex.groupBy("label", F.col("pos").cast("bigint").alias("pos")).agg(
        F.round(F.avg("val"), 6).alias("centroid"),
        F.count("*").cast("bigint").alias("n_vecs"),
    )


@register(
    "intra_label_cosine",
    oracle="""
    WITH ex AS (
      SELECT label,
             unnest(range(len(embedding))) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS val
      FROM embeddings WHERE embedding IS NOT NULL
    ), cm AS (
      SELECT label, pos, avg(val) AS c FROM ex GROUP BY 1, 2
    ), cent AS (
      SELECT label, list(c ORDER BY pos) AS centroid FROM cm GROUP BY 1
    ), scored AS (
      SELECT e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    c.centroid) AS cs
      FROM embeddings e JOIN cent c USING (label)
      WHERE e.embedding IS NOT NULL
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(cs), 4) AS mean_cos,
           round(min(cs), 4) AS min_cos
    FROM scored GROUP BY 1
    """,
    doc="Intra-class cohesion: mean/min cosine of each vector to its own "
    "label centroid — the label-noise / cluster-quality gate (a low "
    "min_cos flags mislabeled or outlier points). Centroids come from "
    "the dimension-bounded (label,pos) aggregate, are re-assembled into "
    "arrays (|labels| rows) and BROADCAST back onto the vector scan; "
    "the per-vector cosine runs in the Arrow-batched numpy kernel "
    "(operators/similarity.py:cosine_pairs_vectorized — HOF lambdas are "
    "interpreted per element, measured ~100x slower on 64-dim vectors).",
    tags=("embeddings", "cohesion", "quality", "pipeline"),
)
def intra_label_cosine(spark, sf_dir):
    from ..operators.similarity import (
        cosine_pairs_vectorized,
        label_centroid_arrays,
    )

    emb = (
        _embeddings(spark, sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select("label", F.col("embedding").cast("array<double>").alias("v"))
    )
    cent = label_centroid_arrays(emb)
    scored = cosine_pairs_vectorized(
        emb.join(F.broadcast(cent), "label"), "v", "centroid", "cs"
    )
    return scored.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.round(F.avg("cs"), 4).alias("mean_cos"),
        F.round(F.min("cs"), 4).alias("min_cos"),
    )


@register(
    "histogram_events",
    oracle=f"""
    WITH s AS (
      SELECT event_type, min(value) AS mn, max(value) AS mx
      FROM events GROUP BY 1
    ), b AS (
      -- nullif: a constant-valued type has width 0; NULL propagates and
      -- least() skips it, so every row lands in the last bin (both engines)
      SELECT e.event_type,
             least(CAST(floor((e.value - s.mn)
                 / nullif((s.mx - s.mn) / {_HIST_BINS}, 0)) AS BIGINT),
                 {_HIST_BINS - 1}) AS bin,
             s.mn, s.mx
      FROM events e JOIN s USING (event_type)
    )
    SELECT event_type, bin,
           CAST(count(*) AS BIGINT) AS n_events,
           round(any_value(mn)
                 + bin * ((any_value(mx) - any_value(mn)) / {_HIST_BINS}), 6)
             AS bin_lo
    FROM b GROUP BY 1, 2
    """,
    doc="Equi-width 20-bin histogram of the value distribution per event "
    "type — the profiling primitive behind drift dashboards and "
    "bin-packing decisions. Two passes: a tiny per-type min/max "
    "aggregate broadcast back onto the scan, then one (type,bin) "
    "aggregate with map-side combine. The max value lands in the last "
    "bin via least() on both engines — identical IEEE double edge "
    "arithmetic, so bin assignment is bit-reproducible.",
    tags=("events", "histogram", "profiling", "pipeline"),
)
def histogram_events(spark, sf_dir):
    ev = _events(spark, sf_dir).select("event_type", "value")
    s = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    # nullif guards the degenerate constant-valued type (width 0): under
    # Spark's default ANSI mode a bare 0/0 would abort the query, while
    # NULL propagates through floor and is skipped by least → bin 19,
    # matching DuckDB's NULL-division semantics.
    width = F.nullif((F.col("mx") - F.col("mn")) / _HIST_BINS, F.lit(0.0))
    bin_ = F.least(
        F.floor((F.col("value") - F.col("mn")) / width).cast("bigint"),
        F.lit(_HIST_BINS - 1),
    )
    return (
        ev.join(F.broadcast(s), "event_type")
        .withColumn("bin", bin_)
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(
                F.any_value("mn")
                + F.col("bin") * ((F.any_value("mx") - F.any_value("mn")) / _HIST_BINS),
                6,
            ).alias("bin_lo"),
        )
    )
