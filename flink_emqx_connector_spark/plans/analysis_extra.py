"""Seventh wave of LLM-training-pipeline operators (SURVEY.md §2.5
X67-X76): vector-compression QA, corpus statistics for tokenizer/sampling
decisions, and event-stream order/latency accounting. Absent from the
reference by design scope (it is a connector — SURVEY §0). All
deterministic, all DuckDB oracle-checked.

Scale posture, per operator:
- embedding quantization: the exact explode+agg form here is the oracle
  anchor (two vec_id-bounded shuffles, dimension-bounded rows); the
  100 TB hot path is the same math as a numpy kernel over mapInPandas
  (plans/similarity.py pattern) — per-vector state is 64 floats, the
  aggregate is label-bounded.
- centroid distances: |labels| centroids broadcast, |labels|² bounded
  output — the Arrow-batched cosine kernel reused from
  nearest_centroid_confusion.
- zipf fit: one vocab-bounded term shuffle; the regression folds into
  covar_pop/var_pop over the top-K rank table (K rows, one reducer — K
  is a constant 1000, not data-scaled).
- length bands: three exact quantiles over ONE aggregate buffer
  (array-form percentile), broadcast to the band assignment; the 100 TB
  swap is approx_percentile (see percentiles_lineitem's note).
- coverage curve: TakeOrdered K=100 + a K-row window with a
  non-foldable constant partition key (the token_vocab_coverage
  pattern) — never a corpus-wide single-partition window.
- session gaps / late arrivals / latest state: per-user or per-arrival
  windows whose partition keys are high-cardinality (user_id, type) —
  each is one shuffle, map-side combinable aggregates after.
- top-token coverage: two vocab-bounded aggregates + a 10-row broadcast
  semi-join.
- PMI: the bigram and unigram tables reuse ONE tokenized scan; totals
  are 1-row broadcasts; output is top-50 bounded.
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


@register(
    "embedding_quantization_stats",
    oracle=f"""
    WITH e AS (
      SELECT label, vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    s AS (
      SELECT label, vec_id, greatest(max(abs(x)), 1e-30) / 127 AS scale
      FROM e GROUP BY 1, 2
    ),
    err AS (
      SELECT e.label, e.vec_id,
             CAST(floor(
               avg(pow(e.x - floor(e.x / s.scale + 0.5) * s.scale, 2)) * 1e12
               + 0.5) AS BIGINT) AS mse_i,
             max(abs(e.x - floor(e.x / s.scale + 0.5) * s.scale)) AS mae
      FROM e JOIN s USING (label, vec_id)
      GROUP BY 1, 2
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           floor(CAST(sum(CAST(mse_i AS HUGEINT)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1e12 * 1e8 + 0.5) / 1e8
               AS avg_mse,
           {stable_round_sql('max(mae)', 6)} AS max_abs_err
    FROM err GROUP BY label
    """,
    doc="X67: int8 symmetric-quantization error per label — the QA gate "
    "before shipping a quantized ANN index (scale = max|x|/127 per "
    "vector, q = floor(x/scale + 0.5); identical IEEE steps on both "
    "engines; cross-vector avg accumulates 1e12-scaled integer per-"
    "vector errors exactly, so partition order can't shift an ulp). "
    "Exact explode form = oracle anchor; same math runs as a "
    "numpy kernel over mapInPandas at 100 TB (plans/similarity.py "
    "pattern). Output is label-bounded.",
    tags=("embeddings", "quantization", "quality", "pipeline"),
)
def embedding_quantization_stats(spark, sf_dir):
    e = (
        _emb(spark, sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select(
            "label", "vec_id",
            F.explode(F.col("embedding").cast("array<double>")).alias("x"),
        )
    )
    s = e.groupBy("label", "vec_id").agg(
        (F.greatest(F.max(F.abs("x")), F.lit(1e-30)) / 127).alias("scale")
    )
    q = F.floor(F.col("x") / F.col("scale") + 0.5) * F.col("scale")
    err = (
        e.join(s, ["label", "vec_id"])
        .groupBy("label", "vec_id")
        .agg(
            # Per-vector mse rounded to a 1e12-scaled integer so the
            # cross-vector average can accumulate EXACTLY (order-free);
            # the per-vector avg itself is order-stable (one exploded
            # row's elements never split across tasks).
            F.floor(F.avg(F.pow(F.col("x") - q, 2)) * 1e12 + 0.5)
            .cast("bigint")
            .alias("mse_i"),
            F.max(F.abs(F.col("x") - q)).alias("mae"),
        )
    )
    return err.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        (
            F.floor(
                F.sum(F.col("mse_i").cast("decimal(38,0)")).cast("double")
                / F.count("*").cast("double")
                / F.lit(1e12)
                * 1e8
                + 0.5
            )
            / 1e8
        ).alias("avg_mse"),
        stable_round(F.max("mae"), 6).alias("max_abs_err"),
    )


@register(
    "pairwise_centroid_distances",
    oracle=f"""
    WITH ex AS (
      SELECT label,
             unnest(range(len(embedding))) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS val
      FROM embeddings WHERE embedding IS NOT NULL
    ), cm AS (
      SELECT label, pos, avg(val) AS c FROM ex GROUP BY 1, 2
    ), cent AS (
      SELECT label, list(c ORDER BY pos) AS centroid FROM cm GROUP BY 1
    )
    SELECT a.label AS label_a, b.label AS label_b,
           {stable_round_sql('list_cosine_similarity(a.centroid, b.centroid)', 6)}
             AS cos_sim
    FROM cent a JOIN cent b ON a.label < b.label
    """,
    doc="X68: label-centroid cosine matrix (upper triangle) — the "
    "class-separability report that decides whether auto-labels are "
    "trustworthy. |labels| centroids broadcast against themselves, "
    "|labels|²-bounded output; cosines via the Arrow-batched numpy "
    "kernel shared with nearest_centroid_confusion; floor-form rounding "
    "on both engines.",
    tags=("embeddings", "classification", "quality"),
)
def pairwise_centroid_distances(spark, sf_dir):
    from ..operators.similarity import cosine_pairs_vectorized, label_centroid_arrays

    emb = (
        _emb(spark, sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select("label", F.col("embedding").cast("array<double>").alias("v"))
    )
    cent = label_centroid_arrays(emb)
    a = cent.select(F.col("label").alias("label_a"), F.col("centroid").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), F.col("centroid").alias("cb"))
    pairs = a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
    scored = cosine_pairs_vectorized(pairs, "ca", "cb", "cos_sim")
    # stable_round is the floor form — fine for negative cosines because
    # BOTH engines use it (uniform half-up; see plans/rounding.py)
    return scored.select(
        "label_a", "label_b", stable_round(F.col("cos_sim"), 6).alias("cos_sim")
    )


_ZIPF_K = 1000


@register(
    "zipf_fit_docs",
    oracle=f"""
    WITH tf AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY c DESC, tok) AS r, c
      FROM tf ORDER BY c DESC, tok LIMIT {_ZIPF_K}
    ),
    pts AS (SELECT ln(CAST(r AS DOUBLE)) AS lr, ln(CAST(c AS DOUBLE)) AS lc FROM ranked)
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           {stable_round_sql('covar_pop(lc, lr) / var_pop(lr)', 6)} AS zipf_slope,
           {stable_round_sql('avg(lc) - (covar_pop(lc, lr) / var_pop(lr)) * avg(lr)', 6)}
             AS zipf_intercept
    FROM pts
    """,
    doc="X69: Zipf-law fit over the top-1000 term frequencies — the "
    "one-number corpus-health check (natural text ≈ -1; templated/"
    "machine-generated corpora bend it). Least squares in closed form "
    "(covar_pop/var_pop over ln rank, ln freq); one vocab-bounded term "
    "shuffle, then a constant-K rank table.",
    tags=("text", "stats", "quality", "pipeline"),
)
def zipf_fit_docs(spark, sf_dir):
    from pyspark.sql import Window as W

    tf = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(_ZIPF_K)
    )
    # rank within the K-row table: non-foldable constant partition key
    # (the token_vocab_coverage pattern — avoids the corpus-wide
    # single-partition window warning while staying a K-row sort)
    w = W.partitionBy(F.pmod(F.col("c"), F.lit(1))).orderBy(
        F.col("c").desc(), "tok"
    )
    pts = tf.withColumn("r", F.row_number().over(w)).select(
        F.log(F.col("r").cast("double")).alias("lr"),
        F.log(F.col("c").cast("double")).alias("lc"),
    )
    slope = F.covar_pop("lc", "lr") / F.var_pop("lr")
    return pts.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        stable_round(slope, 6).alias("zipf_slope"),
        stable_round(F.avg("lc") - slope * F.avg("lr"), 6).alias("zipf_intercept"),
    )


@register(
    "doc_length_percentile_bands",
    oracle="""
    WITH lens AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_words FROM documents
    ),
    vc AS (
      SELECT n_words AS v, CAST(count(*) AS BIGINT) AS c FROM lens GROUP BY 1
    ),
    cum AS (
      SELECT v, CAST(sum(c) OVER (ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM vc
    ),
    qs AS (
      -- type-1 discrete order statistics (the user_ltv_deciles class
      -- fix): bucketing integer lengths by an INTERPOLATED quantile is
      -- ulp-fragile exactly where the data sits — boundaries are the
      -- smallest length with rank >= ceil(q*n), pure integer
      SELECT min(CASE WHEN cw * 4 >= 1 * n THEN v END) AS q1,
             min(CASE WHEN cw * 4 >= 2 * n THEN v END) AS q2,
             min(CASE WHEN cw * 4 >= 3 * n THEN v END) AS q3
      FROM cum
    )
    SELECT CASE WHEN n_words <= q1 THEN 'p00-p25'
                WHEN n_words <= q2 THEN 'p25-p50'
                WHEN n_words <= q3 THEN 'p50-p75'
                ELSE 'p75-p100' END AS band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_words) AS BIGINT) AS min_words,
           CAST(max(n_words) AS BIGINT) AS max_words
    FROM lens CROSS JOIN qs
    GROUP BY 1
    """,
    doc="X70: document-length quartile bands — the curriculum/packing "
    "planner's length histogram. Boundaries are TYPE-1 DISCRETE order "
    "statistics via integer prefix sums over the distinct-length census "
    "(r11 hardening: interpolated quantiles of integer data differ "
    "across engines by ulps exactly AT the integers being bucketed — "
    "the user_ltv_deciles seed-7 sf10 finding), broadcast to the band "
    "assignment. The census window runs over DISTINCT lengths (domain-"
    "bounded), never the corpus.",
    tags=("text", "stats", "sampling", "pipeline"),
)
def doc_length_percentile_bands(spark, sf_dir):
    from pyspark.sql import Window

    lens = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    from fractions import Fraction

    from ..operators.quantiles import discrete_quantile_bounds

    qs = discrete_quantile_bounds(
        lens, "n_words", [Fraction(i, 4) for i in (1, 2, 3)]
    )
    band = (
        F.when(F.col("n_words") <= F.col("q1"), "p00-p25")
        .when(F.col("n_words") <= F.col("q2"), "p25-p50")
        .when(F.col("n_words") <= F.col("q3"), "p50-p75")
        .otherwise("p75-p100")
    )
    return (
        lens.crossJoin(F.broadcast(qs))
        .groupBy(band.alias("band"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("n_words").cast("bigint").alias("min_words"),
            F.max("n_words").cast("bigint").alias("max_words"),
        )
    )


_COVERAGE_K = 100


@register(
    "ngram_coverage_curve",
    oracle=f"""
    WITH bg AS (
      SELECT array_to_string(w[i:i+1], ' ') AS g
      FROM (SELECT string_split(text, ' ') AS w FROM documents),
           LATERAL unnest(range(1, len(w))) AS t(i)
    ),
    tf AS (SELECT g, count(*) AS c FROM bg GROUP BY g),
    tot AS (SELECT sum(c) AS n FROM tf),
    top AS (
      SELECT g, c, row_number() OVER (ORDER BY c DESC, g) AS r
      FROM tf ORDER BY c DESC, g LIMIT {_COVERAGE_K}
    )
    SELECT r AS rank, g AS bigram,
           {stable_round_sql(
               'CAST(sum(c) OVER (ORDER BY r) AS DOUBLE) / tot.n', 6
           )} AS cum_frac
    FROM top CROSS JOIN tot
    """,
    doc="X71: cumulative coverage of the top-100 bigrams — how much of "
    "the corpus a tiny head of the n-gram distribution explains "
    "(tokenizer-merge and boilerplate signal). TakeOrdered K + a K-row "
    "running-sum window with a non-foldable constant partition key (the "
    "token_vocab_coverage fix); the total is a 1-row broadcast.",
    tags=("text", "stats", "pipeline"),
)
def ngram_coverage_curve(spark, sf_dir):
    from pyspark.sql import Window as W

    # occurrences, not distinct-per-doc: coverage is over the token stream
    w = F.split("text", " ")
    bg = _docs(spark, sf_dir).select(
        F.explode(
            F.zip_with(
                F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("g")
    )
    tf = bg.groupBy("g").agg(F.count("*").alias("c"))
    tot = tf.agg(F.sum("c").alias("n"))
    top = tf.orderBy(F.col("c").desc(), "g").limit(_COVERAGE_K)
    win = W.partitionBy(F.pmod(F.col("c"), F.lit(1))).orderBy(
        F.col("c").desc(), "g"
    )
    ranked = top.withColumn("r", F.row_number().over(win)).withColumn(
        "cum", F.sum("c").over(win.rowsBetween(W.unboundedPreceding, 0))
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        F.col("r").alias("rank"),
        F.col("g").alias("bigram"),
        stable_round(F.col("cum").cast("double") / F.col("n"), 6).alias("cum_frac"),
    )


@register(
    "session_gap_stats",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             epoch(ts) - lag(epoch(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap
      FROM events
    )
    SELECT event_type,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           {stable_round_sql('avg(gap)', 4)} AS avg_gap_s,
           {stable_round_sql('max(gap)', 4)} AS max_gap_s
    FROM g WHERE gap IS NOT NULL
    GROUP BY event_type
    """,
    doc="X72: inter-event gap distribution per event type (gap = seconds "
    "since the same user's previous event; the later event's type owns "
    "the gap) — the dwell-time signal behind sessionization thresholds. "
    "One user_id-partitioned window (high-cardinality key, one shuffle), "
    "then a type-bounded aggregate; ties broken by event_id on both "
    "engines.",
    tags=("events", "sessions", "stats"),
)
def session_gap_stats(spark, sf_dir):
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.col("ts").cast("timestamp").cast("double")
    g = _events(spark, sf_dir).select(
        "event_type", (t - F.lag(t).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("gap").cast("bigint").alias("n_gaps"),
        stable_round(F.avg("gap"), 4).alias("avg_gap_s"),
        stable_round(F.max("gap"), 4).alias("max_gap_s"),
    )


@register(
    "latest_state_per_user",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rk,
             count(*) OVER (PARTITION BY user_id) AS n_events
      FROM events
    )
    SELECT user_id, event_type AS last_type,
           floor(value * 1000 + 0.5) / 1000 AS last_value,
           ts AS last_ts,
           CAST(n_events AS BIGINT) AS n_events
    FROM ranked WHERE rk = 1
    """,
    doc="X73: latest event per user (SCD-1 snapshot) with a deterministic "
    "tie-break — the BATCH analogue of the streaming materialized "
    "latest-state view (streaming/materialized_view.py, X49): same "
    "semantics, two execution modes, one engine. One user_id shuffle "
    "serves both the row_number and the per-user count.",
    tags=("events", "state", "parity-streaming"),
)
def latest_state_per_user(spark, sf_dir):
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    wc = W.partitionBy("user_id")
    return (
        _events(spark, sf_dir)
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_events", F.count("*").over(wc))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            stable_round(F.col("value"), 3).alias("last_value"),
            F.col("ts").alias("last_ts"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )


@register(
    "late_arrival_accounting",
    oracle=f"""
    WITH o AS (
      SELECT event_type, epoch(ts) AS t,
             max(epoch(ts)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS hwm
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN t < hwm THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           {stable_round_sql(
               'coalesce(max(CASE WHEN t < hwm THEN hwm - t END), 0.0)', 4
           )} AS max_late_s
    FROM o GROUP BY event_type
    """,
    doc="X74: out-of-order arrival accounting per event type — events "
    "whose timestamp is behind the running high-water mark of their "
    "arrival order (event_id = ingest order). This is the batch estimate "
    "of the WATERMARK DELAY a streaming deployment of the same pipeline "
    "needs (streaming/stateful.py windows): max_late_s bounds "
    "withWatermark. One type-partitioned running-max window, "
    "type-bounded output.",
    tags=("events", "streaming", "watermark", "stats"),
)
def late_arrival_accounting(spark, sf_dir):
    from pyspark.sql import Window as W

    t = F.col("ts").cast("timestamp").cast("double")
    w = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    o = _events(spark, sf_dir).select(
        "event_type", t.alias("t"), F.max(t).over(w).alias("hwm")
    )
    late = F.col("t") < F.col("hwm")
    return o.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("n_late"),
        stable_round(
            F.coalesce(
                F.max(F.when(late, F.col("hwm") - F.col("t"))), F.lit(0.0)
            ),
            4,
        ).alias("max_late_s"),
    )


_TOP_TOKENS = 10


@register(
    "top_token_coverage_by_lang",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    globally AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok LIMIT {_TOP_TOKENS}
      )
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           {stable_round_sql(
               'CAST(sum(CASE WHEN tok IN (SELECT tok FROM globally) '
               'THEN 1 ELSE 0 END) AS DOUBLE) / count(*)', 6
           )} AS top10_frac
    FROM toks GROUP BY lang
    """,
    doc="X75: fraction of each language slice's token stream covered by "
    "the corpus-global top-10 tokens — a cross-lingual contamination/"
    "drift smell (a 'de' slice full of English stopwords is mislabeled). "
    "Two vocab-bounded aggregates; the 10-row head is a broadcast "
    "semi-join against the token stream.",
    tags=("text", "lang", "quality", "pipeline"),
)
def top_token_coverage_by_lang(spark, sf_dir):
    toks = _docs(spark, sf_dir).select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(_TOP_TOKENS)
        .select("tok", F.lit(1).alias("is_top"))
    )
    return (
        toks.join(F.broadcast(top), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            stable_round(
                F.sum(F.coalesce(F.col("is_top"), F.lit(0))).cast("double")
                / F.count("*"),
                6,
            ).alias("top10_frac"),
        )
    )


_PMI_MIN_COUNT = 5
_PMI_K = 50


@register(
    "token_cooccurrence_pmi",
    oracle=f"""
    WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT w[i] AS w1, w[i+1] AS w2
      FROM w, LATERAL unnest(range(1, len(w))) AS t(i)
    ),
    big AS (
      SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
      HAVING count(*) >= {_PMI_MIN_COUNT}
    ),
    uni AS (
      SELECT tok, count(*) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      ) GROUP BY tok
    ),
    tots AS (
      SELECT (SELECT sum(c) FROM uni) AS nu,
             (SELECT CAST(count(*) AS BIGINT) FROM bg) AS nb
    ),
    pmi AS (
      SELECT b.w1 || ' ' || b.w2 AS bigram, b.c12,
             ln((CAST(b.c12 AS DOUBLE) / t.nb)
                / ((CAST(u1.c AS DOUBLE) / t.nu) * (CAST(u2.c AS DOUBLE) / t.nu)))
               AS pmi_raw
      FROM big b
      JOIN uni u1 ON u1.tok = b.w1
      JOIN uni u2 ON u2.tok = b.w2
      CROSS JOIN tots t
    )
    SELECT bigram, CAST(c12 AS BIGINT) AS n_cooc,
           {stable_round_sql('pmi_raw', 4)} AS pmi
    FROM pmi
    ORDER BY pmi_raw DESC, bigram
    LIMIT {_PMI_K}
    """,
    doc="X76: top-50 pointwise mutual information bigrams (count ≥ 5) — "
    "collocation mining for tokenizer-merge and phrase-protection "
    "decisions. The text column is scanned (column-pruned) for the "
    "bigram and unigram counts separately — shuffles, the expensive "
    "part, are vocab-bounded; at 100 TB checkpoint the tokenized scan "
    "once and derive both counts from it. Totals are 1-row broadcasts; "
    "the PMI doubles are bit-identical across engines (same integer "
    "inputs, same IEEE ops), so the top-k order (pmi desc, bigram asc) "
    "is deterministic.",
    tags=("text", "stats", "tokenizer", "pipeline"),
)
def token_cooccurrence_pmi(spark, sf_dir):
    w = F.split("text", " ")
    bg = _docs(spark, sf_dir).select(
        F.explode(
            F.zip_with(
                F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # One bigram census pass serves both the PMI numerator AND the total
    # bigram count (nb = Σ counts over the unfiltered census — identical
    # to count(*) over the instances); one unigram census pass serves the
    # marginals and the token total. Both checkpointed once: the old
    # shape re-tokenized the corpus five times (r13 audit: 5 document
    # scans → 2, one per census).
    cen = materialize(
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    big = cen.filter(F.col("c12") >= _PMI_MIN_COUNT)
    uni = materialize(
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    tots = uni.agg(F.sum("c").alias("nu")).crossJoin(
        cen.agg(F.sum("c12").alias("nb"))
    )
    pmi_raw = F.log(
        (F.col("c12").cast("double") / F.col("nb"))
        / (
            (F.col("c1").cast("double") / F.col("nu"))
            * (F.col("c2").cast("double") / F.col("nu"))
        )
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tots))
        .withColumn("pmi_raw", pmi_raw)
        .orderBy(F.col("pmi_raw").desc(), F.concat_ws(" ", "w1", "w2"))
        .limit(_PMI_K)
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("c12").cast("bigint").alias("n_cooc"),
            stable_round(F.col("pmi_raw"), 4).alias("pmi"),
        )
    )


@register(
    "benford_digit_audit",
    # First-significant-digit census of order totals (integer cents, the
    # repo money policy) against the Benford expectation — all integer
    # milli units; expected shares are the nine log10(1+1/d) constants
    # pre-rounded to milli so both engines compare identical literals.
    oracle="""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
      WHERE o_totalprice > 0
    ), digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM cents
    ), census AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY 1
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM census),
    expect(digit, exp_milli) AS (
      VALUES (1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
             (6, 67), (7, 58), (8, 51), (9, 46)
    )
    SELECT e.digit, coalesce(c.n, 0) AS n,
           CAST(coalesce(c.n, 0) * 1000 // t AS BIGINT) AS obs_milli,
           CAST(e.exp_milli AS BIGINT) AS exp_milli,
           CAST(abs(coalesce(c.n, 0) * 1000 // t - e.exp_milli) AS BIGINT)
             AS dev_milli
    FROM expect e LEFT JOIN census c ON c.digit = e.digit CROSS JOIN tot
    ORDER BY e.digit
    """,
    doc="X128: Benford first-digit audit of order totals — the "
    "data-quality screen that catches synthetic, truncated, or "
    "unit-mangled monetary columns before they poison a training mix "
    "(a price column that fails Benford hard usually means a broken "
    "decode or a capped generator, both of which ALSO corrupt "
    "downstream aggregates silently). Exact integer milli shares vs "
    "the nine pre-rounded log10(1+1/d) expectations with absolute "
    "deviations. Scale shape: one map-side-combined 9-group aggregate "
    "over a single column (the scan prunes to o_totalprice), a 9-row "
    "broadcast of the expectation literals, and a 1-row total "
    "broadcast — nothing in the plan grows with the corpus beyond the "
    "scan itself.",
    tags=("analysis", "quality", "audit"),
)
def benford_digit_audit(spark, sf_dir):
    from ..session import load_table

    orders = load_table(spark, sf_dir, "orders")
    census = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    expect = spark.createDataFrame(
        [(1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
         (6, 67), (7, 58), (8, 51), (9, 46)],
        "digit bigint, exp_milli bigint",
    )
    tot = census.agg(F.sum("n").cast("bigint").alias("t"))
    return (
        expect.join(census, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("digit"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.expr("coalesce(n, 0) * 1000 div t").cast("bigint").alias("obs_milli"),
            F.col("exp_milli"),
            F.abs(F.expr("coalesce(n, 0) * 1000 div t") - F.col("exp_milli"))
            .cast("bigint")
            .alias("dev_milli"),
        )
        .orderBy("digit")
    )


@register(
    "basket_brand_lift",
    # Market-basket mining over orders: which part brands co-occur in
    # the same order more than independence predicts. Support counts
    # are exact; lift is exact integer micro via the overflow-staged
    # form (n_ab·10^6 div n_a)·T div n_b — every intermediate fits
    # int64 at any sf (n·10^6 ≤ 1.5e13 at sf10), where the naive
    # n_ab·T·10^6 product overflows ANSI int64 by round sf1.
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), brand_n AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n FROM basket GROUP BY 1
    ), tot AS (
      SELECT CAST(count(DISTINCT okey) AS BIGINT) AS t FROM basket
    ), pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM basket a JOIN basket b
        ON b.okey = a.okey AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_ab,
           na.n AS n_a, nb.n AS n_b,
           CAST((n_ab * 1000000 // na.n) * t // nb.n AS BIGINT) AS lift_micro
    FROM pairs
    JOIN brand_n na ON na.brand = brand_a
    JOIN brand_n nb ON nb.brand = brand_b
    CROSS JOIN tot
    ORDER BY n_ab DESC, brand_a, brand_b LIMIT 20
    """,
    doc="X130: within-order brand co-occurrence with exact integer "
    "lift — the market-basket census (and, for a training-data mix, "
    "the source-affinity signal: which corpus slices keep appearing "
    "in the same upstream bundle). Baskets are DISTINCT (order, brand) "
    "sets; the within-order pair join is bounded by basket size "
    "(≤7 lineitems/order by construction), so pair generation is "
    "LINEAR in orders — the same bounded-sequence argument as the "
    "events family, never all-pairs over brands×orders. Lift = "
    "P(ab)/(P(a)P(b)) in micro units via a staged integer form chosen "
    "to fit int64 at every scale (documented in the oracle comment); "
    "identical expression text on both engines makes truncation "
    "semantics equal by construction. Scale shape: one partkey dim "
    "join, one distinct on (order, brand), one self-join co-located "
    "on okey, brand census broadcast (≤25 rows) — top-k is "
    "TakeOrdered.",
    tags=("analysis", "pipeline", "joins"),
)
def basket_brand_lift(spark, sf_dir):
    from ..session import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # The basket build (fact⋈dim join + distinct) feeds FIVE consumers
    # (brand_n, tot, both self-join sides via a/b); without the checkpoint,
    # the final plan recomputed the join+distinct subtree five
    # times (r13 audit: 10 parquet scans / 5 distinct shuffles → 1 each).
    basket = materialize(
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    brand_n = basket.groupBy("brand").agg(F.count("*").cast("bigint").alias("n"))
    tot = basket.agg(F.count_distinct("okey").cast("bigint").alias("t"))
    a = basket.select(F.col("okey"), F.col("brand").alias("brand_a"))
    b = basket.select(F.col("okey"), F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "okey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    na = brand_n.select(F.col("brand").alias("brand_a"), F.col("n").alias("n_a"))
    nb = brand_n.select(F.col("brand").alias("brand_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("(n_ab * 1000000 div n_a) * t div n_b")
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy(F.col("n_ab").desc(), "brand_a", "brand_b")
        .limit(20)
    )


@register(
    "weighted_median_price",
    # Exact weighted median (lower weighted median: the smallest value
    # whose cumulative weight reaches half the total) of lineitem price
    # cents weighted by quantity, per return flag — all integer, fully
    # tie-broken cumulative ordering so both engines walk the same
    # prefix.
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(round(l_quantity) AS BIGINT) AS wt,
             l_orderkey, l_linenumber
      FROM lineitem
    ), cum AS (
      SELECT flag, cents, wt,
             CAST(sum(wt) OVER (PARTITION BY flag
                  ORDER BY cents, l_orderkey, l_linenumber
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
             CAST(sum(wt) OVER (PARTITION BY flag) AS BIGINT) AS tot
      FROM w
    )
    SELECT flag,
           CAST(min(tot) AS BIGINT) AS total_weight,
           CAST(min(cents) AS BIGINT) AS w_median_cents
    FROM cum WHERE 2 * cumw >= tot
    GROUP BY flag ORDER BY flag
    """,
    doc="X132: exact weighted median — the robust location statistic "
    "percentile_approx cannot give exactly and an unweighted median "
    "gets wrong whenever rows carry different mass (here: price cents "
    "weighted by quantity, so the median reflects units shipped, not "
    "order lines). Lower-median convention: smallest value whose "
    "cumulative weight reaches half the total, with the cumulative "
    "ordering fully tie-broken (cents, orderkey, linenumber) so the "
    "prefix walk is identical cross-engine. Scale shape: one shuffle "
    "on the 3-value flag partitions the sort; the filter+min collapses "
    "each partition without materializing ranks — at 1000 executors "
    "the per-flag sort is a range-partitioned sort-based window, "
    "memory-bounded by Spark's window spilling.",
    tags=("analysis", "robust-stats"),
)
def weighted_median_price(spark, sf_dir):
    from pyspark.sql import Window

    from ..session import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_quantity")).cast("bigint").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("flag")
    cum = li.select(
        "flag",
        "cents",
        F.sum("wt").over(w_cum).cast("bigint").alias("cumw"),
        F.sum("wt").over(w_tot).cast("bigint").alias("tot"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("tot"))
        .groupBy("flag")
        .agg(
            F.min("tot").cast("bigint").alias("total_weight"),
            F.min("cents").cast("bigint").alias("w_median_cents"),
        )
        .orderBy("flag")
    )


@register(
    "ks_distance_sources",
    # Two-sample Kolmogorov-Smirnov distance between every source
    # pair's doc-length distributions — EXACT INTEGER: at every global
    # distinct length, per-source cumulative counts come from a grid ×
    # forward-filled prefix sum, and the KS statistic is
    # max |cw_a·n_b − cw_b·n_a| (cross-multiplied to avoid division),
    # reported with its milli normalization.
    oracle="""
    WITH lens AS (
      SELECT source, len(string_split(text, ' ')) AS v FROM documents
    ), census AS (
      SELECT source, v, CAST(count(*) AS BIGINT) AS cnt
      FROM lens GROUP BY 1, 2
    ), grid AS (
      SELECT s.source, g.v
      FROM (SELECT DISTINCT source FROM census) s
      CROSS JOIN (SELECT DISTINCT v FROM census) g
    ), cum AS (
      SELECT grid.source, grid.v,
             CAST(sum(coalesce(census.cnt, 0)) OVER (
                 PARTITION BY grid.source ORDER BY grid.v
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
      FROM grid LEFT JOIN census
        ON census.source = grid.source AND census.v = grid.v
    ), tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM lens GROUP BY 1
    )
    , gaps AS (
      SELECT source, v, cw,
             coalesce(lead(v) OVER (PARTITION BY source ORDER BY v) - v, 0)
               AS gap
      FROM cum
    )
    SELECT a.source AS source_a, b.source AS source_b,
           ta.n AS n_a, tb.n AS n_b,
           CAST(max(abs(a.cw * tb.n - b.cw * ta.n)) AS BIGINT) AS ks_num,
           CAST(max(abs(a.cw * tb.n - b.cw * ta.n)) * 1000
                // (ta.n * tb.n) AS BIGINT) AS ks_milli,
           CAST(sum(abs(a.cw * tb.n - b.cw * ta.n) * a.gap) * 1000
                // (ta.n * tb.n) AS BIGINT) AS emd_milli
    FROM gaps a
    JOIN gaps b ON b.v = a.v AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    JOIN tot tb ON tb.source = b.source
    GROUP BY 1, 2, ta.n, tb.n
    ORDER BY 1, 2
    """,
    doc="X144: exact two-sample Kolmogorov-Smirnov AND 1-D earth-mover "
    "distances between every source pair's document-length "
    "distributions — the drift primitives that complement token KL "
    "(X38, needs a shared vocab) and embedding drift (X79, needs "
    "vectors): they work on ANY ordered scalar. KS (sup |CDF diff|) "
    "catches a localized shift; EMD (gap-weighted INTEGRAL of "
    "|CDF diff|) catches diffuse drift KS under-weighs — one census "
    "serves both. Exact integer throughout: per-source CDFs are "
    "forward-filled prefix sums on the shared distinct-length grid; "
    "the sup and the integral both cross-multiply (|cw_a·n_b − "
    "cw_b·n_a|, × the inter-value gap for EMD) instead of dividing — "
    "engines agree bit-for-bit. Scale shape: the corpus collapses to "
    "a (source × distinct-length) census in one map-side aggregate; "
    "the grid is |sources|·|lengths| rows (domain-bounded); pair "
    "joins run on that census, never the corpus. Integer headroom: "
    "cross-multiplied terms are bounded by n_a·n_b (·gap·|grid| for "
    "the EMD sum) — int64-safe to ~10⁸ docs per source; beyond that, "
    "divide the prefix counts by a common 10^k first (same expression "
    "both engines).",
    tags=("analysis", "stats", "drift", "pipeline"),
)
def ks_distance_sources(spark, sf_dir):
    from pyspark.sql import Window

    lens = _docs(spark, sf_dir).select(
        "source", F.size(F.split("text", " ")).alias("v")
    )
    # The (source, length) census feeds FIVE consumers (sources, vs, the
    # grid join, and — via the derivation below — the per-source totals);
    # checkpoint it once so the corpus tokenize-and-count runs once
    # (r13 audit: 8 document scans → 1).
    census = materialize(
        lens.groupBy("source", "v")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    sources = census.select("source").distinct()
    vs = census.select("v").distinct()
    grid = sources.crossJoin(vs)
    w_cum = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        grid.join(census, ["source", "v"], "left")
        .select(
            "source",
            "v",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
        .select(
            "source",
            "v",
            F.sum("cnt").over(w_cum).cast("bigint").alias("cw"),
        )
    )
    # Per-source totals derived from the census (Σ cnt ≡ count of rows),
    # not from a second corpus scan.
    tot = census.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    w_lead = Window.partitionBy("source").orderBy("v")
    # Grid-sized (|sources| × |distinct lengths|) cumulative table feeds
    # both self-join legs; checkpoint so the grid build + windows run once.
    gaps = materialize(cum.select(
        "source",
        "v",
        "cw",
        F.coalesce(F.lead("v").over(w_lead) - F.col("v"), F.lit(0)).alias(
            "gap"
        ),
    ))
    a = gaps.select(
        F.col("source").alias("source_a"), "v", F.col("cw").alias("cw_a"),
        F.col("gap").alias("gap_a"),
    )
    b = gaps.select(
        F.col("source").alias("source_b"),
        F.col("v").alias("v_b"),
        F.col("cw").alias("cw_b"),
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        a.join(b, (F.col("v_b") == F.col("v")) & (F.col("source_a") < F.col("source_b")))
        .join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(
            F.max(F.abs(F.col("cw_a") * F.col("n_b") - F.col("cw_b") * F.col("n_a")))
            .cast("bigint")
            .alias("ks_num"),
            F.expr(
                "CAST(max(abs(cw_a * n_b - cw_b * n_a)) * 1000"
                " div (n_a * n_b) AS BIGINT)"
            ).alias("ks_milli"),
            F.expr(
                "CAST(sum(abs(cw_a * n_b - cw_b * n_a) * gap_a) * 1000"
                " div (n_a * n_b) AS BIGINT)"
            ).alias("emd_milli"),
        )
        .select("source_a", "source_b", "n_a", "n_b", "ks_num", "ks_milli",
                "emd_milli")
        .orderBy("source_a", "source_b")
    )
