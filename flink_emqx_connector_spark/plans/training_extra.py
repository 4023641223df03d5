"""Fourth wave of LLM-training-pipeline operators (SURVEY.md §2.5 X27-X32).

The steps between a cleaned corpus and an accelerator batch: packing
documents into fixed token budgets, chunking long documents into
overlapping context windows, rebalancing the language/domain mix,
producing a deterministic global training order, and intra-document
repetition filtering (Gopher/C4-style quality signal). Absent from the
reference by design scope (it is a connector — SURVEY §0); each is
Spark-first, deterministic (no RNG — md5 everywhere), and oracle-checked.

Scale posture, per operator:
- packing: the greedy fold is sequential per shard, so shards are the
  parallelism unit (size to the cluster); the contiguous variant is a pure
  window-function plan for when one-doc overshoot is acceptable.
- chunking: explode of a small int sequence + JVM ``slice`` — no Python,
  no HOF lambda (NOTES.md lesson 1), output is ~n_tokens/stride rows/doc.
- mix balancing: one narrow shuffle for the rank window + a broadcast
  1-row min; never materializes per-group collections.
- global shuffle: rank over md5 keys ~ ``repartitionByRange(key)`` +
  ``sortWithinPartitions`` on the write path; the query form fingerprints
  the order so the oracle can verify it.
- repetition filter: pure column expressions over the existing shingle
  helper; single scan, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import register

_PACK_BUDGET = 512
_CHUNK = 32
_STRIDE = 24

# Shards scale with the corpus (~512 docs per shard, floor 8) instead of a
# fixed 8: shards are the packing parallelism unit, so a constant count
# means constant parallelism no matter the data (8 tasks at 100 TB), and
# the oracle's recursive-CTE replay recurses docs-per-shard deep — fixed
# shards made the sf10 oracle recurse 62,500 deep (unbounded runtime; found
# by the round-9 sf10 gate). Both engines derive the SAME count from the
# data itself: the oracle via a scalar subquery, the plan via parquet
# metadata (no Spark job).
_DOCS_PER_SHARD = 512

_DUCK_N_SHARDS = (
    f"(SELECT greatest(8, CAST(ceil(count(*) / {_DOCS_PER_SHARD}.0) AS BIGINT)) "
    "FROM documents)"
)
_DUCK_SHARD = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % "
    f"{_DUCK_N_SHARDS} AS BIGINT)"
)


def _n_shards(sf_dir: str) -> int:
    """max(8, ceil(n_docs / 512)) from parquet footer metadata — the same
    number the oracle's scalar subquery computes, without running a job.
    Dataset-aware (ADVICE r9): Spark-written corpora are DIRECTORIES of
    part files; pq.ParquetFile only opens a single file."""
    import math
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(path):
        n = pq.ParquetDataset(path).count_rows()
    else:
        n = pq.ParquetFile(path).metadata.num_rows
    return max(8, math.ceil(n / _DOCS_PER_SHARD))


def _t(spark, sf_dir, name):
    from ..session import load_table

    return load_table(spark, sf_dir, name)


@register(
    "sequence_pack_docs",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id AS doc,
             coalesce(len(string_split(text, ' ')), 0) AS t,
             {_DUCK_SHARD} AS shard
      FROM documents
    ), seq AS (
      SELECT shard, doc, t,
             row_number() OVER (PARTITION BY shard ORDER BY doc) AS rk
      FROM toks
    ), walk AS (
      SELECT shard, rk, doc, t, t AS acc, CAST(0 AS BIGINT) AS pack
      FROM seq WHERE rk = 1
      UNION ALL
      SELECT n.shard, n.rk, n.doc, n.t,
             CASE WHEN w.acc + n.t > {_PACK_BUDGET} THEN n.t
                  ELSE w.acc + n.t END,
             CASE WHEN w.acc + n.t > {_PACK_BUDGET} THEN w.pack + 1
                  ELSE w.pack END
      FROM walk w JOIN seq n ON n.shard = w.shard AND n.rk = w.rk + 1
    )
    SELECT shard, pack, count(*) AS n_docs,
           CAST(sum(t) AS BIGINT) AS pack_tokens,
           min(doc) AS min_doc, max(doc) AS max_doc
    FROM walk GROUP BY shard, pack
    """,
    doc="Greedy sequence packing into 512-token training buffers: docs are "
    "md5-sharded, ordered by id within shard, and a running accumulator "
    "starts a new pack when the next doc would overflow the budget. The "
    "fold is sequential per shard (packing is a left-fold), so shards are "
    "the parallelism unit — sized to the cluster at 100 TB, each an "
    "applyInPandas task that never sees the whole corpus. The oracle "
    "replays the same fold as a recursive CTE.",
    tags=("pipeline", "packing", "training"),
)
def sequence_pack_docs(spark, sf_dir):
    from ..operators.packing import pack_sequences_greedy

    return pack_sequences_greedy(
        _t(spark, sf_dir, "documents"),
        budget=_PACK_BUDGET,
        shards=_n_shards(sf_dir),
    )


@register(
    "sequence_pack_contiguous",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS doc,
             coalesce(len(string_split(text, ' ')), 0) AS t,
             {_DUCK_SHARD} AS shard
      FROM documents
    ), c AS (
      SELECT shard, doc, t,
             coalesce(sum(t) OVER (PARTITION BY shard ORDER BY doc
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_excl
      FROM toks
    )
    SELECT shard, CAST(cum_excl // {_PACK_BUDGET} AS BIGINT) AS pack,
           count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS pack_tokens,
           min(doc) AS min_doc, max(doc) AS max_doc
    FROM c GROUP BY 1, 2
    """,
    doc="Contiguous (window-function) sequence packing: pack id = "
    "floor(exclusive running token sum / budget) over the same "
    "shard+order as the greedy packer. Packs may overshoot by at most "
    "one document; in exchange the whole plan is one window over one "
    "shuffle — no Python anywhere — which is the cheaper shape when mild "
    "overshoot is acceptable (labels are masked at pack boundaries "
    "anyway in most training setups).",
    tags=("pipeline", "packing", "training"),
)
def sequence_pack_contiguous(spark, sf_dir):
    from ..operators.packing import shard_of

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"),
        F.coalesce(F.size(F.split("text", " ")), F.lit(0)).alias("t"),
        shard_of(F.col("doc_id"), _n_shards(sf_dir)).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("t").over(w), F.lit(0))
    return (
        d.withColumn("pack", F.floor(cum_excl / F.lit(_PACK_BUDGET)))
        .groupBy("shard", "pack")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("t").cast("bigint").alias("pack_tokens"),
            F.min("doc").alias("min_doc"),
            F.max("doc").alias("max_doc"),
        )
    )


@register(
    "chunk_docs_overlap",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE text IS NOT NULL
    ), s AS (
      SELECT doc_id, w, unnest(range(1, len(w) + 1, {_STRIDE})) AS start
      FROM w
    )
    SELECT doc_id,
           CAST((start - 1) // {_STRIDE} AS BIGINT) AS chunk_id,
           CAST(len(list_slice(w, start, least(start + {_CHUNK} - 1, len(w))))
                AS BIGINT) AS chunk_tokens,
           md5(array_to_string(
               list_slice(w, start, least(start + {_CHUNK} - 1, len(w))), ' '))
             AS chunk_fp
    FROM s
    """,
    doc="Overlapping context-window chunking (32-token windows, stride 24): "
    "chunk starts come from an exploded int sequence and each chunk is a "
    "JVM ``slice`` of the split-once word array — built-ins only, no HOF "
    "lambda with indexed access (NOTES.md lesson 1). Output is "
    "~n_tokens/stride rows per doc with a content fingerprint per chunk; "
    "at 100 TB this is a single scan + explode with no shuffle at all.",
    tags=("pipeline", "chunking", "training"),
)
def chunk_docs_overlap(spark, sf_dir):
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("w"))
    )
    ex = d.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(1), F.size("w"), F.lit(_STRIDE))).alias("start"),
    )
    chunk = F.slice(F.col("w"), F.col("start"), F.lit(_CHUNK))
    return ex.select(
        "doc_id",
        ((F.col("start") - 1) / F.lit(_STRIDE)).cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("chunk_tokens"),
        F.md5(F.encode(F.concat_ws(" ", chunk), "UTF-8")).alias("chunk_fp"),
    )


@register(
    "balance_lang_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL
    ), c AS (
      SELECT lang, count(*) AS n FROM d GROUP BY lang
    ), k AS (
      SELECT min(n) AS k FROM c
    ), r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                 ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM d
    )
    SELECT lang, count(*) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM r CROSS JOIN k WHERE rk <= k GROUP BY lang
    """,
    doc="Language-mix rebalancing: every language downsampled to the "
    "smallest language's count, selection by rank over a seeded md5 of "
    "the doc id — deterministic, reproducible, and auditable (no RNG, "
    "unlike df.sample). One narrow shuffle for the rank window; the "
    "per-group quota is a broadcast 1-row aggregate, so nothing here "
    "grows with corpus size except the rank shuffle itself. The same "
    "shape handles arbitrary target mixes (weights per group) by scaling "
    "the quota expression.",
    tags=("pipeline", "sampling", "training"),
)
def balance_lang_sample(spark, sf_dir):
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull())
        .select("doc_id", "lang")
    )
    kmin = d.groupBy("lang").agg(F.count("*").alias("n")).agg(
        F.min("n").alias("k")
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
    )
    return (
        d.withColumn("rk", rk)
        .crossJoin(F.broadcast(kmin))
        .filter(F.col("rk") <= F.col("k"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("sum_doc"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@register(
    "global_shuffle_docs",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS key
      FROM documents
    ), sharded AS (
      SELECT doc_id, key,
             CAST(('0x' || substr(key, 1, 4))::UBIGINT % 8 AS BIGINT) AS shard
      FROM keyed
    ), pos AS (
      SELECT shard, doc_id,
             row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) AS p
      FROM sharded
    )
    SELECT shard, count(*) AS n_docs,
           max(CASE WHEN p = 1 THEN doc_id END) AS doc_p1,
           max(CASE WHEN p = 2 THEN doc_id END) AS doc_p2,
           max(CASE WHEN p = 3 THEN doc_id END) AS doc_p3,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc
    FROM pos GROUP BY shard
    """,
    doc="Deterministic global training-order shuffle: order = seeded md5 of "
    "the doc id, sharded by key prefix. At 100 TB the write path is "
    "``repartitionByRange(key)`` + ``sortWithinPartitions(key)`` (a "
    "range-partitioned sort, no single-point sort); the query form "
    "fingerprints the resulting order (head-of-shard docs + per-shard "
    "counts) so the oracle can verify the exact permutation.",
    tags=("pipeline", "shuffle", "training"),
)
def global_shuffle_docs(spark, sf_dir):
    key = F.md5(F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string")))
    d = _t(spark, sf_dir, "documents").select(F.col("doc_id"), key.alias("key"))
    shard = F.conv(F.substring("key", 1, 4), 16, 10).cast("bigint") % 8
    p = F.row_number().over(
        Window.partitionBy("shard").orderBy("key", "doc_id")
    )
    return (
        d.withColumn("shard", shard)
        .withColumn("p", p)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.max(F.when(F.col("p") == 1, F.col("doc_id"))).alias("doc_p1"),
            F.max(F.when(F.col("p") == 2, F.col("doc_id"))).alias("doc_p2"),
            F.max(F.when(F.col("p") == 3, F.col("doc_id"))).alias("doc_p3"),
            F.sum("doc_id").cast("bigint").alias("sum_doc"),
        )
    )


@register(
    "repetition_filter_docs",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             list_distinct(list_transform(
                 range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' '
                      || string_split(text, ' ')[i+1])) AS bg
      FROM documents WHERE text IS NOT NULL
    ), m AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
             CASE WHEN len(w) > 1
                  THEN round(1 - CAST(len(bg) AS DOUBLE) / (len(w) - 1), 4)
                  ELSE 0.0 END AS dup_bigram_ratio,
             CASE WHEN len(w) > 0
                  THEN round(1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 4)
                  ELSE 0.0 END AS dup_word_ratio
      FROM t
    )
    SELECT doc_id, n_words, dup_bigram_ratio, dup_word_ratio,
           dup_bigram_ratio <= 0.2 AS keep
    FROM m
    """,
    doc="Intra-document repetition filter (Gopher/C4-style quality signal): "
    "duplicate-bigram and duplicate-word fractions per document, with a "
    "keep flag at the 20% duplicate-bigram threshold. Pure column "
    "expressions over the shared shingle helper (zip_with over shifted "
    "slices — no HOF indexed access); single scan, no shuffle, and the "
    "filter composes with the cross-document dedup family (this catches "
    "boilerplate/spam WITHIN a doc that near-dup pair mining cannot).",
    tags=("pipeline", "quality", "text"),
)
def repetition_filter_docs(spark, sf_dir):
    from ..operators.dedup import word_ngrams

    w = F.split("text", " ")
    n = F.size(w)
    dup_bg = F.when(
        n > 1,
        F.round(1 - F.size(word_ngrams(F.col("text"), 2)) / (n - 1), 4),
    ).otherwise(F.lit(0.0))
    dup_w = F.when(
        n > 0, F.round(1 - F.size(F.array_distinct(w)) / n, 4)
    ).otherwise(F.lit(0.0))
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            n.cast("bigint").alias("n_words"),
            dup_bg.alias("dup_bigram_ratio"),
            dup_w.alias("dup_word_ratio"),
        )
        .withColumn("keep", F.col("dup_bigram_ratio") <= 0.2)
    )


@register(
    "temperature_resample_sources",
    oracle="""
    WITH counts AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(n) AS DOUBLE) AS total FROM counts
    ), weighted AS (
      SELECT source, n, total, pow(n / total, 0.5) AS w
      FROM counts CROSS JOIN tot
    ), norm AS (
      SELECT CAST(sum(w) AS DOUBLE) AS z FROM weighted
    ), rates AS (
      SELECT source, n,
             least(1.0, (total * w / z) / n) AS keep_rate,
             CAST(floor(least(1.0, (total * w / z) / n) * n + 0.5) AS BIGINT)
               AS quota
      FROM weighted CROSS JOIN norm
    ), ranked AS (
      SELECT d.source, d.doc_id,
             row_number() OVER (PARTITION BY d.source
                 ORDER BY md5('temp42:' || CAST(d.doc_id AS VARCHAR)),
                          d.doc_id) AS rk
      FROM documents d
    )
    SELECT r.source, max(rt.n) AS n_docs, max(rt.quota) AS quota,
           count(*) FILTER (WHERE rk <= quota) AS n_kept,
           round(max(rt.keep_rate), 4) AS keep_rate
    FROM ranked r JOIN rates rt ON r.source = rt.source
    GROUP BY r.source
    ORDER BY r.source
    """,
    doc="Temperature-based source rebalancing (the multilingual-training "
    "upsampling law with alpha = 0.5): sampling weights q_s are "
    "proportional to p_s^alpha, flattening the source distribution so "
    "over-represented feeds shrink while rare feeds keep everything "
    "(rate capped at 1 — the duplication-free downsample form). "
    "Selection is a deterministic seeded-md5 rank within each source "
    "against the source's quota — reproducible and auditable, no RNG, "
    "same posture as X18/X30. The per-source histogram is one "
    "map-side-combined shuffle; the 20-row rate table broadcasts; the "
    "rank window partitions by source. At 100 TB the histogram and "
    "rate table are metadata-sized regardless of corpus size.",
    tags=("pipeline", "sampling", "training"),
)
def temperature_resample_sources(spark, sf_dir):
    alpha = 0.5
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    # The |sources|-row histogram feeds three consumers (tot, weighted,
    # norm); Spark does not share common subtrees, so without the checkpoint,
    # the corpus scan + census shuffle ran THREE times in the
    # final plan (r13 audit: 5 parquet scans → 2).
    counts = materialize(
        d.groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("double").alias("total"))
    weighted = counts.crossJoin(F.broadcast(tot)).withColumn(
        "w", F.pow(F.col("n") / F.col("total"), F.lit(alpha))
    )
    norm = weighted.agg(F.sum("w").alias("z"))
    keep_rate = F.least(
        F.lit(1.0), (F.col("total") * F.col("w") / F.col("z")) / F.col("n")
    )
    rates = (
        weighted.crossJoin(F.broadcast(norm))
        .withColumn("keep_rate", keep_rate)
        .withColumn(
            "quota",
            F.floor(F.col("keep_rate") * F.col("n") + F.lit(0.5)).cast("bigint"),
        )
        .select("source", "n", "keep_rate", "quota")
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.concat(F.lit("temp42:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
    )
    return (
        d.withColumn("rk", rk)
        .join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.max("quota").alias("quota"),
            F.count(F.when(F.col("rk") <= F.col("quota"), 1)).alias("n_kept"),
            F.round(F.max("keep_rate"), 4).alias("keep_rate"),
        )
        .orderBy("source")
    )


@register(
    "weighted_sample_docs",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ('0x' || substr(md5('ws42:' || CAST(doc_id AS VARCHAR)), 1, 13))
               ::UBIGINT / 4503599627370496.0 AS u
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_chars,
             pow(u, 1.0 / n_chars) AS key,
             row_number() OVER (ORDER BY pow(u, 1.0 / n_chars) DESC, doc_id)
               AS rk
      FROM keyed WHERE n_chars > 0
    )
    SELECT count(*) AS n_sampled,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           round(avg(n_chars), 2) AS avg_chars
    FROM ranked WHERE rk <= 100
    """,
    doc="Weighted sampling without replacement (Efraimidis-Spirakis A-ES): "
    "each doc draws key = u^(1/w) with u a DETERMINISTIC md5-derived "
    "uniform and w its weight (n_chars — longer docs more likely); the "
    "global top-k by key is an exact weighted sample without "
    "replacement. Reproducible and auditable like X18/X30/X42 (no RNG "
    "state), and one-pass distributed: the top-k is TakeOrdered, no "
    "shuffle of the corpus. The oracle replays the identical key "
    "formula; the aggregate fingerprints the selected set. (Verified: "
    "sampled avg_chars 360 vs corpus 298 at sf0.01 — the weighting bites.)",
    tags=("pipeline", "sampling", "training"),
)
def weighted_sample_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    # 13 hex chars = 52 bits -> exact double in [0, 1); both engines
    # compute the same u bit-for-bit
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws42:"), F.col("doc_id").cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("double") / F.lit(4503599627370496.0)
    key = F.pow(u, 1.0 / F.col("n_chars"))
    sampled = (
        d.select("doc_id", "n_chars", key.alias("key"))
        .orderBy(F.col("key").desc(), "doc_id")
        .limit(100)
    )
    return sampled.agg(
        F.count("*").alias("n_sampled"),
        F.sum("doc_id").cast("bigint").alias("sum_doc"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


_BUDGET_DENOM = 2  # select under a budget of half the corpus tokens


@register(
    "token_budget_selection",
    oracle=f"""
    WITH st AS MATERIALIZED (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST((1000 * len(list_distinct(string_split(text, ' '))))
                  // len(string_split(text, ' ')) AS BIGINT) AS ttr_milli
      FROM documents
    ),
    budget AS (
      SELECT CAST(sum(n_tok) AS BIGINT) // {_BUDGET_DENOM} AS b FROM st
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (ORDER BY ttr_milli DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM st
    )
    SELECT source,
           CAST(count(*) FILTER (WHERE cum <= b) AS BIGINT) AS n_kept,
           CAST(COALESCE(sum(n_tok) FILTER (WHERE cum <= b), 0)
                AS BIGINT) AS tokens_kept,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens_total
    FROM c, budget
    GROUP BY source
    ORDER BY source
    """,
    doc="Budget-capped greedy data selection (the data-selection "
    "operator for training under a token budget): rank every document "
    "by value density — milli-unit type-token ratio, exact integer "
    "div — and keep the maximal PREFIX of the (ttr desc, doc_id) order "
    "whose running token total fits the budget (half the corpus tokens, "
    "derived from the data identically in both engines via a scalar "
    "aggregate). Output is the per-source kept/total census an ablation "
    "dashboard reads. SCALE SHAPE (the point of this entry): the global "
    "running sum is NOT a single-partition window — scores live in a "
    "bounded integer domain (0..1000), so the plan computes per-band "
    "token subtotals (tiny agg), takes the exclusive prefix over the "
    "<=1001 bands (broadcast), and runs the in-band cumulative window "
    "partitioned BY band: two-phase range-partitioned prefix sum, the "
    "same decomposition a 1000-executor sort-based selection would use. "
    "The oracle replays it as one plain window (oracle scales are "
    "DuckDB-sized). No floats anywhere.",
    tags=("pipeline", "training", "selection", "budget"),
)
def token_budget_selection(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # Tokenize ONCE: the 32-byte (doc_id, source, n_tok, ttr) proxy rows
    # feed three consumers (budget, band subtotals, in-band window);
    # without the checkpoint the final plan re-ran split()+
    # array_distinct() over the full text column three times (r13 audit:
    # 3 parquet text scans → 1; guide §8 — compute the heavy derivation
    # once, decide on the lightweight proxy).
    st = materialize(docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_tok"),
        (
            F.expr(
                "CAST(1000 * size(array_distinct(split(text, ' '))) AS BIGINT)"
                " div size(split(text, ' '))"
            )
        ).alias("ttr_milli"),
    ))
    # phase 1: per-band token subtotals (band = exact milli-TTR value;
    # bounded domain 0..1000 regardless of corpus size)
    band = st.groupBy("ttr_milli").agg(
        F.sum("n_tok").cast("bigint").alias("band_tok")
    )
    # exclusive prefix over the bands in global order (<=1001 rows; pmod
    # trick = non-foldable constant partition key, no planner warning)
    wb = (
        Window.partitionBy(F.pmod(F.col("ttr_milli"), F.lit(1)))
        .orderBy(F.col("ttr_milli").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = band.select(
        "ttr_milli",
        F.coalesce(F.sum("band_tok").over(wb), F.lit(0))
        .cast("bigint")
        .alias("band_offset"),
    )
    # phase 2: in-band cumulative sum, partitioned by band — the global
    # running total is band_offset + in-band prefix (identical to the
    # oracle's single window because doc_id is the in-band order)
    win = (
        Window.partitionBy("ttr_milli")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # integer div, never (sum/2).cast: double division rounds to nearest
    # BEFORE the cast truncates (round-8 lesson 1 — off-by-one at ~1e11+)
    budget = st.agg(
        F.expr(f"CAST(sum(n_tok) AS BIGINT) div {_BUDGET_DENOM}").alias("b")
    )
    cum = (
        st.join(F.broadcast(offs), "ttr_milli")
        .select(
            "source",
            "n_tok",
            (F.col("band_offset") + F.sum("n_tok").over(win))
            .cast("bigint")
            .alias("cum"),
        )
        .crossJoin(F.broadcast(budget))
    )
    kept = F.sum(F.when(F.col("cum") <= F.col("b"), 1).otherwise(0))
    kept_tok = F.sum(
        F.when(F.col("cum") <= F.col("b"), F.col("n_tok")).otherwise(F.lit(0))
    )
    return (
        cum.groupBy("source")
        .agg(
            kept.cast("bigint").alias("n_kept"),
            kept_tok.cast("bigint").alias("tokens_kept"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens_total"),
        )
        .orderBy("source")
    )
