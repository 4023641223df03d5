"""Round-8 wave (SURVEY.md §2.5 X88-X89): retrieval scoring and
embedding-label evaluation — the two query families a training-data
pipeline runs AROUND the corpus (find documents relevant to a probe
query; estimate label noise before trusting auto-labels). Absent from
the reference by design scope (it is a connector — SURVEY §0).

Scale posture:
- BM25: no corpus-wide (doc, term) shuffle anywhere. Query-term
  discovery runs over the vocab-bounded term aggregate; tf is computed
  AFTER the 3-term semi-join (filter pushed to the token explode);
  document lengths are one map-side-combined scan aggregate; the final
  ranking is TakeOrdered. Per-term score contributions are floor-scaled
  to integer micro-units BEFORE the per-doc sum, so the cross-engine
  comparison is an exact int64 sum — no FP summation-order hazard
  (the X67 scaled-integer pattern).
- 1-NN label agreement: the probe panel is a deterministic md5-rank
  reservoir (the X77 pattern — identical draw at any scale), bounded at
  64 probes, broadcast against the corpus scan; cosines run in the
  shared Arrow numpy kernel; the agreement census is a label-bounded
  aggregate. Leave-one-out 1-NN label agreement is the standard
  label-noise estimator for auto-labeled embedding corpora.
"""

from __future__ import annotations

import os

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import register

_K1, _B = 1.2, 0.75
_N_QTERMS = 3
_N_PROBES = 64


def _docs(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


@register(
    "bm25_search_topk",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS MATERIALIZED (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1
    ),
    corpus AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE)
               / CAST(count(*) AS BIGINT) AS avgdl
      FROM dl
    ),
    vocab AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cnt
      FROM toks WHERE len(term) >= 3 GROUP BY 1
    ),
    q AS (SELECT term FROM vocab ORDER BY cnt DESC, term LIMIT {_N_QTERMS}),
    tf AS (
      SELECT t.doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
      FROM toks t JOIN q USING (term) GROUP BY 1, 2
    ),
    dfq AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tf GROUP BY 1
    ),
    contrib AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln((CAST(c.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
                  / (CAST(dfq.df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf.tf AS DOUBLE) * ({_K1} + 1.0))
               / (CAST(tf.tf AS DOUBLE)
                  + {_K1} * (1.0 - {_B} + {_B} * CAST(dl.dl AS DOUBLE) / c.avgdl))
               * 1e6 + 0.5) AS BIGINT) AS micro
      FROM tf
      JOIN dfq USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN corpus c
    )
    SELECT doc_id, CAST(sum(micro) AS BIGINT) AS score_micro,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM contrib GROUP BY 1
    ORDER BY score_micro DESC, doc_id LIMIT 10
    """,
    doc="X88: BM25 retrieval — top-10 documents for a deterministic "
    "probe query (the corpus's 3 most frequent terms of length ≥ 3, "
    "ties by term) under Robertson/Sparck-Jones BM25 (k1=1.2, b=0.75, "
    "+1 idf). The retrieval primitive a curation pipeline uses for "
    "targeted quality audits and contamination lookups. Cross-engine "
    "exactness: each term's contribution — identical ln/÷ IEEE "
    "expressions on both engines — is floor-scaled to int64 "
    "MICRO-units before the per-doc sum, so ranking compares exact "
    "integers (no FP summation-order hazard; X67 pattern). Plan shape: "
    "vocab-bounded discovery agg, 3-term semi-joined tf (filter pushed "
    "into the token explode — the corpus (doc,term) matrix is never "
    "shuffled), one scan agg for lengths, broadcast scalars, "
    "TakeOrdered top-k.",
    tags=("retrieval", "text", "topk"),
)
def bm25_search_topk(spark, sf_dir):
    # NOT checkpointed: toks is the raw (doc, term) explosion — storing it
    # costs more than the split() it saves at any scale (guide §5: cache
    # only when recompute beats the memory pressure). The REDUCED doc-length
    # table below IS checkpointed: it feeds the corpus scalars and the
    # scoring join, saving one full tokenize+agg pass (r13 audit: 4
    # document scans → 3, the per-stage floor).
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    dl = materialize(
        toks.groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("dl"))
    )
    corpus = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (
            F.sum("dl").cast("bigint").cast("double")
            / F.count("*").cast("bigint")
        ).alias("avgdl"),
    )
    qterms = [
        r["term"]
        for r in (
            toks.filter(F.length("term") >= 3)
            .groupBy("term")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("term"))
            .limit(_N_QTERMS)
            .collect()
        )
    ]
    tf = (
        toks.filter(F.col("term").isin(qterms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    dfq = tf.groupBy("term").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
        + 1.0
    )
    tfd = F.col("tf").cast("double")
    contrib = idf * (tfd * (_K1 + 1.0)) / (
        tfd + _K1 * (1.0 - _B + _B * F.col("dl").cast("double") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.floor(contrib * 1e6 + 0.5).cast("bigint").alias("micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("micro").cast("bigint").alias("score_micro"),
            F.count("*").cast("bigint").alias("n_terms"),
        )
        .orderBy(F.col("score_micro").desc(), F.col("doc_id"))
        .limit(10)
    )


@register(
    "knn_label_agreement",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id, label, embedding
      FROM embeddings WHERE embedding IS NOT NULL
      ORDER BY md5('probe:' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_N_PROBES}
    ),
    scored AS (
      SELECT p.vec_id AS probe_id, p.label AS true_label,
             c.vec_id AS cand_id, c.label AS cand_label,
             round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 4)
               AS cs
      FROM probes p
      JOIN embeddings c ON c.vec_id <> p.vec_id
      WHERE c.embedding IS NOT NULL
    ),
    nn AS (
      SELECT probe_id, true_label, cand_label AS nn_label
      FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cs DESC, cand_id) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT true_label AS label,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN nn_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           floor(CAST(sum(CASE WHEN nn_label = true_label THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS agreement
    FROM nn GROUP BY 1
    """,
    doc="X89: leave-one-out 1-NN label agreement — the standard "
    "label-noise estimator for auto-labeled embedding corpora: for a "
    "deterministic 64-probe md5-rank reservoir (X77 pattern — the SAME "
    "panel at any scale/engine), find each probe's nearest OTHER vector "
    "by cosine and report per-label how often its label agrees. Low "
    "agreement for a label = noisy labels or genuine class overlap — "
    "gates whether nearest-centroid auto-labeling (X66) can be "
    "trusted. Scale shape: the probe panel is broadcast-bounded (64 "
    "rows) against one corpus scan; cosines run in the shared Arrow "
    "numpy kernel; the 1-NN re-rank window partitions by probe (64 "
    "groups); the census is label-bounded. Cosines are rounded to 4 dp "
    "before the rank with cand_id tie-break (the knn_join_topk "
    "stability pattern).",
    tags=("similarity", "knn", "labels", "quality"),
)
def knn_label_agreement(spark, sf_dir):
    from ..operators.similarity import cosine_pairs_vectorized

    emb = _emb(spark, sf_dir).filter(F.col("embedding").isNotNull())
    # TakeOrdered (orderBy+limit), NOT a global row_number window: the
    # md5-rank reservoir draw compiles to TakeOrderedAndProject — no
    # single-task global sort at any scale (X77 pattern, global form).
    probes = (
        emb.orderBy(
            F.md5(F.concat(F.lit("probe:"), F.col("vec_id").cast("string"))),
            F.col("vec_id"),
        )
        .limit(_N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("label").alias("true_label"),
            F.col("embedding").alias("p_emb"),
        )
    )
    cand = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("c_emb"),
    )
    pairs = (
        F.broadcast(probes)
        .join(cand, F.col("probe_id") != F.col("cand_id"))
        .select("probe_id", "true_label", "cand_id", "cand_label", "p_emb", "c_emb")
    )
    scored = cosine_pairs_vectorized(pairs, "p_emb", "c_emb").select(
        "probe_id", "true_label", "cand_id", "cand_label",
        F.round("cos_sim", 4).alias("cs"),
    )
    wnn = W.partitionBy("probe_id").orderBy(F.col("cs").desc(), F.col("cand_id"))
    nn = (
        scored.withColumn("rk", F.row_number().over(wnn))
        .filter(F.col("rk") == 1)
        .select("probe_id", "true_label", F.col("cand_label").alias("nn_label"))
    )
    agree = F.sum(
        F.when(F.col("nn_label") == F.col("true_label"), 1).otherwise(0)
    )
    return nn.groupBy(F.col("true_label").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_probes"),
        agree.cast("bigint").alias("n_agree"),
        (F.floor(agree.cast("double") / F.count("*") * 1e4 + 0.5) / 1e4).alias(
            "agreement"
        ),
    )


_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_TOPK = 10
_RRF_SCALE = 1_000_000  # micro-unit RRF contributions (exact integer div)


def _bm25_oracle() -> str:
    """The CERTIFIED bm25_search_topk oracle text, scoped as a subquery
    (round-8 composition rule: composed queries reuse certified oracles
    verbatim — zero drift risk)."""
    from .registry import QUERIES

    return QUERIES["bm25_search_topk"].oracle


@register(
    "hybrid_rrf_search",
    oracle=None,  # assembled below (needs the bm25 oracle registered first)
    doc="placeholder",  # replaced below
    tags=("retrieval", "fusion", "topk"),
)
def hybrid_rrf_search(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion (RRF, k=60): the
    lexical leg is the CERTIFIED BM25 top-10 (bm25_search_topk, reused
    unchanged — Σ-members cost model of X106/X108), the semantic leg is
    the exact top-10 by quantized milli-int dot product to the probe
    embedding (vec_id 0), and the fused score is
    sum(1e6 div (60 + rank)) over the legs where the doc appears —
    pure integer arithmetic, so both engines rank identical values.
    This is the standard hybrid-search shape (BM25 + dense retrieval →
    RRF) a curation pipeline uses for contamination lookups and targeted
    audits where neither lexical nor semantic recall alone suffices.

    100 TB posture: each leg is an already-certified scale plan (BM25:
    vocab-bounded discovery + semi-joined tf, no corpus (doc,term)
    shuffle; dense: one integer GEMV per Arrow batch emitting only
    batch-local top-k — the shuffle carries |batches| x k rows). The
    fusion itself joins two k-row lists — driver-bounded, broadcast
    trivially."""
    import pandas as pd
    from pyspark.sql import types as T

    from .ml_linalg import _quantize

    # ---- lexical leg: the certified BM25 plan, ranked -------------------
    lex = bm25_search_topk(spark, sf_dir).select("doc_id", "score_micro")
    # pmod(score,1) = non-foldable constant partition key (the
    # token_vocab_coverage trick): 10-row global window without the
    # single-partition planner warning
    wl = W.partitionBy(F.pmod(F.col("score_micro"), F.lit(1))).orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    lexr = lex.select(
        "doc_id", F.row_number().over(wl).cast("bigint").alias("lex_rank")
    )

    # ---- semantic leg: exact quantized-dot top-10 to vec_id 0 -----------
    import numpy as np

    qrow = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .head()
    )
    qv = _quantize(np.array([list(qrow[0])]))[0]  # (dim,) int64

    def kernel(iterator):
        for pdf in iterator:
            pdf = pdf[pdf["embedding"].notna() & (pdf["vec_id"] != 0)]
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            dots = _quantize(np.array(pdf["embedding"].to_list())) @ qv
            # batch-local top-k under the GLOBAL total order (dot desc,
            # vec_id asc) — round-8 lesson 3: np.lexsort, never a
            # reversed stable argsort
            top = np.lexsort((ids, -dots))[:_RRF_TOPK]
            yield pd.DataFrame(
                {"doc_id": ids[top], "dot": dots[top].astype(np.int64)}
            )

    sem = (
        _emb(spark, sf_dir)
        .select("vec_id", "embedding")
        .mapInPandas(
            kernel,
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("dot", T.LongType()),
                ]
            ),
        )
        .orderBy(F.col("dot").desc(), F.col("doc_id"))
        .limit(_RRF_TOPK)
    )
    ws = W.partitionBy(F.pmod(F.col("dot"), F.lit(1))).orderBy(
        F.col("dot").desc(), F.col("doc_id")
    )
    semr = sem.select(
        "doc_id", F.row_number().over(ws).cast("bigint").alias("sem_rank")
    )

    # ---- fuse ------------------------------------------------------------
    return (
        lexr.join(semr, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.expr(f"{_RRF_SCALE} div ({_RRF_K} + lex_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{_RRF_SCALE} div ({_RRF_K} + sem_rank)"), F.lit(0)
                )
            )
            .cast("bigint")
            .alias("rrf_micro"),
            "lex_rank",
            "sem_rank",
        )
        .orderBy(F.col("rrf_micro").desc(), F.col("doc_id"))
        .limit(_RRF_TOPK)
    )


def _install_hybrid_rrf_oracle() -> None:
    """Assemble the RRF oracle from the certified member texts and swap
    it into the registry entry (dataclass is frozen → rebuild)."""
    from dataclasses import replace

    from .ml_linalg import _DIM, _QUANT_SQL
    from .registry import QUERIES

    oracle = f"""
    WITH lex AS MATERIALIZED (
      SELECT doc_id, score_micro FROM ({_bm25_oracle()})
    ),
    lexr AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
                  AS BIGINT) AS lex_rank
      FROM lex
    ),
    qv AS (
      SELECT {_QUANT_SQL} AS q FROM embeddings WHERE vec_id = 0
    ),
    dots AS (
      SELECT e.vec_id AS doc_id,
             CAST(list_sum(list_transform(range(1, {_DIM + 1}),
                  k -> ev[k] * qv.q[k])) AS BIGINT) AS dot
      FROM (SELECT vec_id, {_QUANT_SQL} AS ev
            FROM embeddings
            WHERE vec_id <> 0 AND embedding IS NOT NULL) e, qv
    ),
    semr AS (
      SELECT doc_id, lex_rank AS sem_rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY dot DESC, doc_id)
                    AS BIGINT) AS lex_rank
        FROM dots
      ) WHERE lex_rank <= {_RRF_TOPK}
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           CAST(COALESCE({_RRF_SCALE} // ({_RRF_K} + l.lex_rank), 0)
              + COALESCE({_RRF_SCALE} // ({_RRF_K} + s.sem_rank), 0)
              AS BIGINT) AS rrf_micro,
           l.lex_rank AS lex_rank,
           s.sem_rank AS sem_rank
    FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
    ORDER BY rrf_micro DESC, doc_id
    LIMIT {_RRF_TOPK}
    """
    entry = QUERIES["hybrid_rrf_search"]
    QUERIES["hybrid_rrf_search"] = replace(
        entry,
        oracle=oracle,
        doc=hybrid_rrf_search.__doc__,
    )


_install_hybrid_rrf_oracle()
