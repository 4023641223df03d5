"""X106: dedup-method agreement matrix — the QA query a curation team
runs before trusting any single near-dup signal: for every pair of
methods (bigram Jaccard >= 0.5, SimHash Hamming <= 3, shared 16-token
spans, prefix truncation), how many document pairs each flags and the
Jaccard overlap of their pair SETS. High overlap means the cheaper
signal can gate the expensive one; low overlap means the methods catch
different duplication modes and must run side by side.

Built by COMPOSITION: the Spark side re-invokes the four registered
pair-producing plans (each individually hash-verified against its own
oracle) and reduces their union; the oracle embeds those same four
certified oracle texts as scoped subqueries. Nothing is re-derived, so
this query can't drift from the methods it audits.

Scale posture: each member plan is already bucketed/df-capped (their own
docstrings); the composition adds one (lo, hi) pair-census shuffle over
the UNION OF FLAGGED PAIRS (answer-sized, not corpus-sized) and a 1-row
final aggregate fanned out by stack()."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import QUERIES, register
from .rounding import stable_round_sql

_METHODS = (
    # (tag, registry entry, (col_a, col_b))
    ("jaccard", "dedup_ngram_jaccard", ("doc_a", "doc_b")),
    ("simhash", "dedup_simhash_hamming", ("doc_a", "doc_b")),
    ("spans", "dedup_common_substring", ("doc_a", "doc_b")),
    ("prefix", "prefix_truncation_dupes", ("doc_short", "doc_long")),
)


def _agreement_oracle() -> str:
    legs = []
    for tag, qname, (ca, cb) in _METHODS:
        inner = QUERIES[qname].oracle
        # no DISTINCT here: the census GROUP BY dedups, and member
        # outputs are already unique pairs — a distinct per member would
        # add one shuffle each for nothing
        legs.append(
            f"""
    {tag} AS MATERIALIZED (
      SELECT least({ca}, {cb}) AS lo, greatest({ca}, {cb}) AS hi
      FROM ({inner})
    )"""
        )
    # pair-set membership via a UNION-of-pairs census (the same shape the
    # Spark side reduces) rather than chained FULL OUTER JOINs
    unions = " UNION ALL ".join(
        f"SELECT lo, hi, '{tag}' AS m FROM {tag}" for tag, _, _ in _METHODS
    )
    maxes = ", ".join(
        f"max(CASE WHEN m = '{tag}' THEN 1 ELSE 0 END) AS f_{tag}"
        for tag, _, _ in _METHODS
    )
    sums = ", ".join(
        f"CAST(sum(f_{a}) AS BIGINT) AS n_{a}" for a, _, _ in _METHODS
    )
    both = ", ".join(
        f"CAST(sum(f_{a} * f_{b}) AS BIGINT) AS c_{a}_{b}"
        for (a, _, _), (b, _, _) in combinations(_METHODS, 2)
    )
    out_legs = " UNION ALL ".join(
        f"""
    SELECT '{a}' AS method_a, '{b}' AS method_b,
           n_{a} AS n_a, n_{b} AS n_b, c_{a}_{b} AS n_common,
           {stable_round_sql(
               f"CAST(c_{a}_{b} AS DOUBLE)"
               f" / nullif(n_{a} + n_{b} - c_{a}_{b}, 0)", 6
           )} AS pairset_jaccard
    FROM agg"""
        for (a, _, _), (b, _, _) in combinations(_METHODS, 2)
    )
    return f"""
    WITH {", ".join(legs)},
    census AS (
      SELECT lo, hi, {maxes} FROM ({unions}) GROUP BY lo, hi
    ),
    agg AS MATERIALIZED (
      SELECT {sums}, {both} FROM census
    )
    {out_legs}
    """


@register(
    "dedup_method_agreement",
    oracle=_agreement_oracle(),
    doc=__doc__,
    tags=("dedup", "quality", "evaluation", "pipeline"),
)
def dedup_method_agreement(spark, sf_dir):
    # r14 note: a shared-frame variant (one persisted (doc_id, text)
    # projection + one persisted shingle frame threaded through the
    # jaccard/spans/prefix members, census checkpointed, frames released)
    # was BUILT AND MEASURED WORSE warm on this host (isolated 5-action
    # floors: 6.29 s → 7.43 s; cold 22.4 → 16.6) — the two corpus-sized
    # cache fills plus the extra eager barriers cost more than the three
    # parquet re-scans they save, because the members' scans already ran
    # in parallel inside the one census action. Reverted per guide §1;
    # the member builders keep their optional shared-frame kwargs (used by
    # dedup_lsh_recall_eval, where sharing measured BETTER: one shingle
    # frame serves both members' tokenize-heavy pipelines).
    census = None
    for tag, qname, (ca, cb) in _METHODS:
        pairs = (
            QUERIES[qname]
            .spark(spark, sf_dir)
            .select(
                F.least(F.col(ca), F.col(cb)).alias("lo"),
                F.greatest(F.col(ca), F.col(cb)).alias("hi"),
                F.lit(tag).alias("m"),
            )
        )
        census = pairs if census is None else census.unionByName(pairs)
    flags = census.groupBy("lo", "hi").agg(
        *[
            F.max(F.when(F.col("m") == tag, 1).otherwise(0)).alias(f"f_{tag}")
            for tag, _, _ in _METHODS
        ]
    )
    aggs = [
        F.sum(f"f_{tag}").cast("bigint").alias(f"n_{tag}")
        for tag, _, _ in _METHODS
    ] + [
        F.sum(F.col(f"f_{a}") * F.col(f"f_{b}"))
        .cast("bigint")
        .alias(f"c_{a}_{b}")
        for (a, _, _), (b, _, _) in combinations(_METHODS, 2)
    ]
    row = flags.agg(*aggs)
    cells = ", ".join(
        f"'{a}', '{b}', n_{a}, n_{b}, c_{a}_{b}"
        for (a, _, _), (b, _, _) in combinations(_METHODS, 2)
    )
    n_pairs = len(list(combinations(_METHODS, 2)))
    return row.select(
        F.expr(
            f"stack({n_pairs}, {cells}) AS "
            "(method_a, method_b, n_a, n_b, n_common)"
        )
    ).select(
        "method_a",
        "method_b",
        "n_a",
        "n_b",
        "n_common",
        (
            F.floor(
                F.col("n_common").cast("double")
                / F.nullif(
                    (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                        "double"
                    ),
                    F.lit(0.0),
                )
                * 1000000
                + 0.5
            )
            / 1000000
        ).alias("pairset_jaccard"),
    )


def _lsh_recall_oracle() -> str:
    exact = QUERIES["dedup_ngram_jaccard"].oracle
    lsh = QUERIES["dedup_minhash_lsh"].oracle
    return f"""
    WITH exact AS MATERIALIZED (
      SELECT least(doc_a, doc_b) AS lo, greatest(doc_a, doc_b) AS hi
      FROM ({exact})
    ),
    lsh AS MATERIALIZED (
      SELECT least(doc_a, doc_b) AS lo, greatest(doc_a, doc_b) AS hi
      FROM ({lsh})
    ),
    agg AS (
      SELECT
        (SELECT count(*) FROM exact) AS n_exact,
        (SELECT count(*) FROM lsh) AS n_lsh,
        (SELECT count(*) FROM exact JOIN lsh USING (lo, hi)) AS n_common
    )
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_lsh AS BIGINT) AS n_lsh,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(CASE WHEN n_exact > 0
                THEN n_common * 1000000 // n_exact ELSE NULL END AS BIGINT)
             AS recall_micro,
           CAST(CASE WHEN n_lsh > 0
                THEN n_common * 1000000 // n_lsh ELSE NULL END AS BIGINT)
             AS precision_micro
    FROM agg
    """


@register(
    "dedup_lsh_recall_eval",
    oracle=_lsh_recall_oracle(),
    doc="X108: end-to-end MinHash-LSH recall/precision against the exact "
    "n-gram-Jaccard ground truth at the same threshold — THE question a "
    "100 TB user must answer before replacing the exact pass with the "
    "LSH pass (banding is probabilistic: pairs can be missed when no "
    "band agrees). Composed from the two certified plans (X2 exact "
    "selector, X3 deterministic md5-permutation MinHash), so the "
    "measurement can't drift from the operators it evaluates; the "
    "composition adds one answer-sized pair join and emits exact "
    "micro-unit integer recall/precision. Verify-stage exactness makes "
    "precision 1.0 by construction; recall is the honest banding "
    "number.",
    tags=("dedup", "evaluation", "lsh", "quality"),
)
def dedup_lsh_recall_eval(spark, sf_dir):
    from pyspark import StorageLevel

    from ..operators import dedup as D

    # Both members tokenize the SAME corpus into the SAME bigram shingle
    # frame; share ONE persisted copy across them (r14 — the r13 shape paid
    # ~3 independent tokenize passes within a single execution: the exact
    # member's stats pass + its strategy re-scan + the LSH signature pass).
    # persist (lineage kept — recompute on executor loss, no §5 truncation
    # hazard), then unpersist as soon as both member pair lists are
    # eagerly checkpointed: the returned plan reads only the checkpoints.
    from .dedup import _docs

    sh = D._shingle_table(_docs(spark, sf_dir), "text", "doc_id", 2).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    def pairs(name, **shared):
        return (
            QUERIES[name]
            .spark(spark, sf_dir, **shared)
            .select(
                F.least("doc_a", "doc_b").alias("lo"),
                F.greatest("doc_a", "doc_b").alias("hi"),
            )
        )

    try:
        exact = materialize(pairs("dedup_ngram_jaccard", shingles=sh))
        lsh = materialize(pairs("dedup_minhash_lsh", shingles=sh))
    finally:
        sh.unpersist()
    ne = exact.agg(F.count("*").cast("bigint").alias("n_exact"))
    nl = lsh.agg(F.count("*").cast("bigint").alias("n_lsh"))
    nc = (
        exact.join(lsh, ["lo", "hi"])
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    return (
        ne.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_exact",
            "n_lsh",
            "n_common",
            F.when(
                F.col("n_exact") > 0,
                F.expr("n_common * 1000000 div n_exact"),
            )
            .cast("bigint")
            .alias("recall_micro"),
            F.when(
                F.col("n_lsh") > 0,
                F.expr("n_common * 1000000 div n_lsh"),
            )
            .cast("bigint")
            .alias("precision_micro"),
        )
    )
