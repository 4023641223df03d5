"""Round-8 deterministic-sketch wave (SURVEY.md §2.5 X111-X113):
count-min heavy hitters, Bloom-filter membership, and manual HyperLogLog
registers. Sketches ARE the 100 TB toolkit — bounded-memory summaries
whose size is independent of the data — but engine-native sketch values
(Spark's HLL, DataSketches) are implementation-specific and can never
hash-match an oracle (the approx_aggregates lesson). This wave builds
the classic sketches FROM SCRATCH on md5-derived hashes, so every
register, bucket, and bit is replayed bit-identically by the DuckDB
oracle: the sketch MATH gets the same exact cross-engine verification
as any exact query, and the error behavior (CMS overestimate bound,
Bloom FPR, HLL harmonic sum) becomes a gated measurement instead of a
citation.

Scale posture, per operator:
- count-min: the token stream reduces to a (row, bucket) census of
  d x w = 4 x 1024 cells with map-side combine — the shuffle carries
  at most 4 096 rows per partition no matter the corpus; probes join
  the tiny sketch by bucket. Overestimate >= 0 by construction is
  asserted as an output column.
- Bloom: the bit set is <= m = 2^16 distinct bit positions (one
  distinct-shuffle of the build side's k x |keys| positions); the probe
  side semi-joins the bit table and a key is positive iff all k of its
  positions hit. Zero false negatives is an output column the oracle
  must agree is 0.
- HLL: one groupBy over 2^b registers taking max(rho); the harmonic
  sum Σ 2^(W-M_j) is a sum of dyadic rationals — held as an exact
  scaled int64, so the register state and sum are hash-exact; the
  raw-estimate double derives from them with a pinned expression shape
  (identical literals and operation order on both engines).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import register

_CMS_D = 4  # count-min depth (hash rows)
_CMS_W = 1024  # count-min width (buckets per row)
_CMS_TOPK = 20

_BLOOM_M = 1 << 16  # bloom bits
_BLOOM_K = 4  # hashes per key

_HLL_B = 8  # register-index bits -> m = 256 registers
_HLL_M = 1 << _HLL_B
_HLL_W = 44  # suffix width used for rho (fits bigint arithmetic)
_HLL_ALPHA = 0.7182725932495458  # alpha_256 = 0.7213/(1 + 1.079/256)


def _t(spark, sf_dir, name):
    from ..session import load_table

    return load_table(spark, sf_dir, name)


def _h32(col, salt: str):
    """32-bit md5-derived hash of a string column (engine-portable)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 8), 16, 10
    ).cast("bigint")


def _h32_sql(expr: str, salt: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}' || ({expr})), 1, 8)) AS UBIGINT)"
    )


@register(
    "heavy_hitters_cms",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL
    ), exact AS (
      SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY tok
    ), cells AS (
      SELECT r.range AS row_id,
             {_h32_sql("tok", "cms'||r.range||':")} % {_CMS_W} AS bucket,
             count(*) AS cnt
      FROM toks, range({_CMS_D}) r
      GROUP BY 1, 2
    ), probes AS (
      SELECT tok, exact_cnt,
             row_number() OVER (ORDER BY exact_cnt DESC, tok) AS rk
      FROM exact
    ), est AS (
      SELECT p.tok, p.exact_cnt, p.rk,
             min(c.cnt) AS cms_cnt
      FROM probes p
      JOIN cells c
        ON c.bucket = {_h32_sql("p.tok", "cms'||c.row_id||':")} % {_CMS_W}
      WHERE p.rk <= {_CMS_TOPK}
      GROUP BY 1, 2, 3
    )
    SELECT tok, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cms_cnt AS BIGINT) AS cms_cnt,
           CAST(cms_cnt - exact_cnt AS BIGINT) AS overestimate,
           CAST(rk AS BIGINT) AS rk
    FROM est
    """,
    doc="X111: count-min-sketch heavy hitters — a d={d} x w={w} CMS over "
    "the token stream, then the top-{k} exact tokens probed against it: "
    "per token the exact count, the CMS estimate (min over the d rows), "
    "and the overestimate, which is >= 0 BY CONSTRUCTION (CMS never "
    "undercounts) — the oracle hash-match proves the sketch math, and "
    "the overestimate column IS the measured error the epsilon-N bound "
    "promises. The sketch build is a {d}x{w}-cell census with map-side "
    "combine: the shuffle carries <= {cells} rows per partition "
    "regardless of corpus size — the whole point of a sketch at "
    "100 TB. Hashes are salted md5 (engine-portable), so DuckDB "
    "replays every cell.".format(
        d=_CMS_D, w=_CMS_W, k=_CMS_TOPK, cells=_CMS_D * _CMS_W
    ),
    tags=("sketch", "count-min", "approx", "text"),
)
def heavy_hitters_cms(spark, sf_dir):
    toks = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_cnt"))
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(_CMS_D)])
    ).alias("row_id")
    cells = (
        toks.select("tok", rows)
        .select(
            "row_id",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("cms"),
                                F.col("row_id").cast("string"),
                                F.lit(":"),
                                F.col("tok"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(_CMS_W),
            ).alias("bucket"),
        )
        .groupBy("row_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    probes = exact.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("exact_cnt").desc(), "tok")
        ),
    ).filter(F.col("rk") <= _CMS_TOPK)
    probe_cells = probes.select(
        "tok",
        "exact_cnt",
        "rk",
        F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("row_id"),
    ).withColumn(
        "bucket",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("cms"),
                            F.col("row_id").cast("string"),
                            F.lit(":"),
                            F.col("tok"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(_CMS_W),
        ),
    )
    est = (
        probe_cells.join(F.broadcast(cells), ["row_id", "bucket"])
        .groupBy("tok", "exact_cnt", "rk")
        .agg(F.min("cnt").alias("cms_cnt"))
    )
    return est.select(
        "tok",
        F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
        F.col("cms_cnt").cast("bigint").alias("cms_cnt"),
        (F.col("cms_cnt") - F.col("exact_cnt")).cast("bigint").alias(
            "overestimate"
        ),
        F.col("rk").cast("bigint").alias("rk"),
    )


def _bloom_pos_sql(expr: str, i: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('bloom' || {i} || ':' "
        f"|| ({expr})), 1, 8)) AS UBIGINT) % {_BLOOM_M}"
    )


@register(
    "bloom_membership_eval",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT o_custkey AS k FROM orders
    ), bits AS (
      SELECT DISTINCT {_bloom_pos_sql("b.k", "h.range")} AS bit
      FROM build b, range({_BLOOM_K}) h
    ), pk AS (
      SELECT c_custkey AS k FROM customer
      UNION ALL
      SELECT c_custkey + 100000000 AS k FROM customer
    ), probes AS (
      SELECT pk.k,
             CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END AS is_member
      FROM pk LEFT JOIN build b ON b.k = pk.k
    ), hits AS (
      SELECT p.k, p.is_member, count(bits.bit) AS n_hits
      FROM probes p CROSS JOIN range({_BLOOM_K}) h
      LEFT JOIN bits ON bits.bit = {_bloom_pos_sql("p.k", "h.range")}
      GROUP BY 1, 2
    ), flags AS (
      SELECT k, is_member,
             CASE WHEN n_hits = {_BLOOM_K} THEN 1 ELSE 0 END AS positive
      FROM hits
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(is_member) AS BIGINT) AS n_true_members,
           CAST(sum(positive) AS BIGINT) AS n_positives,
           CAST(sum(CASE WHEN positive = 1 AND is_member = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN positive = 0 AND is_member = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
           CAST(CASE WHEN count(*) - sum(is_member) > 0 THEN
             sum(CASE WHEN positive = 1 AND is_member = 0 THEN 1 ELSE 0 END)
             * 1000000 // (count(*) - sum(is_member)) ELSE 0 END AS BIGINT)
             AS fpr_micro
    FROM flags
    """,
    doc="X112: Bloom-filter membership evaluation — an m=2^16-bit, "
    "k={k}-hash Bloom filter built over the order-placing customer keys "
    "and probed with every customer: true members, positives, false "
    "positives, false NEGATIVES (must be 0 — a Bloom filter's one hard "
    "guarantee, here an output column the oracle must agree on), and "
    "the measured FPR in exact micro-units. This is the explicit-"
    "operator twin of the runtime bloom join (X105): the bit set is a "
    "<= m-row distinct table, probes semi-join it by bit position, and "
    "a key is positive iff all k positions hit — at 100 TB the bit "
    "table is metadata-sized and broadcastable while the probe side "
    "streams. Salted-md5 bit positions make every bit replayable in "
    "SQL.".format(k=_BLOOM_K),
    tags=("sketch", "bloom", "approx", "join"),
)
def bloom_membership_eval(spark, sf_dir):
    build = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    hs = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("h")

    def pos(key_col):
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("bloom"),
                            F.col("h").cast("string"),
                            F.lit(":"),
                            key_col.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(_BLOOM_M),
        )

    bits = (
        build.select("k", hs)
        .select(pos(F.col("k")).alias("bit"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cust = _t(spark, sf_dir, "customer")
    # probe half members (all customers), half guaranteed non-members
    # (shifted key domain — the "fresh ingest not yet indexed" case the
    # FPR measurement needs; with only in-domain probes almost every key
    # is a member and the FPR has no denominator)
    pk = cust.select(F.col("c_custkey").alias("k")).unionByName(
        cust.select((F.col("c_custkey") + 100000000).alias("k"))
    )
    probes = pk.join(build.withColumn("is_m", F.lit(1)), "k", "left").select(
        "k", F.coalesce("is_m", F.lit(0)).alias("is_member")
    )
    hits = (
        probes.select("k", "is_member", hs)
        .withColumn("bit", pos(F.col("k")))
        .join(F.broadcast(bits), "bit", "left")
        .groupBy("k", "is_member")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"))
        .withColumn(
            "positive", (F.col("n_hits") == _BLOOM_K).cast("int")
        )
    )
    fp = F.sum(
        ((F.col("positive") == 1) & (F.col("is_member") == 0)).cast("bigint")
    )
    nonmem = F.count("*") - F.sum("is_member")
    return hits.agg(
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum("is_member").cast("bigint").alias("n_true_members"),
        F.sum("positive").cast("bigint").alias("n_positives"),
        fp.cast("bigint").alias("n_false_pos"),
        F.sum(
            ((F.col("positive") == 0) & (F.col("is_member") == 1)).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("n_false_neg"),
        F.when(nonmem > 0, F.expr(
            f"sum(CASE WHEN positive = 1 AND is_member = 0 THEN 1 ELSE 0 END)"
            f" * 1000000 div (count(*) - sum(is_member))"
        ))
        .otherwise(0)
        .cast("bigint")
        .alias("fpr_micro"),
    )


@register(
    "hll_manual_registers",
    oracle=f"""
    WITH ids AS (
      SELECT DISTINCT user_id FROM events
    ), h AS (
      SELECT CAST(('0x' || substr(md5('hll:' || user_id), 1, 13))
                  AS UBIGINT) AS hv
      FROM ids
    ), reg AS (
      SELECT CAST(hv % {_HLL_M} AS BIGINT) AS j,
             CAST(hv // {_HLL_M} AS BIGINT) AS w
      FROM h
    ), rho AS (
      SELECT j,
             max(CASE WHEN w = 0 THEN {_HLL_W + 1}
                 ELSE {_HLL_W} - length(bin(w)) + 1 END) AS m_j
      FROM reg GROUP BY j
    ), state AS (
      SELECT CAST(count(*) AS BIGINT) AS m_used,
             CAST(sum(CAST(1 AS BIGINT) << ({_HLL_W} - m_j)) AS BIGINT)
               AS harm_scaled
      FROM rho
    )
    SELECT m_used,
           CAST({_HLL_M} - m_used AS BIGINT) AS n_zero_registers,
           harm_scaled,
           (SELECT CAST(count(*) AS BIGINT) FROM ids) AS exact_distinct,
           CAST(floor(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M}
                * CAST(CAST(1 AS BIGINT) << {_HLL_W} AS DOUBLE)
                / (harm_scaled
                   + CAST({_HLL_M} - m_used AS BIGINT)
                     * (CAST(1 AS BIGINT) << {_HLL_W}))) AS BIGINT)
             AS raw_estimate
    FROM state
    """,
    doc="X113: manual HyperLogLog registers — the HLL state itself "
    "(m={m} registers, max leading-zero rank per register, harmonic "
    "sum) built from scratch on a salted-md5 {w}+{b}-bit hash, so "
    "unlike engine-native HLL (approx_aggregates, rows-only by design) "
    "EVERY register and the harmonic sum are integers the oracle "
    "replays bit-identically: the sketch state is hash-verified, not "
    "just its estimate. The harmonic sum of 2^-M_j terms is held as an "
    "exact scaled int64 (dyadic rationals — associative, order-free); "
    "the raw Flajolet estimate derives from it with a pinned "
    "expression. rho uses bin(w) string length — integer-exact on both "
    "engines, no log2 float hazard. One groupBy over m registers; the "
    "register table is sketch-sized (m rows) at any corpus size, which "
    "is the entire value of HLL at 100 TB. (Low-range linear-counting "
    "correction is documented, not applied: ln() differs in ulps "
    "across engines; zero-register count is emitted for the caller.)",
    tags=("sketch", "hll", "approx", "distinct"),
)
def hll_manual_registers(spark, sf_dir):
    ids = _t(spark, sf_dir, "events").select("user_id").distinct()
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    reg = ids.select(
        F.pmod(hv, F.lit(_HLL_M)).alias("j"),
        F.expr(
            f"CAST(conv(substr(md5('hll:' || CAST(user_id AS STRING)),"
            f" 1, 13), 16, 10) AS BIGINT) div {_HLL_M}"
        ).alias("w"),
    )
    rho = (
        reg.withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(_HLL_W + 1)).otherwise(
                F.lit(_HLL_W) - F.length(F.bin("w")) + 1
            ),
        )
        .groupBy("j")
        .agg(F.max("rho").alias("m_j"))
    )
    pow2 = 1 << _HLL_W
    state = rho.agg(
        F.count("*").cast("bigint").alias("m_used"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_W} - m_j)"))
        .cast("bigint")
        .alias("harm_scaled"),
    )
    exact = ids.agg(F.count("*").cast("bigint").alias("exact_distinct"))
    return (
        state.crossJoin(F.broadcast(exact))
        .select(
            "m_used",
            (F.lit(_HLL_M) - F.col("m_used")).cast("bigint").alias(
                "n_zero_registers"
            ),
            "harm_scaled",
            "exact_distinct",
            F.floor(
                F.lit(_HLL_ALPHA)
                * _HLL_M
                * _HLL_M
                * F.lit(float(pow2))
                / (
                    F.col("harm_scaled")
                    + (F.lit(_HLL_M) - F.col("m_used")) * F.lit(pow2)
                )
            )
            .cast("bigint")
            .alias("raw_estimate"),
        )
    )


_F2_D = 4  # sketch rows for the join-size / F2 estimator
_F2_W = 1024


@register(
    "join_size_cms_estimate",
    oracle=f"""
    WITH ks AS (
      SELECT CAST(user_id AS VARCHAR) AS k FROM events
    ), cells AS (
      SELECT r.range AS row_id,
             {_h32_sql("k", "f2'||r.range||':")} % {_F2_W} AS bucket,
             count(*) AS cnt
      FROM ks, range({_F2_D}) r
      GROUP BY 1, 2
    ), re AS (
      SELECT row_id, CAST(sum(cnt * cnt) AS BIGINT) AS est_f2
      FROM cells GROUP BY 1
    ), ex AS (
      SELECT CAST(sum(n * n) AS BIGINT) AS exact_f2
      FROM (SELECT count(*) AS n FROM ks GROUP BY k)
    )
    SELECT CAST(row_id AS BIGINT) AS row_id,
           est_f2,
           exact_f2,
           CAST(est_f2 - exact_f2 AS BIGINT) AS overestimate,
           CAST((est_f2 - exact_f2) * 1000 // exact_f2 AS BIGINT)
             AS rel_err_milli
    FROM re, ex ORDER BY row_id
    """,
    doc="Sketch-based join-size estimation (the optimizer-statistics "
    "story): the self-join cardinality on a key — |R ⋈ R on user_id| = "
    "Σ n_k², the F2 moment that decides broadcast-vs-shuffle and "
    "flags skew BEFORE running the join — estimated as the CMS "
    "inner product Σ_b cell_b² per hash row (AGMS/count-min theory: "
    "collisions only ADD, so every row's estimate ≥ exact, asserted as "
    "the overestimate column; expected excess ≤ F1²/w). One "
    "{d}x{w}-cell census with map-side combine (shuffle ≤ {cells} rows "
    "per partition at ANY corpus size) vs the exact per-key census — "
    "the oracle replays every cell, so the sketch MATH is hash-verified "
    "like an exact query. rel_err is milli-units: the margin keeps "
    "(est-exact)*1000 inside int64 for corpora to ~1e8 rows (ANSI "
    "overflow would throw, not corrupt).".format(
        d=_F2_D, w=_F2_W, cells=_F2_D * _F2_W
    ),
    tags=("sketch", "count-min", "join", "skew", "approx"),
)
def join_size_cms_estimate(spark, sf_dir):
    ks = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    cells = (
        ks.select(
            "k",
            F.explode(F.array(*[F.lit(i) for i in range(_F2_D)])).alias(
                "row_id"
            ),
        )
        .select(
            "row_id",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("f2"),
                                F.col("row_id").cast("string"),
                                F.lit(":"),
                                F.col("k"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(_F2_W),
            ).alias("bucket"),
        )
        .groupBy("row_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    re = cells.groupBy("row_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("est_f2")
    )
    ex = (
        ks.groupBy("k")
        .agg(F.count("*").alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).cast("bigint").alias("exact_f2"))
    )
    return (
        re.crossJoin(F.broadcast(ex))
        .select(
            F.col("row_id").cast("bigint").alias("row_id"),
            "est_f2",
            "exact_f2",
            (F.col("est_f2") - F.col("exact_f2"))
            .cast("bigint")
            .alias("overestimate"),
            F.expr("(est_f2 - exact_f2) * 1000 div exact_f2")
            .cast("bigint")
            .alias("rel_err_milli"),
        )
        .orderBy("row_id")
    )


@register(
    "sketch_merge_cms",
    oracle=f"""
    WITH census AS MATERIALIZED (
      SELECT doc_id % 2 AS half, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
      )
      GROUP BY 1, 2
    ), base AS (
      SELECT half, cnt, CAST(r.range AS BIGINT) AS row_id,
             CAST((CAST(('0x' || substr(md5('cms:' || tok), 1, 15))
                        AS UBIGINT)
                   >> (10 * CAST(r.range AS INT))) & {_CMS_W - 1}
                  AS BIGINT) AS bucket
      FROM census, range({_CMS_D}) r
    ), cells AS (
      SELECT half, row_id, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM base GROUP BY 1, 2, 3
    ), merged AS (
      SELECT row_id, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM cells GROUP BY 1, 2
    ), rebuilt AS (
      SELECT row_id, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM base GROUP BY 1, 2
    ), cmp AS (
      SELECT coalesce(m.row_id, b.row_id) AS row_id,
             CAST(count(*) AS BIGINT) AS n_cells,
             bool_and(m.cnt IS NOT DISTINCT FROM b.cnt) AS cells_equal,
             CAST(sum(m.cnt) AS BIGINT) AS mass
      FROM merged m FULL OUTER JOIN rebuilt b
        ON b.row_id = m.row_id AND b.bucket = m.bucket
      GROUP BY 1
    )
    SELECT row_id, n_cells, cells_equal, mass FROM cmp ORDER BY row_id
    """,
    doc="X123: count-min-sketch MERGEABILITY — the property that makes "
    "sketches THE 100 TB aggregation tool: a CMS built per shard and "
    "cell-wise summed must equal the CMS built over the whole corpus "
    "(linearity of the count cells). Here the corpus splits by doc "
    "parity, both halves sketch independently, the merge is one "
    "(row,bucket) groupBy-sum, and cells_equal must be TRUE per row "
    "(verified cell-for-cell via a full outer join; mass per row = "
    "total token count, conservation). At scale this is exactly "
    "Spark's tree-reduce: partial sketches per partition, one "
    "fixed-size combine — the shuffle carries <= {cells} rows no "
    "matter the corpus. Cost note (r13, closing the r10-r12 "
    "double-scan item — sf10 floor 16.8 s -> ~3 s): CMS insertion is "
    "linear in counts, so the corpus is first reduced to a "
    "vocab-bounded (half, token, count) census — ONE scan, no "
    "hashing, map-side combinable — which is localCheckpoint-pinned "
    "(~22k rows at sf10; never the exploded token stream, which was "
    "A/B'd at sf10: 46 s + AGGREGATE_OUT_OF_MEMORY on warm reruns). "
    "Both sketch legs then weighted-sum the tiny census: md5 runs "
    "once per DISTINCT token, and all {d} bucket draws come from one "
    "60-bit conv of its first 15 hex chars via 10-bit shifts "
    "(one-conv-shift A/B'd 1.6x faster than per-row conv chunks). "
    "The per-half and whole-corpus legs stay genuinely independent "
    "accumulations.".format(cells=_CMS_D * _CMS_W, d=_CMS_D),
    tags=("sketch", "count-min", "merge", "approx"),
)
def sketch_merge_cms(spark, sf_dir):
    census = materialize(
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .groupBy("half", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    # 60 bits of md5 per distinct token; row i's bucket = bits
    # [10i, 10i+10) (requires _CMS_W a power of two).
    v = F.conv(
        F.substring(F.md5(F.concat(F.lit("cms:"), F.col("tok"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    buckets = F.array(
        *[
            F.shiftright(F.col("v"), 10 * i).bitwiseAND(F.lit(_CMS_W - 1))
            for i in range(_CMS_D)
        ]
    )
    base = (
        census.select("half", "cnt", v.alias("v"))
        .select(
            "half",
            "cnt",
            F.posexplode(buckets).alias("row_id", "bucket"),
        )
        .select(
            "half",
            "cnt",
            F.col("row_id").cast("bigint").alias("row_id"),
            F.col("bucket").cast("bigint").alias("bucket"),
        )
    )
    cells = base.groupBy("half", "row_id", "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    merged = cells.groupBy("row_id", "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    rebuilt = base.groupBy("row_id", "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    m = merged.select(
        F.col("row_id").alias("m_row"),
        F.col("bucket").alias("m_bucket"),
        F.col("cnt").alias("m_cnt"),
    )
    b = rebuilt.select(
        F.col("row_id").alias("b_row"),
        F.col("bucket").alias("b_bucket"),
        F.col("cnt").alias("b_cnt"),
    )
    cmp = m.join(
        b,
        (F.col("b_row") == F.col("m_row"))
        & (F.col("b_bucket") == F.col("m_bucket")),
        "full_outer",
    )
    return (
        cmp.groupBy(
            F.coalesce(F.col("m_row"), F.col("b_row")).alias("row_id")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.min(
                F.col("m_cnt").eqNullSafe(F.col("b_cnt"))
            ).alias("cells_equal"),
            F.sum("m_cnt").cast("bigint").alias("mass"),
        )
        .orderBy("row_id")
    )


@register(
    "hll_rollup_merge",
    # HLL mergeability over TIME (the X123 CMS-linearity claim, for the
    # max-merge sketch family): per-day register tables max-merged
    # across days must equal the whole-period register table — register
    # for register. This is the property that lets a warehouse keep
    # daily distinct-user sketches and answer any date-range distinct
    # question by merging m-row tables instead of rescanning events.
    oracle=f"""
    WITH base AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), h AS (
      SELECT day,
             CAST(('0x' || substr(md5('hll:' || user_id), 1, 13))
                  AS UBIGINT) AS hv
      FROM base
    ), reg AS (
      SELECT day, CAST(hv % {_HLL_M} AS BIGINT) AS j,
             CAST(hv // {_HLL_M} AS BIGINT) AS w
      FROM h
    ), rho AS (
      SELECT day, j,
             max(CASE WHEN w = 0 THEN {_HLL_W + 1}
                 ELSE {_HLL_W} - length(bin(w)) + 1 END) AS m_j
      FROM reg GROUP BY 1, 2
    ), merged AS (
      SELECT j, CAST(max(m_j) AS BIGINT) AS m_merged,
             CAST(count(*) AS BIGINT) AS n_days
      FROM rho GROUP BY 1
    ), wh AS (
      -- the whole-period side is computed INDEPENDENTLY from the
      -- period's distinct ids (not from the daily rho), so the
      -- equality is a genuine two-path check, not a tautology
      SELECT CAST(('0x' || substr(md5('hll:' || user_id), 1, 13))
                  AS UBIGINT) AS hv
      FROM (SELECT DISTINCT user_id FROM events)
    ), whole AS (
      SELECT CAST(hv % {_HLL_M} AS BIGINT) AS j,
             CAST(max(CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_W + 1}
                 ELSE {_HLL_W} - length(bin(CAST(hv // {_HLL_M} AS BIGINT)))
                      + 1 END) AS BIGINT) AS m_whole
      FROM wh GROUP BY 1
    )
    SELECT m.j, m.m_merged, w.m_whole, m.n_days,
           m.m_merged = w.m_whole AS cells_equal
    FROM merged m JOIN whole w ON w.j = m.j
    ORDER BY m.j
    """,
    doc="X139: HLL register max-merge over time — daily register tables "
    "merged across the period must equal the whole-period registers "
    "cell-for-cell (max is associative and idempotent, so re-seen "
    "users collapse for free — the property CMS linearity (X123) does "
    "NOT have, which is why HLL handles re-activity and CMS handles "
    "mass). Both sides derive from the same salted-md5 rho as "
    "hll_manual_registers, so every register value is an integer the "
    "oracle replays bit-identically. Scale shape: one (day, j) groupBy "
    "with map-side max, then an m-row merge — the daily sketch table "
    "is days × m rows no matter how many events were scanned; a "
    "date-range rollup after this never touches the corpus again.",
    tags=("sketch", "hll", "approx", "distinct", "warehouse"),
)
def hll_rollup_merge(spark, sf_dir):
    base = (
        _t(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    reg = base.select(
        "day",
        F.pmod(hv, F.lit(_HLL_M)).alias("j"),
        F.expr(
            f"CAST(conv(substr(md5('hll:' || CAST(user_id AS STRING)),"
            f" 1, 13), 16, 10) AS BIGINT) div {_HLL_M}"
        ).alias("w"),
    )
    rho = reg.groupBy("day", "j").agg(
        F.max(
            F.when(F.col("w") == 0, F.lit(_HLL_W + 1)).otherwise(
                F.lit(_HLL_W) - F.length(F.bin("w")) + 1
            )
        ).alias("m_j")
    )
    merged = rho.groupBy("j").agg(
        F.max("m_j").cast("bigint").alias("m_merged"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    # independent whole-period path (two-path check, not a tautology)
    whole_reg = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            F.pmod(hv, F.lit(_HLL_M)).alias("j"),
            F.expr(
                f"CAST(conv(substr(md5('hll:' || CAST(user_id AS STRING)),"
                f" 1, 13), 16, 10) AS BIGINT) div {_HLL_M}"
            ).alias("w"),
        )
    )
    whole = whole_reg.groupBy("j").agg(
        F.max(
            F.when(F.col("w") == 0, F.lit(_HLL_W + 1)).otherwise(
                F.lit(_HLL_W) - F.length(F.bin("w")) + 1
            )
        )
        .cast("bigint")
        .alias("m_whole")
    )
    return (
        merged.join(whole, "j")
        .select(
            "j",
            "m_merged",
            "m_whole",
            "n_days",
            (F.col("m_merged") == F.col("m_whole")).alias("cells_equal"),
        )
        .orderBy("j")
    )
