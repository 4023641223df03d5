"""Round-12 waves of analytics operators (SURVEY.md §2.5 X145-X175):
exact rank statistics, integer apportionment/partition planners,
deterministic resampling, and estimation/diagnostics censuses — the
distribution-shift, layout-planning and uncertainty-quantification
primitives a 100 TB curation pipeline runs between ingestion and
training. Absent from the reference by design scope (it is a
connector — SURVEY §0). All deterministic; every entry
DuckDB-oracle-checked.

Determinism posture (the round-11 lessons applied from the start):
- rank statistics (Mann-Whitney, quantile normalization, trimmed/
  winsorized means) use DISCRETE type-1 order statistics and integer
  rank sums — zero FP in any boundary decision (operators/quantiles.py
  policy);
- ratios that must be float (AUC, chi-square contributions) are
  single per-row expressions over identical integer operands — bit-
  identical across engines (no FP SUM feeds a boundary) — and pass
  through stable_round;
- randomized operators (Poisson bootstrap) derive weights from md5 of
  the row key, the registry's seeded-hash idiom — exactly reproducible
  on both engines.

Scale posture for the FIRST wave (X145-X155) below; the later waves
(X156-X175) carry their determinism/scale notes in each register()
doc — this list is not the module's full inventory:
- mannwhitney_auc_sources: one value census (|distinct n_chars| rows,
  value-bounded) + one per-(source, value) census; the global-rank
  window runs over the value census, never the corpus.
- apportionment_dhondt_vs_hamilton: census → |sources|×16 quotient
  rows; all integer (LCM-scaled quotients make divisor comparison
  exact, no FP ranking).
- range_partition_plan: the terasort planner — a value census +
  16 broadcast range rows; per-range row counts are computed
  ARITHMETICALLY from census prefix sums (no global row_number over
  the corpus — the plan that survives 100 TB).
- skew_salt_planner: one map-side key census; the planner output is
  a 10-row top-k + an integer salt factor.
- curriculum_token_phases: distributed prefix-sum — census-level
  cumulative weight (|values| rows) + a PER-VALUE partitioned
  row_number; no corpus-wide single-partition window.
- quantile_normalize_doclen: per-source and global censuses, decile
  boundaries via the prev-cum/cum straddle join (9 rows per group).
- chi2_lang_source_residuals: one contingency census; per-cell FP is
  a single expression over exact integers.
- poisson_bootstrap_mean_ci: explode ×32 replicates map-side, partial
  agg per (source, replicate); CI bounds are integer order statistics
  over the 32 replicate means.
- trimmed_winsorized_order_stats: per-priority windows (partitioned,
  5 groups); every mean is an integer-division milli value.
- dedup_graph_bfs_reach: multi-source BFS over the certified near-dup
  edge set; 6 bounded frontier joins, each anti-joined against the
  visited set (localCheckpoint-truncated lineage).
- twap_user_value: per-user lead() window + exact split-division
  (q*1000 + r*1000 div den) so the interval-weighted mean stays
  int64-exact at any event-value magnitude.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..materialize import materialize
from .curation_extra import _CLOSURE
from .registry import register
from .rounding import stable_round, stable_round_sql


def _t(spark, sf_dir, name):
    from ..session import load_table

    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# X145: exact Mann-Whitney U / AUC of each source vs the rest
# ---------------------------------------------------------------------------

@register(
    "mannwhitney_auc_sources",
    # Exact rank-sum: tied values get average ranks; 2·avgrank of a row
    # in a tie block of size t starting after L smaller rows is
    # 2L + t + 1 (integer), so 2·ranksum and 2U stay integer end to end.
    # AUC = U / (n_s·m_s) is ONE double division over exact int64
    # operands (< 2^53), bit-identical across engines.
    oracle=f"""
    WITH g AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1
    ), cum AS (
      SELECT v, c,
             CAST(coalesce(sum(c) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS lt,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM g
    ), s AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS cs
      FROM documents GROUP BY 1, 2
    ), r AS (
      SELECT s.source,
             CAST(sum(s.cs * (2 * cum.lt + cum.c + 1)) AS BIGINT) AS r2,
             CAST(sum(s.cs) AS BIGINT) AS ns,
             CAST(max(cum.n) AS BIGINT) AS n
      FROM s JOIN cum ON s.v = cum.v
      GROUP BY 1
    )
    SELECT source, ns AS n_docs,
           CAST(r2 - ns * (ns + 1) AS BIGINT) AS u2_vs_rest,
           {stable_round_sql(
               "CAST(r2 - ns * (ns + 1) AS DOUBLE)"
               " / (2.0 * ns * (n - ns))", 6)} AS auc_vs_rest
    FROM r ORDER BY source
    """,
    doc="X145: exact Mann-Whitney U / AUC of each source's doc-length "
    "distribution vs the rest of the corpus — the rank-based drift "
    "test that complements KS (X144): KS sees the worst single gap, "
    "U/AUC sees stochastic dominance (AUC 0.5 = exchangeable, 1.0 = "
    "source strictly longer). Ties handled exactly via integer "
    "average-rank sums (2R = Σ c·(2L+t+1)); 2U stays int64; AUC is a "
    "single double division over exact operands. Scale shape: one "
    "value census + one (source, value) census, both map-side "
    "combinable; the rank window runs over |distinct lengths| rows, "
    "never the corpus.",
    tags=("stats", "drift", "eval"),
)
def mannwhitney_auc_sources(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_lt = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    cum = g.select(
        "v", "c",
        F.coalesce(F.sum("c").over(w_lt), F.lit(0)).cast("bigint").alias("lt"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    s = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("cs")
    )
    r = (
        s.join(cum, "v")
        .groupBy("source")
        .agg(
            F.sum(F.col("cs") * (2 * F.col("lt") + F.col("c") + 1))
            .cast("bigint")
            .alias("r2"),
            F.sum("cs").cast("bigint").alias("ns"),
            F.max("n").cast("bigint").alias("n"),
        )
    )
    u2 = F.col("r2") - F.col("ns") * (F.col("ns") + 1)
    return r.select(
        "source",
        F.col("ns").alias("n_docs"),
        u2.cast("bigint").alias("u2_vs_rest"),
        stable_round(
            u2.cast("double") / (2.0 * F.col("ns") * (F.col("n") - F.col("ns"))),
            6,
        ).alias("auc_vs_rest"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# X146: D'Hondt divisor apportionment vs Hamilton, exact integer
# ---------------------------------------------------------------------------

_LCM16 = 720720  # lcm(1..16): quotient n/d scaled by LCM16 is exact integer

@register(
    "apportionment_dhondt_vs_hamilton",
    # D'Hondt: 16 seats to the 16 largest quotients n/d (d=1..16).
    # Comparing n_a/d_a vs n_b/d_b in FP risks ulp ties; scaling by
    # lcm(1..16)=720720 makes every quotient an EXACT integer
    # (720720 % d = 0), so the ranking is pure int64. Hamilton: floor
    # quotas + largest remainders (the X129 formula at B=16).
    oracle=f"""
    WITH census AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM census
    ), quot AS (
      SELECT source, n_docs, d,
             n_docs * ({_LCM16} // d) AS q
      FROM census CROSS JOIN (SELECT unnest(range(1, 17)) AS d)
    ), seat AS (
      SELECT source, row_number() OVER (ORDER BY q DESC, source, d) AS rk
      FROM quot
    ), dh AS (
      SELECT source, CAST(count(*) AS BIGINT) AS seats_dhondt
      FROM seat WHERE rk <= 16 GROUP BY 1
    ), ham AS (
      SELECT source,
             CAST(n_docs * 16 // t AS BIGINT) AS base,
             CAST(n_docs * 16 % t AS BIGINT) AS rem,
             CAST(16 - sum(n_docs * 16 // t) OVER () AS BIGINT) AS leftover
      FROM census CROSS JOIN tot
    ), hamr AS (
      SELECT source, base, leftover,
             CAST(row_number() OVER (ORDER BY rem DESC, source)
                  AS BIGINT) AS rrk
      FROM ham
    )
    SELECT c.source, c.n_docs,
           CAST(coalesce(dh.seats_dhondt, 0) AS BIGINT) AS seats_dhondt,
           CAST(h.base + CASE WHEN h.rrk <= h.leftover THEN 1 ELSE 0 END
                AS BIGINT) AS seats_hamilton
    FROM census c
    LEFT JOIN dh ON dh.source = c.source
    JOIN hamr h ON h.source = c.source
    ORDER BY c.source
    """,
    doc="X146: divisor (D'Hondt) vs largest-remainder (Hamilton) "
    "apportionment of 16 writer shards across sources — the two "
    "classical integer allocators side by side, exposing their known "
    "bias (D'Hondt favors large sources, Hamilton is quota-exact). "
    "D'Hondt quotients are scaled by lcm(1..16)=720720 so the top-16 "
    "ranking is EXACT int64, no FP quotient comparison anywhere. "
    "Scale shape: one map-side census; 16·|sources| quotient rows; "
    "both allocators are O(|sources|) windows.",
    tags=("layout", "sampling", "stats"),
)
def apportionment_dhondt_vs_hamilton(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # |sources|-row census checkpointed: it feeds four consumers (tot,
    # the divisor grid, the Hamilton base, the final join) — the old
    # shape re-ran the corpus census scan four times (r13 audit: 4
    # document scans → 1).
    census = materialize(
        docs.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    tot = census.agg(F.sum("n_docs").cast("bigint").alias("t"))
    divisors = spark.range(1, 17).select(F.col("id").alias("d"))
    quot = census.crossJoin(F.broadcast(divisors)).select(
        "source", "n_docs", "d",
        (F.col("n_docs") * F.expr(f"{_LCM16} div d")).alias("q"),
    )
    seat = quot.select(
        "source",
        F.row_number()
        .over(Window.orderBy(F.col("q").desc(), "source", "d"))
        .alias("rk"),
    )
    dh = (
        seat.filter(F.col("rk") <= 16)
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("seats_dhondt"))
    )
    w_all = Window.partitionBy()
    ham = census.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr("n_docs * 16 div t").cast("bigint").alias("base"),
        (F.col("n_docs") * 16 % F.col("t")).cast("bigint").alias("rem"),
    )
    hamr = ham.select(
        "source", "base",
        (F.lit(16) - F.sum("base").over(w_all)).cast("bigint").alias("leftover"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "source"))
        .cast("bigint")
        .alias("rrk"),
    )
    return (
        census.join(dh, "source", "left")
        .join(hamr, "source")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("seats_dhondt"), F.lit(0))
            .cast("bigint")
            .alias("seats_dhondt"),
            (
                F.col("base")
                + F.when(F.col("rrk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("seats_hamilton"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X147: terasort range-partition planner from a value census
# ---------------------------------------------------------------------------

@register(
    "range_partition_plan",
    # Balanced global-sort ranges WITHOUT a corpus-wide row_number:
    # range r covers sorted positions [ceil(rn/16), ceil((r+1)n/16)) —
    # a value with prefix-count L and count c overlaps r iff
    # L < hi(r) and L+c > lo(r), contributing min(L+c,hi)-max(L,lo)
    # rows. Census prefix sums + 16 broadcast range rows = the exact
    # per-range row counts and value bounds, all integer.
    oracle="""
    WITH v AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ), cum AS (
      SELECT cents, c,
             CAST(coalesce(sum(c) OVER (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS l,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM v
    ), rng AS (
      SELECT CAST(unnest(range(16)) AS BIGINT) AS range_id
    ), ov AS (
      SELECT r.range_id, cum.cents,
             least(cum.l + cum.c, ((r.range_id + 1) * cum.n + 15) // 16)
             - greatest(cum.l, (r.range_id * cum.n + 15) // 16) AS nr
      FROM cum JOIN rng r
        ON cum.l < ((r.range_id + 1) * cum.n + 15) // 16
       AND cum.l + cum.c > (r.range_id * cum.n + 15) // 16
    )
    SELECT range_id,
           CAST(sum(nr) AS BIGINT) AS n_rows,
           CAST(min(cents) AS BIGINT) AS lo_cents,
           CAST(max(cents) AS BIGINT) AS hi_cents
    FROM ov GROUP BY 1 ORDER BY 1
    """,
    doc="X147: range-partition planner (the terasort shape) — split "
    "orders by o_totalprice into 16 globally-sorted ranges balanced "
    "to ±1 row, computing per-range row counts and value bounds "
    "ARITHMETICALLY from a value census + prefix sums instead of a "
    "corpus-wide row_number (a single-partition window would be the "
    "100 TB bottleneck; the census window is |distinct values| rows). "
    "This is the boundary table a balanced range-partitioned write "
    "(df.repartitionByRange) consumes. All integer: ceil-division "
    "position bounds, exact overlap counts.",
    tags=("layout", "pipeline", "stats"),
)
def range_partition_plan(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    v = orders.groupBy(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents")
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_l = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    cum = v.select(
        "cents", "c",
        F.coalesce(F.sum("c").over(w_l), F.lit(0)).cast("bigint").alias("l"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    rng = spark.range(16).select(F.col("id").cast("bigint").alias("range_id"))
    lo = F.expr("(range_id * n + 15) div 16")
    hi = F.expr("((range_id + 1) * n + 15) div 16")
    ov = cum.join(
        F.broadcast(rng),
        (F.col("l") < hi) & (F.col("l") + F.col("c") > lo),
    ).select(
        "range_id", "cents",
        (
            F.least(F.col("l") + F.col("c"), hi) - F.greatest(F.col("l"), lo)
        ).alias("nr"),
    )
    return (
        ov.groupBy("range_id")
        .agg(
            F.sum("nr").cast("bigint").alias("n_rows"),
            F.min("cents").cast("bigint").alias("lo_cents"),
            F.max("cents").cast("bigint").alias("hi_cents"),
        )
        .orderBy("range_id")
    )


# ---------------------------------------------------------------------------
# X148: join-skew diagnosis + salt-factor recommendation
# ---------------------------------------------------------------------------

@register(
    "skew_salt_planner",
    oracle="""
    WITH k AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS nkeys,
             CAST(max(cnt) AS BIGINT) AS maxc
      FROM k
    ), top AS (
      SELECT user_id, cnt,
             row_number() OVER (ORDER BY cnt DESC, user_id) AS rk
      FROM k
    )
    SELECT t.user_id, t.cnt,
           CAST(t.cnt * 1000000 // x.total AS BIGINT) AS share_ppm,
           CAST((x.maxc * x.nkeys + x.total - 1) // x.total AS BIGINT)
             AS salt_factor
    FROM top t CROSS JOIN tot x
    WHERE t.rk <= 10
    ORDER BY t.cnt DESC, t.user_id
    """,
    doc="X148: join-skew diagnosis — the planner a 100 TB shuffle join "
    "runs BEFORE the join: per-key census of events.user_id, top-10 "
    "hottest keys with ppm share, and the recommended salt factor "
    "ceil(max_key_rows / avg_key_rows) — the replication count that "
    "levels the hottest reducer to the average (AQE skew-join does "
    "this at runtime; a static salt does it when the key census is "
    "known ahead, e.g. from yesterday's run). All integer. Scale "
    "shape: one map-side-combined key census; the planner output is "
    "10 rows + 3 broadcast scalars.",
    tags=("layout", "joins", "stats"),
)
def skew_salt_planner(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    k = events.groupBy("user_id").agg(F.count("*").cast("bigint").alias("cnt"))
    tot = k.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("nkeys"),
        F.max("cnt").cast("bigint").alias("maxc"),
    )
    top = k.select(
        "user_id", "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "user_id"))
        .alias("rk"),
    ).filter(F.col("rk") <= 10)
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "cnt",
            F.expr("cnt * 1000000 div total").cast("bigint").alias("share_ppm"),
            F.expr("(maxc * nkeys + total - 1) div total")
            .cast("bigint")
            .alias("salt_factor"),
        )
        .orderBy(F.col("cnt").desc(), "user_id")
    )


# ---------------------------------------------------------------------------
# X149: curriculum phases balanced by token mass (distributed prefix sum)
# ---------------------------------------------------------------------------

@register(
    "curriculum_token_phases",
    # Cumulative token mass before each doc = W(v) + (j-1)·v where W is
    # the census-level cumulative weight below value v and j the doc's
    # rank within its value — a two-level distributed prefix sum (census
    # window over |values| rows + a PARTITIONED per-value window), never
    # a corpus-wide single-partition cumulative.
    oracle="""
    WITH g AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1
    ), cum AS (
      SELECT v,
             CAST(coalesce(sum(v * c) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS w,
             CAST(sum(v * c) OVER () AS BIGINT) AS t
      FROM g
    ), d AS (
      SELECT doc_id, n_chars AS v,
             CAST(row_number() OVER (PARTITION BY n_chars ORDER BY doc_id)
                  AS BIGINT) AS j
      FROM documents
    ), ph AS (
      SELECT d.doc_id, d.v,
             CAST((cum.w + (d.j - 1) * d.v) * 4 // cum.t AS BIGINT) AS phase
      FROM d JOIN cum ON d.v = cum.v
    )
    SELECT phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(v) AS BIGINT) AS token_mass,
           CAST(min(v) AS BIGINT) AS min_chars,
           CAST(max(v) AS BIGINT) AS max_chars
    FROM ph GROUP BY 1 ORDER BY 1
    """,
    doc="X149: curriculum phases balanced by TOKEN mass, not doc count "
    "— order the corpus by difficulty proxy (n_chars asc, doc_id "
    "tiebreak) and cut into 4 phases so each holds ~a quarter of the "
    "total token mass (phase = cum_mass_before·4 div total). The "
    "cumulative is a two-level distributed prefix sum: census-level "
    "window over |distinct lengths| rows + a per-value PARTITIONED "
    "row_number — the corpus-wide running total that would "
    "single-partition at 100 TB never materializes. All integer.",
    tags=("training", "sampling", "layout"),
)
def curriculum_token_phases(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    cum = g.select(
        "v",
        F.coalesce(F.sum(F.col("v") * F.col("c")).over(w_w), F.lit(0))
        .cast("bigint")
        .alias("w"),
        F.sum(F.col("v") * F.col("c")).over(w_all).cast("bigint").alias("t"),
    )
    d = docs.select(
        "doc_id",
        F.col("n_chars").alias("v"),
        F.row_number()
        .over(Window.partitionBy("n_chars").orderBy("doc_id"))
        .cast("bigint")
        .alias("j"),
    )
    ph = d.join(F.broadcast(cum), "v").select(
        "doc_id", "v",
        F.expr("(w + (j - 1) * v) * 4 div t").cast("bigint").alias("phase"),
    )
    return (
        ph.groupBy("phase")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("v").cast("bigint").alias("token_mass"),
            F.min("v").cast("bigint").alias("min_chars"),
            F.max("v").cast("bigint").alias("max_chars"),
        )
        .orderBy("phase")
    )


# ---------------------------------------------------------------------------
# X150: quantile normalization of per-source length distributions
# ---------------------------------------------------------------------------

@register(
    "quantile_normalize_doclen",
    # Type-1 decile boundaries via the straddle join: value v is the
    # d-th decile iff prev_cum·10 < d·n ≤ cum·10 — pure integer, the
    # operators/quantiles.py policy (interpolated quantiles of
    # quantized values are the round-11 cross-engine bug class).
    oracle="""
    WITH dec AS (SELECT unnest(range(1, 10)) AS d),
    sg AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ), scum AS (
      SELECT source, v, c,
             CAST(sum(c) OVER (PARTITION BY source ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cw,
             CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM sg
    ), sq AS (
      SELECT s.source, dec.d, CAST(s.v AS BIGINT) AS src_q
      FROM scum s JOIN dec
        ON s.cw * 10 >= dec.d * s.n AND (s.cw - s.c) * 10 < dec.d * s.n
    ), gg AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1
    ), gcum AS (
      SELECT v, c,
             CAST(sum(c) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cw,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM gg
    ), gq AS (
      SELECT dec.d, CAST(g.v AS BIGINT) AS global_q
      FROM gcum g JOIN dec
        ON g.cw * 10 >= dec.d * g.n AND (g.cw - g.c) * 10 < dec.d * g.n
    )
    SELECT sq.source, CAST(sq.d AS BIGINT) AS decile, sq.src_q, gq.global_q,
           CAST(sq.src_q - gq.global_q AS BIGINT) AS shift
    FROM sq JOIN gq ON sq.d = gq.d
    ORDER BY sq.source, decile
    """,
    doc="X150: quantile normalization table — each source's type-1 "
    "length deciles aligned against the global deciles (the mapping "
    "quantile normalization applies to level per-source length "
    "distributions before mixing; `shift` is the per-decile "
    "correction). Boundaries are DISCRETE order statistics via the "
    "prev-cum/cum straddle join — zero FP in any boundary "
    "(operators/quantiles.py policy). Scale shape: per-source census "
    "windows are PARTITIONED by source; the global census window is "
    "|distinct lengths| rows; output is 9·|sources| rows.",
    tags=("stats", "sampling", "training"),
)
def quantile_normalize_doclen(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    dec = spark.range(1, 10).select(F.col("id").alias("d"))
    sg = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_s = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_sn = Window.partitionBy("source")
    scum = sg.select(
        "source", "v", "c",
        F.sum("c").over(w_s).cast("bigint").alias("cw"),
        F.sum("c").over(w_sn).cast("bigint").alias("n"),
    )
    sq = scum.join(
        F.broadcast(dec),
        (F.col("cw") * 10 >= F.col("d") * F.col("n"))
        & ((F.col("cw") - F.col("c")) * 10 < F.col("d") * F.col("n")),
    ).select("source", "d", F.col("v").cast("bigint").alias("src_q"))
    gg = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_g = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    gcum = gg.select(
        "v", "c",
        F.sum("c").over(w_g).cast("bigint").alias("cw"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    gq = gcum.join(
        F.broadcast(dec),
        (F.col("cw") * 10 >= F.col("d") * F.col("n"))
        & ((F.col("cw") - F.col("c")) * 10 < F.col("d") * F.col("n")),
    ).select("d", F.col("v").cast("bigint").alias("global_q"))
    return (
        sq.join(gq, "d")
        .select(
            "source",
            F.col("d").cast("bigint").alias("decile"),
            "src_q",
            "global_q",
            (F.col("src_q") - F.col("global_q")).cast("bigint").alias("shift"),
        )
        .orderBy("source", "decile")
    )


# ---------------------------------------------------------------------------
# X151: chi-square contingency residuals, lang × source
# ---------------------------------------------------------------------------

@register(
    "chi2_lang_source_residuals",
    # Per-cell FP is a single expression over exact int64 operands
    # (R·C ≤ n² fits; the (O−E)²/E form never squares an int64
    # product), so both engines run the identical IEEE steps — no FP
    # summation feeds any output.
    oracle=f"""
    WITH o AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o_count
      FROM documents GROUP BY 1, 2
    ), m AS (
      SELECT o.lang, o.source, o.o_count,
             CAST(sum(o.o_count) OVER (PARTITION BY o.lang) AS BIGINT) AS r,
             CAST(sum(o.o_count) OVER (PARTITION BY o.source) AS BIGINT) AS c,
             CAST(sum(o.o_count) OVER () AS BIGINT) AS t
      FROM o
    )
    SELECT lang, source, o_count, r AS row_total, c AS col_total,
           CAST(r * c * 1000 // t AS BIGINT) AS expected_milli,
           CAST(CASE WHEN o_count * t > r * c THEN 1
                     WHEN o_count * t < r * c THEN -1 ELSE 0 END
                AS BIGINT) AS resid_sign,
           {stable_round_sql(
               "pow(o_count - CAST(r AS DOUBLE) * c / t, 2)"
               " / (CAST(r AS DOUBLE) * c / t)", 6)} AS chi2_contrib
    FROM m ORDER BY lang, source
    """,
    doc="X151: chi-square contingency residuals for lang × source — "
    "the independence audit of the corpus mix (is language "
    "distribution uniform across sources, or does some source skew "
    "toward a language?). Per cell: observed count, exact integer "
    "margins, milli-scaled expected count, the EXACT integer residual "
    "sign (O·T vs R·C — no FP in the direction call), and the "
    "per-cell chi² contribution as one stable-rounded double "
    "expression over exact integers (identical IEEE steps both "
    "engines; no FP sum anywhere). Scale shape: one contingency "
    "census (|langs|·|sources| rows), margins via partitioned windows "
    "over the census.",
    tags=("stats", "drift", "eval"),
)
def chi2_lang_source_residuals(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("o_count")
    )
    m = o.select(
        "lang", "source", "o_count",
        F.sum("o_count").over(Window.partitionBy("lang")).cast("bigint").alias("r"),
        F.sum("o_count")
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("c"),
        F.sum("o_count").over(Window.partitionBy()).cast("bigint").alias("t"),
    )
    e = F.col("r").cast("double") * F.col("c") / F.col("t")
    return m.select(
        "lang",
        "source",
        "o_count",
        F.col("r").alias("row_total"),
        F.col("c").alias("col_total"),
        F.expr("r * c * 1000 div t").cast("bigint").alias("expected_milli"),
        F.when(F.col("o_count") * F.col("t") > F.col("r") * F.col("c"), 1)
        .when(F.col("o_count") * F.col("t") < F.col("r") * F.col("c"), -1)
        .otherwise(0)
        .cast("bigint")
        .alias("resid_sign"),
        stable_round(F.pow(F.col("o_count") - e, F.lit(2)) / e, 6).alias(
            "chi2_contrib"
        ),
    ).orderBy("lang", "source")


# ---------------------------------------------------------------------------
# X152: deterministic Poisson bootstrap CI for mean doc length
# ---------------------------------------------------------------------------

# Poisson(1) CDF in micro, floored: w(u) = #{k: u >= cum_k} for uniform
# integer u in [0, 1e6)
_POIS_CUM = (
    367879, 735758, 919698, 981011, 996340,
    999405, 999916, 999989, 999998, 999999,
)

@register(
    "poisson_bootstrap_mean_ci",
    # The Poisson bootstrap (Chamandy et al.: each replicate weights
    # every row by an independent Poisson(1) draw) is THE bootstrap
    # that runs in one pass on a distributed corpus — no resampling
    # shuffle, weights are a pure row expression. Weights derive from
    # md5(doc_id, b) → uniform micro-int → inverse Poisson CDF (exact
    # integer thresholds), so both engines draw identical weights.
    oracle=f"""
    WITH reps AS (SELECT unnest(range(32)) AS b),
    w AS (
      SELECT d.source, d.n_chars, reps.b,
             {" + ".join(
                 f"CASE WHEN ('0x' || substr(md5('pb12:' || CAST(d.doc_id AS VARCHAR)"
                 " || ':' || CAST(reps.b AS VARCHAR)), 1, 13))::UBIGINT"
                 f" % 1000000 >= {t} THEN 1 ELSE 0 END"
                 for t in _POIS_CUM)} AS wt
      FROM documents d CROSS JOIN reps
    ), rep_means AS (
      SELECT source, b,
             CAST(sum(wt * n_chars) * 1000000 // nullif(sum(wt), 0)
                  AS BIGINT) AS mean_micro
      FROM w GROUP BY 1, 2
    ), ranked AS (
      SELECT source, mean_micro,
             row_number() OVER (PARTITION BY source
                                ORDER BY mean_micro, b) AS rk
      FROM rep_means WHERE mean_micro IS NOT NULL
    ), ci AS (
      SELECT source,
             max(CASE WHEN rk = 2 THEN mean_micro END) AS ci_lo_micro,
             max(CASE WHEN rk = 31 THEN mean_micro END) AS ci_hi_micro
      FROM ranked GROUP BY 1
    ), pt AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT)
               AS point_mean_micro
      FROM documents GROUP BY 1
    )
    SELECT pt.source, pt.n_docs, pt.point_mean_micro,
           CAST(ci.ci_lo_micro AS BIGINT) AS ci_lo_micro,
           CAST(ci.ci_hi_micro AS BIGINT) AS ci_hi_micro
    FROM pt JOIN ci ON ci.source = pt.source
    ORDER BY pt.source
    """,
    doc="X152: Poisson-bootstrap confidence interval for per-source "
    "mean doc length — the one-pass distributed bootstrap (Poisson(1) "
    "weights per (row, replicate), no resampling shuffle). Weights "
    "come from the registry's seeded-md5 idiom through the exact "
    "integer inverse-Poisson CDF, so both engines draw bit-identical "
    "replicates; replicate means are exact integer micro values and "
    "the 93%-ish CI is the 2nd/31st order statistic of 32 replicates "
    "— integer end to end. Scale shape: explode ×32 is map-side "
    "(partial agg per (source, b) combines before the shuffle); the "
    "CI window runs over 32·|sources| rows.",
    tags=("stats", "sampling", "eval"),
)
def poisson_bootstrap_mean_ci(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    reps = F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("pb12:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )
    wt = None
    for t in _POIS_CUM:
        term = F.when(u >= t, 1).otherwise(0)
        wt = term if wt is None else wt + term
    w = docs.select("source", "n_chars", "doc_id", reps).select(
        "source", "n_chars", "b", wt.alias("wt")
    )
    rep_means = (
        w.groupBy("source", "b")
        .agg(
            F.sum(F.col("wt") * F.col("n_chars")).alias("num"),
            F.sum("wt").alias("den"),
        )
        .select(
            "source", "b",
            F.expr("num * 1000000 div nullif(den, 0)")
            .cast("bigint")
            .alias("mean_micro"),
        )
        .filter(F.col("mean_micro").isNotNull())
    )
    ranked = rep_means.select(
        "source", "mean_micro",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("mean_micro", "b"))
        .alias("rk"),
    )
    ci = ranked.groupBy("source").agg(
        F.max(F.when(F.col("rk") == 2, F.col("mean_micro"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == 31, F.col("mean_micro"))).alias("ci_hi"),
    )
    pt = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr("sum(n_chars) * 1000000 div count(*)")
        .cast("bigint")
        .alias("point_mean_micro"),
    )
    return (
        pt.join(ci, "source")
        .select(
            "source", "n_docs", "point_mean_micro",
            F.col("ci_lo").cast("bigint").alias("ci_lo_micro"),
            F.col("ci_hi").cast("bigint").alias("ci_hi_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X153: trimmed + winsorized means per order priority
# ---------------------------------------------------------------------------

@register(
    "trimmed_winsorized_order_stats",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ), r AS (
      SELECT priority, cents,
             CAST(row_number() OVER (PARTITION BY priority
                  ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY priority) AS BIGINT) AS n
      FROM c
    ), b AS (
      SELECT priority, cents, rn, n, n // 10 AS tr,
             max(CASE WHEN rn = (n + 9) // 10 THEN cents END)
               OVER (PARTITION BY priority) AS p10,
             max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END)
               OVER (PARTITION BY priority) AS p90
      FROM r
    )
    SELECT priority, CAST(max(n) AS BIGINT) AS n,
           CAST(max(p10) AS BIGINT) AS p10_cents,
           CAST(max(p90) AS BIGINT) AS p90_cents,
           CAST(sum(CASE WHEN rn > tr AND rn <= n - tr THEN cents END) * 1000
                // sum(CASE WHEN rn > tr AND rn <= n - tr THEN 1 END)
                AS BIGINT) AS trimmed_mean_milli,
           CAST(sum(least(greatest(cents, p10), p90)) * 1000 // max(n)
                AS BIGINT) AS winsor_mean_milli
    FROM b GROUP BY priority ORDER BY priority
    """,
    doc="X153: robust location statistics per order priority — 10% "
    "trimmed mean (drop the lowest/highest ⌊n/10⌋ ranks, o_orderkey "
    "tiebreak) and winsorized mean (clamp to the type-1 P10/P90 order "
    "statistics) over integer cents, both as exact milli-cent integer "
    "divisions — the outlier-robust aggregates a price-quality audit "
    "uses where plain avg() is dominated by tail rows. Zero FP: "
    "discrete rank bounds, integer clamps, integer division. Scale "
    "shape: windows PARTITIONED by priority (5 groups, each one "
    "shuffle partition's worth of rank work).",
    tags=("stats", "relational"),
)
def trimmed_winsorized_order_stats(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    w_p = Window.partitionBy("priority")
    r = c.select(
        "priority", "cents",
        F.row_number()
        .over(w_p.orderBy("cents", "o_orderkey"))
        .cast("bigint")
        .alias("rn"),
        F.count("*").over(w_p).cast("bigint").alias("n"),
    )
    b = r.select(
        "priority", "cents", "rn", "n",
        F.expr("n div 10").alias("tr"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 9) div 10"), F.col("cents"))
        )
        .over(w_p)
        .alias("p10"),
        F.max(
            F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("cents"))
        )
        .over(w_p)
        .alias("p90"),
    )
    kept = F.when((F.col("rn") > F.col("tr")) & (F.col("rn") <= F.col("n") - F.col("tr")), F.col("cents"))
    return (
        b.groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max("p10").cast("bigint").alias("p10_cents"),
            F.max("p90").cast("bigint").alias("p90_cents"),
            F.expr(
                "CAST(sum(CASE WHEN rn > tr AND rn <= n - tr THEN cents END)"
                " * 1000 div sum(CASE WHEN rn > tr AND rn <= n - tr THEN 1"
                " END) AS BIGINT)"
            ).alias("trimmed_mean_milli"),
            F.expr(
                "CAST(sum(least(greatest(cents, p10), p90)) * 1000 div max(n)"
                " AS BIGINT)"
            ).alias("winsor_mean_milli"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# X154: multi-source BFS depth profile over the near-dup graph
# ---------------------------------------------------------------------------

@register(
    "dedup_graph_bfs_reach",
    # Seeds are the LOCAL MINIMA of the near-dup graph (doc smaller
    # than every neighbor) — the canonical keepers a keep-min dedup
    # retains; depth(doc) = hops to the nearest keeper (min over
    # seeds), capped at 6. DuckDB replays the BFS as a depth-bounded
    # recursive CTE; Spark runs 6 frontier joins with an anti-join
    # against the visited set (first-reach == min-depth since BFS
    # expands in layers).
    oracle=_CLOSURE.split("reach(src, dst)")[0]
    + """
    seeds AS (
      SELECT a AS doc FROM edges GROUP BY a HAVING min(b) > a
    ),
    bfs(doc, depth) AS (
      SELECT doc, 0 FROM seeds
      UNION
      SELECT e.b, x.depth + 1
      FROM bfs x JOIN edges e ON x.doc = e.a
      WHERE x.depth < 6
    ),
    dmin AS (
      SELECT doc, CAST(min(depth) AS BIGINT) AS d FROM bfs GROUP BY doc
    )
    SELECT d AS depth,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc) AS BIGINT) AS sample_doc
    FROM dmin GROUP BY d ORDER BY d
    """,
    doc="X154: multi-source BFS depth profile over the certified "
    "near-dup graph (exact bigram Jaccard ≥ 0.5) — distance from each "
    "duplicated doc to its nearest CANONICAL KEEPER (local-minimum "
    "doc, the doc a keep-min dedup retains). Depth 0 = keepers; depth "
    "k = docs that survive k rounds of 'remove docs adjacent to a "
    "keeper' — the transitive-duplication depth a single-pass "
    "pairwise dedup underestimates. Spark runs 6 bounded frontier "
    "joins (anti-join vs visited, localCheckpoint-truncated lineage); "
    "the oracle replays it as a depth-bounded recursive CTE. Scale "
    "shape: pair-gen is the bucketed selector (runs once, "
    "checkpointed); frontiers are bounded by the dup subgraph, a tiny "
    "fraction of the corpus.",
    tags=("dedup", "graph", "iterative", "pipeline"),
)
def dedup_graph_bfs_reach(spark, sf_dir):
    from ..operators import dedup as D

    docs = _t(spark, sf_dir, "documents")
    pairs = materialize(
        D.ngram_jaccard_pairs_auto(docs, threshold=0.5, n=2)
        .select("doc_a", "doc_b")
    )
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    seeds = (
        edges.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .filter(F.col("mb") > F.col("a"))
        .select(F.col("a").alias("doc"))
    )
    visited = materialize(seeds.select("doc", F.lit(0).cast("bigint").alias("d")))
    frontier = visited.select("doc")
    for step in range(1, 7):
        nxt = materialize(
            frontier.join(edges, frontier["doc"] == edges["a"])
            .select(F.col("b").alias("doc"))
            .distinct()
            .join(visited.select("doc"), "doc", "left_anti")
            .select("doc", F.lit(step).cast("bigint").alias("d"))
        )  # one job per layer; the count below reads the stored rows
        if nxt.count() == 0:
            break  # frontier dry — deeper layers are empty by BFS
        visited = materialize(visited.union(nxt))
        frontier = nxt.select("doc")
    return (
        visited.groupBy(F.col("d").alias("depth"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc").cast("bigint").alias("sample_doc"),
        )
        .orderBy("depth")
    )


# ---------------------------------------------------------------------------
# X155: interval-weighted (time-weighted) average event value per user
# ---------------------------------------------------------------------------

@register(
    "twap_user_value",
    # Σ(cents·dt_us) fits int64 (per-user Σdt is bounded by the corpus
    # time span), but ×1000 for milli precision would overflow — so the
    # milli mean uses exact split division: q·1000 + (rem·1000) div den
    # (all operands non-negative; both engines' integer div agree).
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             epoch_us(ts) AS tus,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ), agg AS (
      SELECT user_id,
             CAST(sum(cents * (nxt - tus)) AS BIGINT) AS num,
             CAST(sum(nxt - tus) AS BIGINT) AS den,
             CAST(count(*) AS BIGINT) AS n_intervals
      FROM s WHERE nxt IS NOT NULL
      GROUP BY 1 HAVING sum(nxt - tus) > 0
    )
    SELECT user_id, n_intervals,
           CAST((num // den) * 1000 + ((num % den) * 1000) // den
                AS BIGINT) AS twap_milli_cents
    FROM agg
    ORDER BY twap_milli_cents DESC, user_id
    LIMIT 20
    """,
    doc="X155: time-weighted average value per user (the TWAP / "
    "sensor-mean primitive): each observation weighted by its holding "
    "interval (micros to the next event), so bursts don't dominate "
    "the mean the way row-weighted avg() lets them. Integer cents × "
    "integer micros throughout; the milli-precision mean uses exact "
    "split division (q·1000 + rem·1000 div den) because numerator×1000 "
    "would overflow int64 at 100 TB magnitudes. Scale shape: one "
    "per-user lead() window (partitioned, high-cardinality key) + "
    "map-side-combinable aggregate; output top-20 bounded.",
    tags=("stats", "windows", "events"),
)
def twap_user_value(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = events.select(
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.lead(F.unix_micros(F.col("ts").cast("timestamp"))).over(w_u).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    agg = (
        s.groupBy("user_id")
        .agg(
            F.sum(F.col("cents") * (F.col("nxt") - F.col("tus")))
            .cast("bigint")
            .alias("num"),
            F.sum(F.col("nxt") - F.col("tus")).cast("bigint").alias("den"),
            F.count("*").cast("bigint").alias("n_intervals"),
        )
        .filter(F.col("den") > 0)
    )
    return (
        agg.select(
            "user_id",
            "n_intervals",
            F.expr("(num div den) * 1000 + ((num % den) * 1000) div den")
            .cast("bigint")
            .alias("twap_milli_cents"),
        )
        .orderBy(F.col("twap_milli_cents").desc(), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# X156: exact Simpson diversity of languages per source
# ---------------------------------------------------------------------------

@register(
    "simpson_diversity_sources",
    # Simpson's D = 1 − Σ nᵢ(nᵢ−1)/(N(N−1)) is an exact rational; the
    # micro-scaled value uses NESTED split division (milli of the
    # remainder, then milli of ITS remainder) because num·10⁶ overflows
    # int64 at 100 TB corpus sizes while each staged product stays
    # < den·1000 ≤ ~2.5e18.
    oracle="""
    WITH c AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ), agg AS (
      SELECT source,
             CAST(sum(n) AS BIGINT) AS nd,
             CAST(count(*) AS BIGINT) AS n_langs,
             CAST(sum(n * (n - 1)) AS BIGINT) AS same
      FROM c GROUP BY 1
    ), d AS (
      SELECT source, nd, n_langs,
             nd * (nd - 1) - same AS num,
             nd * (nd - 1) AS den
      FROM agg WHERE nd > 1
    )
    SELECT source, nd AS n_docs, n_langs,
           CAST((num // den) * 1000000
                + ((num % den) * 1000 // den) * 1000
                + (((num % den) * 1000 % den) * 1000) // den
                AS BIGINT) AS simpson_micro
    FROM d ORDER BY source
    """,
    doc="X156: exact Simpson diversity index of the language mix per "
    "source — D = 1 − Σ nᵢ(nᵢ−1)/(N(N−1)), the probability two "
    "random docs from the source differ in language (0 = monolingual, "
    "→1 = uniform mix); the concentration metric a mix planner reads "
    "before balancing. Exact integer end to end: the micro-scaled "
    "value comes from NESTED split division (q·10⁶ + milli(r)·10³ + "
    "milli(milli-rem)) because numerator·10⁶ overflows int64 at 100 TB "
    "corpus sizes. Scale shape: one map-side (source, lang) census; "
    "everything after is |cells| rows.",
    tags=("stats", "sampling", "eval"),
)
def simpson_diversity_sources(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    agg = c.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("nd"),
        F.count("*").cast("bigint").alias("n_langs"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("bigint").alias("same"),
    )
    d = agg.filter(F.col("nd") > 1).select(
        "source", "nd", "n_langs",
        (F.col("nd") * (F.col("nd") - 1) - F.col("same")).alias("num"),
        (F.col("nd") * (F.col("nd") - 1)).alias("den"),
    )
    return d.select(
        "source",
        F.col("nd").alias("n_docs"),
        "n_langs",
        F.expr(
            "CAST((num div den) * 1000000"
            " + ((num % den) * 1000 div den) * 1000"
            " + (((num % den) * 1000 % den) * 1000) div den AS BIGINT)"
        ).alias("simpson_micro"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# X157: zone-map skipping audit (min/max pruning effectiveness)
# ---------------------------------------------------------------------------

@register(
    "zone_map_skipping_audit",
    # Zones simulate row-group/file min-max statistics: 64 docs per
    # zone keyed by (source, doc_id div 64). A zone is TOUCHED by the
    # predicate n_chars >= 450 iff its max reaches the bound; rows
    # scanned = all rows of touched zones; false positives = scanned
    # rows that fail the predicate — the number the layout (clustering
    # by n_chars) would eliminate.
    oracle="""
    WITH z AS (
      SELECT source, doc_id // 64 AS zone,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(max(n_chars) AS BIGINT) AS z_max,
             CAST(sum(CASE WHEN n_chars >= 450 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_match
      FROM documents GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_zones,
           CAST(sum(CASE WHEN z_max >= 450 THEN 1 ELSE 0 END) AS BIGINT)
             AS zones_touched,
           CAST(sum(n_rows) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN z_max >= 450 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_scanned,
           CAST(sum(n_match) AS BIGINT) AS rows_matched,
           CAST(sum(CASE WHEN z_max >= 450 THEN n_rows ELSE 0 END)
                - sum(n_match) AS BIGINT) AS false_positive_rows
    FROM z GROUP BY 1 ORDER BY 1
    """,
    doc="X157: zone-map (min/max statistics) skipping audit — simulate "
    "64-row zones per source and measure how well the predicate "
    "n_chars ≥ 450 prunes: zones touched, rows scanned vs matched, "
    "and the false-positive row count that a sort/Z-order layout "
    "would eliminate. This is the quantitative complement to "
    "zorder_layout_stats/partitioned_layout_pruning: it prices the "
    "CURRENT layout's skipping effectiveness before choosing to "
    "re-cluster. All integer; one map-side zone census.",
    tags=("layout", "pipeline", "stats"),
)
def zone_map_skipping_audit(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    z = docs.groupBy(
        "source", F.expr("doc_id div 64").alias("zone")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.max("n_chars").cast("bigint").alias("z_max"),
        F.sum(F.when(F.col("n_chars") >= 450, 1).otherwise(0))
        .cast("bigint")
        .alias("n_match"),
    )
    touched = F.when(F.col("z_max") >= 450, F.col("n_rows")).otherwise(0)
    return (
        z.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_zones"),
            F.sum(F.when(F.col("z_max") >= 450, 1).otherwise(0))
            .cast("bigint")
            .alias("zones_touched"),
            F.sum("n_rows").cast("bigint").alias("n_docs"),
            F.sum(touched).cast("bigint").alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_matched"),
            (F.sum(touched) - F.sum("n_match"))
            .cast("bigint")
            .alias("false_positive_rows"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X158: chunk-stitch census (suffix/prefix boundary matches)
# ---------------------------------------------------------------------------

@register(
    "chunk_stitch_census",
    # Docs whose trailing 2-gram equals another doc's leading 2-gram
    # are continuation candidates (re-assembly of split documents).
    # The count per boundary key is ns·np − nself — computed from two
    # censuses WITHOUT materializing a single pair (the naive self-join
    # explodes quadratically on hot boundary keys at corpus scale).
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), k AS (
      SELECT doc_id,
             ws[1] || ' ' || ws[2] AS pre2,
             ws[len(ws)-1] || ' ' || ws[len(ws)] AS suf2
      FROM w WHERE len(ws) >= 4
    ), pre AS (
      SELECT pre2 AS key, CAST(count(*) AS BIGINT) AS np
      FROM k GROUP BY 1
    ), suf AS (
      SELECT suf2 AS key, CAST(count(*) AS BIGINT) AS ns
      FROM k GROUP BY 1
    ), selfm AS (
      SELECT pre2 AS key, CAST(count(*) AS BIGINT) AS nself
      FROM k WHERE pre2 = suf2 GROUP BY 1
    ), j AS (
      SELECT suf.key, suf.ns, pre.np,
             CAST(coalesce(selfm.nself, 0) AS BIGINT) AS nself,
             CAST(suf.ns * pre.np - coalesce(selfm.nself, 0) AS BIGINT)
               AS n_pairs
      FROM suf JOIN pre ON suf.key = pre.key
      LEFT JOIN selfm ON selfm.key = suf.key
    )
    SELECT key AS boundary_2gram, ns AS n_suffix_docs, np AS n_prefix_docs,
           n_pairs
    FROM j WHERE n_pairs > 0
    ORDER BY n_pairs DESC, boundary_2gram
    LIMIT 20
    """,
    doc="X158: chunk-stitch census — documents whose trailing 2-gram "
    "matches another document's leading 2-gram are split-document "
    "continuation candidates (the re-assembly signal a chunked-crawl "
    "pipeline checks before treating chunks as independent docs). "
    "Pair counts come from suffix/prefix CENSUSES (ns·np − nself per "
    "boundary key) — no pair is ever materialized, so hot boundary "
    "keys cannot explode the join quadratically at 100 TB. Top-20 "
    "boundary keys, fully tie-broken.",
    tags=("dedup", "pipeline", "text"),
)
def chunk_stitch_census(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    # The prefix/suffix proxy rows feed three censuses (pre, suf, selfm);
    # checkpoint once so the text split runs once, not three times
    # (r13 audit: 3 document scans → 1).
    k = materialize(w.filter(F.size("ws") >= 4).select(
        "doc_id",
        F.concat(
            F.col("ws").getItem(0), F.lit(" "), F.col("ws").getItem(1)
        ).alias("pre2"),
        F.concat(
            F.element_at(F.col("ws"), -2), F.lit(" "), F.element_at(F.col("ws"), -1)
        ).alias("suf2"),
    ))
    pre = k.groupBy(F.col("pre2").alias("key")).agg(
        F.count("*").cast("bigint").alias("np")
    )
    suf = k.groupBy(F.col("suf2").alias("key")).agg(
        F.count("*").cast("bigint").alias("ns")
    )
    selfm = (
        k.filter(F.col("pre2") == F.col("suf2"))
        .groupBy(F.col("pre2").alias("key"))
        .agg(F.count("*").cast("bigint").alias("nself"))
    )
    j = (
        suf.join(pre, "key")
        .join(selfm, "key", "left")
        .select(
            "key", "ns", "np",
            F.coalesce(F.col("nself"), F.lit(0)).cast("bigint").alias("nself"),
            (F.col("ns") * F.col("np") - F.coalesce(F.col("nself"), F.lit(0)))
            .cast("bigint")
            .alias("n_pairs"),
        )
        .filter(F.col("n_pairs") > 0)
    )
    return (
        j.select(
            F.col("key").alias("boundary_2gram"),
            F.col("ns").alias("n_suffix_docs"),
            F.col("np").alias("n_prefix_docs"),
            "n_pairs",
        )
        .orderBy(F.col("n_pairs").desc(), "boundary_2gram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# X159: Hill tail-index estimator per source
# ---------------------------------------------------------------------------

@register(
    "hill_tail_index_sources",
    # Hill estimator over the top-51 order statistics per source:
    # 1/α̂ = (1/50)·Σ ln(x_(i)/x_(51)). The ln calls run per-row on
    # identical doubles; the 50-term FP sum accumulates in a
    # deterministic-order cumulative window (ORDER BY rk, the
    # kaplan_meier exp(Σ ln) idiom — r12 ADVICE) so the FP step
    # sequence is bit-identical on both engines, not
    # partitioning-dependent. Ties can zero the sum → nullif guards
    # the ANSI division.
    oracle=f"""
    WITH r AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    ), tail AS (
      SELECT source, n_chars, rk,
             max(CASE WHEN rk = 51 THEN n_chars END)
               OVER (PARTITION BY source) AS xk
      FROM r WHERE rk <= 51
    ), cum AS (
      SELECT source, rk,
             sum(ln(CAST(n_chars AS DOUBLE) / xk))
               OVER (PARTITION BY source ORDER BY rk
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lnsum,
             max(rk) OVER (PARTITION BY source) AS maxrk,
             CAST(xk AS BIGINT) AS x_tail_min
      FROM tail WHERE rk <= 50
    ), s AS (
      SELECT source, lnsum, x_tail_min FROM cum WHERE rk = maxrk
    )
    SELECT source, x_tail_min,
           {stable_round_sql("lnsum", 6)} AS hill_lnsum,
           {stable_round_sql("50.0 / nullif(lnsum, 0)", 4)} AS hill_alpha
    FROM s ORDER BY source
    """,
    doc="X159: Hill tail-index estimator of the doc-length "
    "distribution per source (top-51 order statistics; α̂ = 50 / "
    "Σ ln(x_(i)/x_(51))) — the heavy-tail diagnostic that prices "
    "truncation policy: α ≤ ~2 means a handful of giant docs carry a "
    "material share of the token mass and per-doc caps change the "
    "corpus; large α means the tail is ignorable. Scale shape: "
    "per-source partitioned top-k window (never global), 51 rows per "
    "source thereafter; the ln-sum runs in a rk-ordered cumulative "
    "window (deterministic FP order on both engines); ties zero the "
    "log-sum → nullif guards the division (ANSI).",
    tags=("stats", "drift", "eval"),
)
def hill_tail_index_sources(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w_s = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    r = docs.select(
        "source", "n_chars", "doc_id", F.row_number().over(w_s).alias("rk")
    ).filter(F.col("rk") <= 51)
    tail = r.select(
        "source", "n_chars", "rk",
        F.max(F.when(F.col("rk") == 51, F.col("n_chars")))
        .over(Window.partitionBy("source"))
        .alias("xk"),
    )
    # Deterministic-order FP accumulation: the 50 ln() terms sum in a
    # rk-ordered cumulative window (not a groupBy aggregate, whose
    # accumulation order is partitioning-dependent and differs from
    # DuckDB's), then the last row per source carries the full sum —
    # the kaplan_meier idiom.
    w_cum = (
        Window.partitionBy("source")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = tail.filter(F.col("rk") <= 50).select(
        "source",
        "rk",
        F.sum(F.log(F.col("n_chars").cast("double") / F.col("xk")))
        .over(w_cum)
        .alias("lnsum"),
        F.max("rk").over(Window.partitionBy("source")).alias("maxrk"),
        F.col("xk").cast("bigint").alias("x_tail_min"),
    )
    s = cum.filter(F.col("rk") == F.col("maxrk"))
    return s.select(
        "source",
        "x_tail_min",
        stable_round(F.col("lnsum"), 6).alias("hill_lnsum"),
        stable_round(
            F.lit(50.0) / F.expr("nullif(lnsum, 0.0)"), 4
        ).alias("hill_alpha"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# X160: differentially-private noisy counts (seeded Laplace mechanism)
# ---------------------------------------------------------------------------

@register(
    "dp_noisy_source_counts",
    # The Laplace mechanism at ε=1 (sensitivity 1 for a count): noise
    # = −sign(u−½)·ln(1−2|u−½|), u from the registry's seeded-md5
    # idiom (micro-uniform + ½ micro so u ∈ (0,1) strictly). The whole
    # noise expression is per-row over identical doubles — bit-
    # identical engines — and the released value is stable-rounded.
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_true
      FROM documents GROUP BY 1
    ), u AS (
      SELECT source, n_true,
             (CAST(('0x' || substr(md5('dp12:' || source), 1, 13))::UBIGINT
                   % 1000000 AS DOUBLE) + 0.5) / 1000000.0 AS uu
      FROM c
    )
    SELECT source, n_true,
           {stable_round_sql(
               "n_true - CASE WHEN uu >= 0.5 THEN 1.0 ELSE -1.0 END"
               " * ln(1.0 - 2.0 * abs(uu - 0.5))", 3)} AS n_noisy
    FROM u ORDER BY source
    """,
    doc="X160: differentially-private count release per source — the "
    "Laplace mechanism at ε=1 (sensitivity-1 count query), the "
    "aggregate-release primitive a privacy-bound curation report "
    "uses. Noise is SEEDED (md5 of the group key through the exact "
    "inverse Laplace CDF) so the release is reproducible and both "
    "engines draw bit-identical noise — the per-row double expression "
    "is identical IEEE steps; no FP sum anywhere. Scale shape: one "
    "map-side census; noise is O(|groups|) row expressions.",
    tags=("stats", "pipeline", "eval"),
)
def dp_noisy_source_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_true"))
    uu = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp12:"), F.col("source"))), 1, 13),
            16,
            10,
        ).cast("bigint")
        % 1000000
    ).cast("double")
    u = c.select("source", "n_true", ((uu + 0.5) / 1000000.0).alias("uu"))
    noise = (
        F.when(F.col("uu") >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - 2.0 * F.abs(F.col("uu") - 0.5))
    )
    return u.select(
        "source",
        "n_true",
        stable_round(F.col("n_true") - noise, 3).alias("n_noisy"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# X161: k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

@register(
    "k_anonymity_audit",
    oracle="""
    WITH q AS (
      SELECT source, lang, n_chars // 50 AS len_band,
             CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS risky_groups,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS risky_docs,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 1000000
                // sum(n) AS BIGINT) AS suppressed_ppm
    FROM q GROUP BY 1 ORDER BY 1
    """,
    doc="X161: k-anonymity audit (k=5) over the quasi-identifier "
    "(lang, 50-char length band) per source — groups smaller than k "
    "are re-identification risks a privacy-preserving release must "
    "suppress or generalize; `suppressed_ppm` prices that suppression "
    "per source. Pairs with the Laplace release (X160): one audits "
    "the microdata, the other releases the aggregate. All integer; "
    "one map-side quasi-identifier census.",
    tags=("stats", "pipeline", "eval"),
)
def k_anonymity_audit(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    q = docs.groupBy(
        "source", "lang", F.expr("n_chars div 50").alias("len_band")
    ).agg(F.count("*").cast("bigint").alias("n"))
    risky = F.when(F.col("n") < 5, F.col("n")).otherwise(0)
    return (
        q.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("n") < 5, 1).otherwise(0))
            .cast("bigint")
            .alias("risky_groups"),
            F.sum(risky).cast("bigint").alias("risky_docs"),
            F.sum("n").cast("bigint").alias("n_docs"),
            F.expr(
                "CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 1000000"
                " div sum(n) AS BIGINT)"
            ).alias("suppressed_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X162: gaps-and-islands — activity streak census
# ---------------------------------------------------------------------------

@register(
    "gaps_islands_activity_streaks",
    # The classic gaps-and-islands identity: within a user's sorted
    # distinct active days, day − row_number() is constant exactly on
    # consecutive runs — islands fall out of one partitioned window +
    # one groupBy, no self-join, no recursion.
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
      FROM events
    ), r AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM d
    ), isl AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
      FROM r GROUP BY 1, 2
    )
    SELECT len AS island_len,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM isl GROUP BY 1 ORDER BY 1
    """,
    doc="X162: gaps-and-islands over user activity days — consecutive-"
    "day streak census via the day − row_number() constant-group "
    "identity (the classic SQL islands pattern: one PARTITIONED "
    "window + one aggregate, no self-join, no recursion). Output is "
    "the streak-length histogram (n_islands, distinct users) — the "
    "engagement-continuity profile retention models consume. Scale "
    "shape: DISTINCT (user, day) collapses the corpus first "
    "(map-side), the window partitions by user_id (high-cardinality "
    "key), output bounded by max streak length.",
    tags=("windows", "events", "stats"),
)
def gaps_islands_activity_streaks(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    d = events.select(
        "user_id", F.expr("unix_date(CAST(ts AS DATE))").cast("bigint").alias("day")
    ).distinct()
    r = d.select(
        "user_id", "day",
        (
            F.col("day")
            - F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
        ).alias("grp"),
    )
    isl = r.groupBy("user_id", "grp").agg(
        F.count("*").cast("bigint").alias("len")
    )
    return (
        isl.groupBy(F.col("len").alias("island_len"))
        .agg(
            F.count("*").cast("bigint").alias("n_islands"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("island_len")
    )


# ---------------------------------------------------------------------------
# X163: cumulative new-user (first-seen) curve
# ---------------------------------------------------------------------------

@register(
    "cumulative_new_users_daily",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
               AS first_day
      FROM events GROUP BY 1
    ), d AS (
      SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new
      FROM f GROUP BY 1
    )
    SELECT CAST(day AS BIGINT) AS day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM d ORDER BY day
    """,
    doc="X163: cumulative new-user curve — each user attributed to their "
    "FIRST active day (min-day aggregate, one shuffle on the "
    "high-cardinality user key), then a day-level running total (the "
    "cumulative-distinct-over-time metric that naive COUNT(DISTINCT) "
    "per day recomputes from scratch each day — this form scans the "
    "corpus once). The final window runs over |days| rows only. All "
    "integer.",
    tags=("windows", "events", "stats"),
)
def cumulative_new_users_daily(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    f = events.groupBy("user_id").agg(
        F.min(F.expr("unix_date(CAST(ts AS DATE))")).cast("bigint").alias("first_day")
    )
    d = f.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        F.col("day").cast("bigint").alias("day"),
        "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("cum_users"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# X164: deterministic mode (most frequent value with total tie order)
# ---------------------------------------------------------------------------

@register(
    "mode_event_type_by_hour",
    # Both engines ship a mode() aggregate but neither documents its
    # tie order — the census + rank form makes the tie-break explicit
    # (count desc, type asc) and therefore cross-engine deterministic.
    oracle="""
    WITH c AS (
      SELECT EXTRACT(hour FROM ts) AS hr, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY hr
                                   ORDER BY n DESC, event_type) AS rk
      FROM c
    )
    SELECT CAST(hr AS BIGINT) AS hour, event_type AS mode_type,
           n AS mode_count
    FROM r WHERE rk = 1 ORDER BY hour
    """,
    doc="X164: deterministic statistical mode — most frequent event "
    "type per hour of day. Built-in mode() aggregates leave tie order "
    "engine-defined; the census + rank form pins it (count desc, type "
    "asc), which is what makes the result reproducible across engines "
    "and runs — the determinism discipline applied to the one "
    "aggregate where it's usually ignored. Scale shape: map-side "
    "(hour, type) census (24·|types| rows), rank window over the "
    "census.",
    tags=("stats", "relational", "events"),
)
def mode_event_type_by_hour(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    c = events.groupBy(
        F.hour("ts").alias("hr"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("n"))
    r = c.select(
        "*",
        F.row_number()
        .over(Window.partitionBy("hr").orderBy(F.col("n").desc(), "event_type"))
        .alias("rk"),
    )
    return (
        r.filter(F.col("rk") == 1)
        .select(
            F.col("hr").cast("bigint").alias("hour"),
            F.col("event_type").alias("mode_type"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# X165: order-independent table checksum (replication diff primitive)
# ---------------------------------------------------------------------------

@register(
    "table_checksum_by_source",
    # bit_xor of a per-row md5-52bit digest is ORDER-INDEPENDENT and
    # partition-local (xor is commutative/associative → map-side
    # combinable), so two replicas of a 100 TB table compare with one
    # aggregate each and zero data movement — the anti-entropy
    # primitive behind replica repair. doc_id sum is the cheap second
    # channel (catches the xor's even-multiplicity blind spot for
    # duplicated rows).
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(CAST(('0x' || substr(md5(
                 CAST(doc_id AS VARCHAR) || ':' || CAST(n_chars AS VARCHAR)
               ), 1, 13))::UBIGINT AS BIGINT)) AS BIGINT) AS xor_sig,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM documents GROUP BY 1 ORDER BY 1
    """,
    doc="X165: order-independent table checksum per source — bit_xor "
    "over a per-row md5 digest of the business key+payload columns, "
    "plus a key-sum channel (xor alone is blind to even-multiplicity "
    "duplicates). Because xor is commutative and associative the "
    "aggregate is fully map-side combinable: two replicas of a 100 TB "
    "table verify with one scan each and a |groups|-row exchange — "
    "the anti-entropy/replica-repair primitive, and the cheap "
    "pre-check before the row-level snapshot_diff_cdc. Deterministic "
    "by construction (no ordering anywhere).",
    tags=("pipeline", "eval", "stats"),
)
def table_checksum_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    digest = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("n_chars").cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.bit_xor(digest).cast("bigint").alias("xor_sig"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X166: Kaplan-Meier survival curve (time from first view to purchase)
# ---------------------------------------------------------------------------

@register(
    "kaplan_meier_time_to_purchase",
    # Discrete KM over day-granular durations: users with a first view
    # enter at risk; conversion = first purchase at/after it; users
    # without one are right-censored at the corpus horizon. n_at_risk
    # and event counts are exact integers from a day census; the
    # survival product is exp(Σ ln((n−d)/n)) over EVENT days — a
    # cumulative window in deterministic day order, stable-rounded
    # (rows where d = n would be ln(0) and are filtered; censoring at
    # the horizon makes them impossible on this data shape anyway).
    oracle=f"""
    WITH pu AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               AS t0,
             max(epoch_us(ts)) AS tmaxu
      FROM events GROUP BY 1
    ), hz AS (
      SELECT max(tmaxu) AS horizon FROM pu
    ), conv AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS te
      FROM events e JOIN pu ON pu.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND pu.t0 IS NOT NULL
        AND epoch_us(e.ts) >= pu.t0
      GROUP BY 1
    ), dur AS (
      SELECT pu.user_id,
             CASE WHEN conv.te IS NOT NULL
                  THEN (conv.te - pu.t0) // 86400000000
                  ELSE (hz.horizon - pu.t0) // 86400000000 END AS d,
             CASE WHEN conv.te IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM pu CROSS JOIN hz
      LEFT JOIN conv ON conv.user_id = pu.user_id
      WHERE pu.t0 IS NOT NULL
    ), census AS (
      SELECT d, CAST(sum(ev) AS BIGINT) AS n_events,
             CAST(sum(1 - ev) AS BIGINT) AS n_censored
      FROM dur GROUP BY 1
    ), risk AS (
      SELECT d, n_events, n_censored,
             CAST((SELECT count(*) FROM dur)
                  - coalesce(sum(n_events + n_censored) OVER (ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_at_risk
      FROM census
    ), km AS (
      SELECT d, n_at_risk, n_events, n_censored,
             exp(sum(ln(CAST(n_at_risk - n_events AS DOUBLE) / n_at_risk))
                 OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS s
      FROM risk WHERE n_events > 0 AND n_events < n_at_risk
    )
    SELECT CAST(d AS BIGINT) AS day, n_at_risk, n_events, n_censored,
           {stable_round_sql("s", 6)} AS km_survival
    FROM km ORDER BY day
    """,
    doc="X166: Kaplan-Meier survival curve for time-to-conversion "
    "(first view → first purchase, right-censored at the corpus "
    "horizon) — the survival-analysis primitive behind retention/"
    "conversion-lag reporting, done with exact integer at-risk and "
    "event counts from ONE duration census (risk set via prefix "
    "subtraction, never a per-day rescan). The survival product is "
    "exp(Σ ln((n−d)/n)) over event days — a deterministic-order "
    "cumulative window over ≤|span| rows, stable-rounded. Scale "
    "shape: two user-keyed aggregates (map-side combinable) + one "
    "|days| window; the corpus is scanned twice (views+purchases), "
    "never per day.",
    tags=("stats", "events", "eval"),
)
def kaplan_meier_time_to_purchase(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    eus = F.unix_micros(F.col("ts").cast("timestamp"))
    # pu and dur are USER-bounded (tiny next to the corpus) and each
    # feeds 2+ downstream branches — materialize() pins them so the
    # events scan runs exactly twice (pu + the purchase leg), not once
    # per consuming branch (pinned by test_plan_shapes)
    pu = materialize(
        events.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", eus)).alias("t0"),
            F.max(eus).alias("tmaxu"),
        )
    )
    hz = pu.agg(F.max("tmaxu").alias("horizon"))
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", eus.alias("tp"))
        .join(pu.filter(F.col("t0").isNotNull()).select("user_id", "t0"), "user_id")
        .filter(F.col("tp") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("te"))
    )
    dur = materialize(
        pu.filter(F.col("t0").isNotNull())
        .crossJoin(F.broadcast(hz))
        .join(conv, "user_id", "left")
        .select(
            "user_id",
            F.when(
                F.col("te").isNotNull(),
                F.expr("(te - t0) div 86400000000"),
            )
            .otherwise(F.expr("(horizon - t0) div 86400000000"))
            .alias("d"),
            F.when(F.col("te").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    census = dur.groupBy("d").agg(
        F.sum("ev").cast("bigint").alias("n_events"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("n_censored"),
    )
    n_total = dur.agg(F.count("*").cast("bigint").alias("nt"))
    w_prev = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    risk = census.crossJoin(F.broadcast(n_total)).select(
        "d", "n_events", "n_censored",
        (
            F.col("nt")
            - F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(w_prev),
                F.lit(0),
            )
        )
        .cast("bigint")
        .alias("n_at_risk"),
    )
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    km = risk.filter(
        (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_at_risk"))
    ).select(
        "d", "n_at_risk", "n_events", "n_censored",
        F.exp(
            F.sum(
                F.log(
                    (F.col("n_at_risk") - F.col("n_events")).cast("double")
                    / F.col("n_at_risk")
                )
            ).over(w_cum)
        ).alias("s"),
    )
    return km.select(
        F.col("d").cast("bigint").alias("day"),
        "n_at_risk",
        "n_events",
        "n_censored",
        stable_round(F.col("s"), 6).alias("km_survival"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# X167: exact-integer Fano factor (burstiness) per event type
# ---------------------------------------------------------------------------

@register(
    "fano_burstiness_event_types",
    # Fano = var/mean of daily counts. n²·var_pop = n·Σx² − (Σx)² is an
    # EXACT integer, so Fano = (n·Σx² − (Σx)²) / (n·Σx) needs no FP
    # variance at all; milli precision via the split-division pattern
    # (num·1000 would overflow int64 at 100 TB daily volumes).
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY 1
    ), f AS (
      SELECT event_type, n_days, sx,
             n_days * sxx - sx * sx AS num,
             n_days * sx AS den
      FROM s
    )
    SELECT event_type, n_days, sx AS n_events,
           CAST((num // den) * 1000 + ((num % den) * 1000) // den
                AS BIGINT) AS fano_milli
    FROM f ORDER BY event_type
    """,
    doc="X167: exact-integer Fano factor (burstiness index) of daily "
    "event counts per type — var/mean ≈ 1 is Poisson-like arrival, "
    "≫1 is bursty, ≪1 is regular (the dispersion diagnostic behind "
    "rate-anomaly thresholds). The trick: n²·var_pop = n·Σx² − (Σx)² "
    "is an EXACT int64, so no FP variance exists anywhere — Fano at "
    "milli precision via split division (num·1000 overflows int64 at "
    "100 TB daily volumes; q·1000 + rem·1000 div den never does). "
    "Scale shape: one map-side (type, day) census, then |types| rows.",
    tags=("stats", "events", "drift"),
)
def fano_burstiness_event_types(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.expr("unix_date(CAST(ts AS DATE))").cast("bigint").alias("day"),
    ).agg(F.count("*").cast("bigint").alias("x"))
    s = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    f = s.select(
        "event_type", "n_days", "sx",
        (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("num"),
        (F.col("n_days") * F.col("sx")).alias("den"),
    )
    return f.select(
        "event_type",
        "n_days",
        F.col("sx").alias("n_events"),
        F.expr("CAST((num div den) * 1000 + ((num % den) * 1000) div den AS BIGINT)")
        .alias("fano_milli"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# X168: odds ratio of long docs per source (2×2 exact cross products)
# ---------------------------------------------------------------------------

@register(
    "odds_ratio_long_docs_by_source",
    # "Long" = n_chars ≥ the DISCRETE global median (type-1 order
    # statistic via the census straddle — the quantiles policy). The
    # 2×2 odds ratio per source-vs-rest uses exact integer cross
    # products a·d and b·c; milli value via split division, NULL when
    # a margin is empty (nullif guards the ANSI division).
    oracle="""
    WITH g AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1
    ), med AS (
      SELECT min(v) AS m FROM (
        SELECT v, sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(c) OVER () AS n
        FROM g
      ) WHERE cw * 2 >= n
    ), cls AS (
      SELECT source,
             CAST(sum(CASE WHEN n_chars >= med.m THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN n_chars < med.m THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM documents CROSS JOIN med GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
      FROM cls
    )
    SELECT source, a AS n_long, b AS n_short,
           CAST((a * (tb - b)) AS BIGINT) AS ad,
           CAST((b * (ta - a)) AS BIGINT) AS bc,
           CAST(CASE WHEN b * (ta - a) > 0 THEN
                  (a * (tb - b) // (b * (ta - a))) * 1000
                  + ((a * (tb - b) % (b * (ta - a))) * 1000)
                    // (b * (ta - a))
                END AS BIGINT) AS odds_ratio_milli
    FROM cls CROSS JOIN tot ORDER BY source
    """,
    doc="X168: odds ratio of long documents per source vs the rest — "
    "the 2×2 effect-size statistic (epidemiology's workhorse) over "
    "the 'long doc' indicator cut at the DISCRETE global median "
    "(type-1 order statistic, quantiles policy — no interpolated "
    "boundary). Exact integer cross products a·d / b·c; milli "
    "precision via split division; NULL when a margin is empty. "
    "Scale shape: one value census for the median + one map-side "
    "per-source 2-counter aggregate; output |sources| rows.",
    tags=("stats", "drift", "eval"),
)
def odds_ratio_long_docs_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    med = (
        g.select(
            "v",
            F.sum("c").over(w_cum).alias("cw"),
            F.sum("c").over(w_all).alias("n"),
        )
        .filter(F.col("cw") * 2 >= F.col("n"))
        .agg(F.min("v").alias("m"))
    )
    # |sources|-row 2×2 table checkpointed: it feeds the totals AND the
    # final projection — the old shape re-ran the corpus classification
    # scan twice (r13 audit: 4 document scans → 2).
    cls = materialize(
        docs.crossJoin(F.broadcast(med))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("n_chars") >= F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(F.col("n_chars") < F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("b"),
        )
    )
    tot = cls.agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
    )
    return (
        cls.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("a").alias("n_long"),
            F.col("b").alias("n_short"),
            (F.col("a") * (F.col("tb") - F.col("b"))).cast("bigint").alias("ad"),
            (F.col("b") * (F.col("ta") - F.col("a"))).cast("bigint").alias("bc"),
            F.expr(
                "CAST(CASE WHEN b * (ta - a) > 0 THEN"
                " (a * (tb - b) div (b * (ta - a))) * 1000"
                " + ((a * (tb - b) % (b * (ta - a))) * 1000)"
                "   div (b * (ta - a)) END AS BIGINT)"
            ).alias("odds_ratio_milli"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X169: log2-bucketed latency histogram (HDR-style), exact integer buckets
# ---------------------------------------------------------------------------

@register(
    "log2_latency_histogram",
    # floor(log2(x)) via FP log2 is WRONG at exact powers of two (k−ε
    # on one engine floors to k−1) — instead length(bin(x)) − 1 is the
    # exact integer log2 on BOTH engines (bin() renders the binary
    # string; its length is bit_length). The HDR-histogram trick with
    # zero FP anywhere.
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ), b AS (
      SELECT event_type, gap_us,
             CAST(length(bin(gap_us)) - 1 AS BIGINT) AS log2_bucket
      FROM g WHERE gap_us IS NOT NULL AND gap_us > 0
    )
    SELECT event_type, log2_bucket,
           CAST(power(2, log2_bucket) AS BIGINT) AS bucket_lo_us,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM b GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="X169: HDR-style log2-bucketed inter-event gap histogram per "
    "event type — the fixed-memory latency-distribution structure "
    "observability systems keep (exponential buckets, exact counts). "
    "The bucket index is length(bin(gap)) − 1: EXACT integer log2 on "
    "both engines, immune to the floor(log2(2^k)) = k−1 FP boundary "
    "bug that hits power-of-two gaps. Scale shape: one per-user "
    "partitioned lag window + a map-side (type, bucket) census; "
    "output ≤ |types|·64 rows regardless of corpus size.",
    tags=("stats", "events", "windows"),
)
def log2_latency_histogram(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    eus = F.unix_micros(F.col("ts").cast("timestamp"))
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select(
        "event_type", (eus - F.lag(eus).over(w_u)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
    bucket = (F.length(F.bin(F.col("gap_us"))) - 1).cast("bigint")
    return (
        g.groupBy("event_type", bucket.alias("log2_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_gaps"),
            F.min("gap_us").cast("bigint").alias("min_gap_us"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
        .select(
            "event_type",
            "log2_bucket",
            F.pow(F.lit(2), F.col("log2_bucket")).cast("bigint").alias("bucket_lo_us"),
            "n_gaps",
            "min_gap_us",
            "max_gap_us",
        )
        .orderBy("event_type", "log2_bucket")
    )


# ---------------------------------------------------------------------------
# X170: distribution-free median CI via binomial order-statistic ranks
# ---------------------------------------------------------------------------

@register(
    "median_ci_order_statistic",
    # The classic distribution-free CI for the median: order statistics
    # at ranks n/2 ∓ z·√n/2 cover the true median with ~95% confidence
    # for ANY distribution. The rank arithmetic runs the same IEEE
    # steps on both engines (one sqrt per group) and floors to
    # integers; the bounds themselves are DISCRETE order statistics
    # via the rank window — no interpolation anywhere.
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ), r AS (
      SELECT priority, cents,
             CAST(row_number() OVER (PARTITION BY priority
                  ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY priority) AS BIGINT) AS n
      FROM c
    ), k AS (
      SELECT priority, cents, rn, n,
             greatest(CAST(floor((n - 1.959964 * sqrt(CAST(n AS DOUBLE)))
                           / 2e0) AS BIGINT), 1) AS lo_rank,
             least(CAST(ceil(1e0 + (n + 1.959964 * sqrt(CAST(n AS DOUBLE)))
                         / 2e0) AS BIGINT), n) AS hi_rank,
             (n + 1) // 2 AS med_rank
      FROM r
    )
    SELECT priority, CAST(max(n) AS BIGINT) AS n,
           CAST(max(CASE WHEN rn = med_rank THEN cents END) AS BIGINT)
             AS median_cents,
           CAST(max(CASE WHEN rn = lo_rank THEN cents END) AS BIGINT)
             AS ci_lo_cents,
           CAST(max(CASE WHEN rn = hi_rank THEN cents END) AS BIGINT)
             AS ci_hi_cents,
           CAST(max(lo_rank) AS BIGINT) AS lo_rank,
           CAST(max(hi_rank) AS BIGINT) AS hi_rank
    FROM k GROUP BY priority ORDER BY priority
    """,
    doc="X170: distribution-free 95% CI for the median per order "
    "priority — order statistics at the binomial ranks n/2 ∓ z√n/2, "
    "valid for ANY distribution (no normality, no bootstrap "
    "replicates; the one-pass exact companion to the Poisson "
    "bootstrap X152). The median and both bounds are DISCRETE order "
    "statistics (type-1, quantiles policy); the only FP is one sqrt "
    "per group running identical IEEE steps on both engines before "
    "flooring to a rank. Scale shape: per-priority partitioned rank "
    "window (5 groups), integer cents end to end.",
    tags=("stats", "relational", "eval"),
)
def median_ci_order_statistic(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    w_p = Window.partitionBy("priority")
    r = c.select(
        "priority", "cents",
        F.row_number()
        .over(w_p.orderBy("cents", "o_orderkey"))
        .cast("bigint")
        .alias("rn"),
        F.count("*").over(w_p).cast("bigint").alias("n"),
    )
    sq = F.sqrt(F.col("n").cast("double"))
    k = r.select(
        "priority", "cents", "rn", "n",
        F.greatest(
            F.floor((F.col("n") - 1.959964 * sq) / F.lit(2.0)).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("lo_rank"),
        F.least(
            F.ceil(F.lit(1.0) + (F.col("n") + 1.959964 * sq) / F.lit(2.0)).cast(
                "bigint"
            ),
            F.col("n"),
        ).alias("hi_rank"),
        F.expr("(n + 1) div 2").alias("med_rank"),
    )
    return (
        k.groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max(F.when(F.col("rn") == F.col("med_rank"), F.col("cents")))
            .cast("bigint")
            .alias("median_cents"),
            F.max(F.when(F.col("rn") == F.col("lo_rank"), F.col("cents")))
            .cast("bigint")
            .alias("ci_lo_cents"),
            F.max(F.when(F.col("rn") == F.col("hi_rank"), F.col("cents")))
            .cast("bigint")
            .alias("ci_hi_cents"),
            F.max("lo_rank").cast("bigint").alias("lo_rank"),
            F.max("hi_rank").cast("bigint").alias("hi_rank"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# X171: exact-integer Durbin-Watson over the daily series
# ---------------------------------------------------------------------------

@register(
    "durbin_watson_daily_events",
    # DW = Σ(e_t − e_{t−1})² / Σe_t². The mean CANCELS in first
    # differences (e_t − e_{t−1} = x_t − x_{t−1}) and n·Σe² =
    # n·Σx² − S², so DW = n·Σ(Δx)² / (n·Σx² − S²) is a ratio of exact
    # int64s — the serial-correlation diagnostic with zero FP. Milli
    # precision via split division.
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), dx AS (
      SELECT event_type, day, x,
             x - lag(x) OVER (PARTITION BY event_type ORDER BY day) AS d
      FROM daily
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(d * d) AS BIGINT) AS sdd
      FROM dx GROUP BY 1
    ), f AS (
      SELECT event_type, n,
             n * sdd AS num,
             n * sxx - sx * sx AS den
      FROM s WHERE n * sxx - sx * sx > 0
    )
    SELECT event_type, n AS n_days,
           CAST((num // den) * 1000 + ((num % den) * 1000) // den
                AS BIGINT) AS dw_milli
    FROM f ORDER BY event_type
    """,
    doc="X171: exact-integer Durbin-Watson statistic of the daily "
    "event-count series per type — the serial-correlation diagnostic "
    "(≈2 = independent days, →0 = positively autocorrelated/trending, "
    "→4 = alternating) behind 'is this series i.i.d. enough to "
    "threshold?'. The arithmetic identity that makes it exact: the "
    "mean cancels in first differences and n·Σe² = n·Σx² − S², so "
    "DW = n·Σ(Δx)²/(n·Σx² − S²) is a pure int64 ratio — no FP "
    "residuals anywhere; milli precision via split division. Scale "
    "shape: map-side (type, day) census + a |days| lag window per "
    "type.",
    tags=("stats", "events", "drift"),
)
def durbin_watson_daily_events(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.expr("unix_date(CAST(ts AS DATE))").cast("bigint").alias("day"),
    ).agg(F.count("*").cast("bigint").alias("x"))
    dx = daily.select(
        "event_type", "day", "x",
        (
            F.col("x")
            - F.lag("x").over(Window.partitionBy("event_type").orderBy("day"))
        ).alias("d"),
    )
    s = dx.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
    )
    f = s.select(
        "event_type", "n",
        (F.col("n") * F.col("sdd")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    ).filter(F.col("den") > 0)
    return f.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr("CAST((num div den) * 1000 + ((num % den) * 1000) div den AS BIGINT)")
        .alias("dw_milli"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# X172: Wald-Wolfowitz runs test over the daily series
# ---------------------------------------------------------------------------

@register(
    "runs_test_daily_events",
    # Randomness of the daily series around its own DISCRETE median:
    # days strictly above/below form a binary sequence; the observed
    # run count vs its exact expectation 1 + 2·n1·n2/(n1+n2) flags
    # trending (too few runs) or oscillation (too many). Median ties
    # are dropped (standard); expectation at milli precision via split
    # division — integer end to end.
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), med AS (
      SELECT event_type, min(x) AS m FROM (
        SELECT event_type, x,
               sum(1) OVER (PARTITION BY event_type ORDER BY x, day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM daily
      ) WHERE cw * 2 >= n GROUP BY 1
    ), sgn AS (
      SELECT d.event_type, d.day,
             CASE WHEN d.x > med.m THEN 1 ELSE 0 END AS s
      FROM daily d JOIN med ON med.event_type = d.event_type
      WHERE d.x <> med.m
    ), run_flags AS (
      SELECT event_type, s,
             CASE WHEN lag(s) OVER (PARTITION BY event_type ORDER BY day)
                       IS DISTINCT FROM s THEN 1 ELSE 0 END AS new_run
      FROM sgn
    ), agg AS (
      SELECT event_type,
             CAST(sum(new_run) AS BIGINT) AS runs,
             CAST(sum(s) AS BIGINT) AS n_above,
             CAST(sum(1 - s) AS BIGINT) AS n_below
      FROM run_flags GROUP BY 1
    )
    SELECT event_type, runs, n_above, n_below,
           CAST(1000 + (2 * n_above * n_below * 1000)
                // (n_above + n_below) AS BIGINT) AS expected_runs_milli
    FROM agg WHERE n_above > 0 AND n_below > 0
    ORDER BY event_type
    """,
    doc="X172: Wald-Wolfowitz runs test of the daily event-count "
    "series per type — days strictly above/below the series' own "
    "DISCRETE median form a binary sequence; observed runs vs the "
    "exact expectation 1 + 2n₁n₂/(n₁+n₂) flags trend (too few runs) "
    "or oscillation (too many), the distribution-free companion to "
    "Durbin-Watson (X171). Ties at the median dropped (standard "
    "treatment); all integer, expectation at milli via one division. "
    "Scale shape: (type, day) census + two windows over |days| rows "
    "per type.",
    tags=("stats", "events", "drift"),
)
def runs_test_daily_events(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.expr("unix_date(CAST(ts AS DATE))").cast("bigint").alias("day"),
    ).agg(F.count("*").cast("bigint").alias("x"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("x", "day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_n = Window.partitionBy("event_type")
    med = (
        daily.select(
            "event_type", "x",
            F.sum(F.lit(1)).over(w_cum).alias("cw"),
            F.count("*").over(w_n).alias("n"),
        )
        .filter(F.col("cw") * 2 >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("x").alias("m"))
    )
    sgn = (
        daily.join(F.broadcast(med), "event_type")
        .filter(F.col("x") != F.col("m"))
        .select(
            "event_type", "day",
            F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("s"),
        )
    )
    w_d = Window.partitionBy("event_type").orderBy("day")
    run_flags = sgn.select(
        "event_type", "s",
        F.when(
            ~F.lag("s").over(w_d).eqNullSafe(F.col("s")), 1
        ).otherwise(0).alias("new_run"),
    )
    agg = run_flags.groupBy("event_type").agg(
        F.sum("new_run").cast("bigint").alias("runs"),
        F.sum("s").cast("bigint").alias("n_above"),
        F.sum(1 - F.col("s")).cast("bigint").alias("n_below"),
    )
    return (
        agg.filter((F.col("n_above") > 0) & (F.col("n_below") > 0))
        .select(
            "event_type", "runs", "n_above", "n_below",
            (
                F.lit(1000)
                + F.expr("(2 * n_above * n_below * 1000) div (n_above + n_below)")
            )
            .cast("bigint")
            .alias("expected_runs_milli"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# X173: single changepoint detection over the daily series
# ---------------------------------------------------------------------------

@register(
    "changepoint_daily_events",
    # Binary-segmentation step 1: the split t maximizing the
    # between-group sum of squares (n·n1·n2·(μ1−μ2)² form). The score
    # is one double expression over exact integer prefix sums —
    # identical IEEE steps both engines — and the argmax is tie-broken
    # by day, so the chosen changepoint is deterministic. Means are
    # exact integer milli.
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ), p AS (
      SELECT day, x,
             CAST(sum(x) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS s1,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS n1,
             CAST(sum(x) OVER () AS BIGINT) AS st,
             CAST(count(*) OVER () AS BIGINT) AS nt
      FROM daily
    ), scored AS (
      SELECT day, n1, nt - n1 AS n2, s1, st - s1 AS s2,
             pow(CAST(s1 AS DOUBLE) * (nt - n1) - CAST(st - s1 AS DOUBLE) * n1, 2)
               / (CAST(n1 AS DOUBLE) * (nt - n1)) AS score
      FROM p WHERE n1 < nt
    ), best AS (
      SELECT * FROM scored
      ORDER BY score DESC, day LIMIT 1
    )
    SELECT CAST(day AS BIGINT) AS split_day,
           CAST(n1 AS BIGINT) AS n_days_before,
           CAST(n2 AS BIGINT) AS n_days_after,
           CAST(s1 * 1000 // n1 AS BIGINT) AS mean_before_milli,
           CAST(s2 * 1000 // n2 AS BIGINT) AS mean_after_milli,
           {stable_round_sql("score", 3)} AS bss_score
    FROM best
    """,
    doc="X173: single changepoint over the daily event-count series — "
    "binary segmentation's first split: argmax over t of the "
    "between-group sum of squares (computed as (s1·n2 − s2·n1)²/"
    "(n1·n2), one double expression over exact integer prefix sums, "
    "identical IEEE steps both engines; argmax tie-broken by day). "
    "The level-shift locator that complements CUSUM (X: "
    "event_rate_cusum detects drift onsets; this names the single "
    "best split). Means exact integer milli. Scale shape: one day "
    "census + |days| windows — the corpus is scanned once.",
    tags=("stats", "events", "drift"),
)
def changepoint_daily_events(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        F.expr("unix_date(CAST(ts AS DATE))").cast("bigint").alias("day")
    ).agg(F.count("*").cast("bigint").alias("x"))
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    p = daily.select(
        "day", "x",
        F.sum("x").over(w_cum).cast("bigint").alias("s1"),
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("n1"),
        F.sum("x").over(w_all).cast("bigint").alias("st"),
        F.count("*").over(w_all).cast("bigint").alias("nt"),
    )
    scored = p.filter(F.col("n1") < F.col("nt")).select(
        "day",
        "n1",
        (F.col("nt") - F.col("n1")).alias("n2"),
        "s1",
        (F.col("st") - F.col("s1")).alias("s2"),
        (
            F.pow(
                F.col("s1").cast("double") * (F.col("nt") - F.col("n1"))
                - (F.col("st") - F.col("s1")).cast("double") * F.col("n1"),
                F.lit(2),
            )
            / (F.col("n1").cast("double") * (F.col("nt") - F.col("n1")))
        ).alias("score"),
    )
    best = scored.orderBy(F.col("score").desc(), "day").limit(1)
    return best.select(
        F.col("day").cast("bigint").alias("split_day"),
        F.col("n1").cast("bigint").alias("n_days_before"),
        F.col("n2").cast("bigint").alias("n_days_after"),
        F.expr("s1 * 1000 div n1").cast("bigint").alias("mean_before_milli"),
        F.expr("s2 * 1000 div n2").cast("bigint").alias("mean_after_milli"),
        stable_round(F.col("score"), 3).alias("bss_score"),
    )


# ---------------------------------------------------------------------------
# X174: capture-recapture (Lincoln-Petersen) corpus-size estimate
# ---------------------------------------------------------------------------

@register(
    "capture_recapture_estimate",
    # Treat the two largest sources as two "captures" of the underlying
    # document population; exact-duplicate content (md5 of text) seen in
    # both is the recapture mark. N̂ = n1·n2/m (Lincoln-Petersen) with
    # exact integer split division — the ecology estimator that prices
    # how much of the true de-duplicated population the crawl has seen.
    oracle="""
    WITH ranked AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             row_number() OVER (ORDER BY count(*) DESC, source) AS rk
      FROM documents GROUP BY 1
    ), two AS (
      SELECT max(CASE WHEN rk = 1 THEN source END) AS s1,
             max(CASE WHEN rk = 2 THEN source END) AS s2
      FROM ranked
    ), marks AS (
      SELECT md5(d.text) AS h,
             max(CASE WHEN d.source = two.s1 THEN 1 ELSE 0 END) AS in1,
             max(CASE WHEN d.source = two.s2 THEN 1 ELSE 0 END) AS in2
      FROM documents d CROSS JOIN two
      WHERE d.source IN (two.s1, two.s2)
      GROUP BY 1
    )
    SELECT CAST(sum(in1) AS BIGINT) AS n1_distinct,
           CAST(sum(in2) AS BIGINT) AS n2_distinct,
           CAST(sum(in1 * in2) AS BIGINT) AS m_recaptured,
           CAST(CASE WHEN sum(in1 * in2) > 0 THEN
                  (sum(in1) * sum(in2)) // sum(in1 * in2)
                END AS BIGINT) AS lincoln_petersen_estimate
    FROM marks
    """,
    doc="X174: capture-recapture (Lincoln-Petersen) estimate of the "
    "underlying distinct-document population from the two largest "
    "sources — distinct content (md5 of text) per source is a "
    "'capture', content in both is the recapture mark, N̂ = n1·n2/m. "
    "The ecology estimator repurposed for crawl planning: how much of "
    "the true deduplicated population have two independent crawls "
    "actually seen? Exact integers, NULL when no overlap. Scale "
    "shape: one digest census over the two sources (map-side), a "
    "2-row broadcast for the source pick; the text never shuffles "
    "(digests do).",
    tags=("stats", "dedup", "eval"),
)
def capture_recapture_estimate(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    ranked = (
        docs.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            "source",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "source"))
            .alias("rk"),
        )
    )
    two = ranked.agg(
        F.max(F.when(F.col("rk") == 1, F.col("source"))).alias("s1"),
        F.max(F.when(F.col("rk") == 2, F.col("source"))).alias("s2"),
    )
    marks = (
        docs.crossJoin(F.broadcast(two))
        .filter((F.col("source") == F.col("s1")) | (F.col("source") == F.col("s2")))
        .groupBy(F.md5("text").alias("h"))
        .agg(
            F.max(F.when(F.col("source") == F.col("s1"), 1).otherwise(0)).alias(
                "in1"
            ),
            F.max(F.when(F.col("source") == F.col("s2"), 1).otherwise(0)).alias(
                "in2"
            ),
        )
    )
    return marks.agg(
        F.sum("in1").cast("bigint").alias("n1_distinct"),
        F.sum("in2").cast("bigint").alias("n2_distinct"),
        F.sum(F.col("in1") * F.col("in2")).cast("bigint").alias("m_recaptured"),
        F.expr(
            "CAST(CASE WHEN sum(in1 * in2) > 0 THEN"
            " (sum(in1) * sum(in2)) div sum(in1 * in2) END AS BIGINT)"
        ).alias("lincoln_petersen_estimate"),
    )


# ---------------------------------------------------------------------------
# X175: Chao1 vocabulary richness estimator per language
# ---------------------------------------------------------------------------

@register(
    "chao1_vocab_richness",
    # Chao1: D + n1²/(2·n2) — observed distinct types plus the
    # singleton/doubleton correction estimating UNSEEN vocabulary (the
    # species-richness estimator; hapax ratio X measures seen-once
    # mass, this extrapolates the unseen). Exact integers with split
    # division for the correction's milli part; the bias-corrected
    # n1(n1−1)/(2(n2+1)) form when n2 = 0.
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), tf AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS f
      FROM tok WHERE w <> '' GROUP BY 1, 2
    ), s AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS d_observed,
             CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM tf GROUP BY 1
    )
    SELECT lang, d_observed, n1 AS singletons, n2 AS doubletons,
           CAST(d_observed * 1000
                + CASE WHEN n2 > 0
                       THEN (n1 * n1 * 1000) // (2 * n2)
                       ELSE (n1 * (n1 - 1) * 1000) // 2 END
                AS BIGINT) AS chao1_milli
    FROM s ORDER BY lang
    """,
    doc="X175: Chao1 vocabulary richness per language — observed "
    "distinct tokens plus the singleton²/(2·doubleton) correction "
    "estimating how much vocabulary remains UNSEEN (the "
    "species-richness estimator; complements hapax ratio, which only "
    "measures seen-once mass). Drives 'is more crawl worth it for "
    "this language?'. Exact integers (milli scale), the n2=0 "
    "bias-corrected form inlined. Scale shape: one tokenize+census "
    "shuffle on (lang, token) — vocab-bounded — then |langs| rows.",
    tags=("stats", "text", "eval"),
)
def chao1_vocab_richness(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    tf = tok.groupBy("lang", "w").agg(F.count("*").cast("bigint").alias("f"))
    s = tf.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("d_observed"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0)).cast("bigint").alias("n2"),
    )
    return s.select(
        "lang",
        "d_observed",
        F.col("n1").alias("singletons"),
        F.col("n2").alias("doubletons"),
        F.expr(
            "CAST(d_observed * 1000"
            " + CASE WHEN n2 > 0 THEN (n1 * n1 * 1000) div (2 * n2)"
            "        ELSE (n1 * (n1 - 1) * 1000) div 2 END AS BIGINT)"
        ).alias("chao1_milli"),
    ).orderBy("lang")
