"""Round-8 wave of data-layout / pipeline-governance operators
(SURVEY.md §2.5 X96-X99): deterministic train/val/test hash split,
referential-integrity audit, compaction bin-packing, and a Z-order
clustering benefit measurement. Absent from the reference by design
scope (it is a connector — SURVEY §0); these are the table-layout and
dataset-governance legs of a 100 TB training-data warehouse.

Scale posture, per operator:
- hash split: the split decision is a pure row-local md5 expression —
  no shuffle at all to ASSIGN splits; the only exchange is the
  (split, source) census aggregation with map-side combine. The same
  expression evaluated at 100 TB or on a single record gives the same
  assignment, which is the property that makes the split reproducible
  across re-ingests and engines (the md5-replica pattern of
  operators/dedup.py:_shingle_hash_expr).
- FK audit: one LEFT JOIN per relationship between the child's FK
  column and the parent's DISTINCT key set; small parents (nation,
  region, supplier) broadcast, big ones (orders at 100 TB) go through
  an AQE shuffle join on the key — exactly the join the fact table
  already clusters for. Each relationship reduces to ONE row before
  the union, so the union is 7 rows, not 7 table scans' worth of data.
- compaction bins: greedy streaming bin-packing expressed as a
  cumulative-sum window per source — the shuffle is one exchange on
  the compaction unit (source), identical to what a real compaction
  job needs to co-locate its input files; output is one row per
  OUTPUT file, which is the compaction plan itself.
- zorder stats: computes the skip-ratio evidence that justifies a
  Z-order rewrite — per-file min/max zone maps under (a) ingest order
  and (b) Morton-interleaved order, against a 5%-selectivity range
  predicate. Both layouts' file ids are pure arithmetic on the sort
  key (equal-width buckets over the observed key range), so NO global
  row_number window is needed: two groupBys and a 1-row stats
  broadcast. At a real 100 TB rewrite the bucket id IS the
  repartitionByRange target, so the measurement plan and the rewrite
  plan share their shuffle shape.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..materialize import materialize
from .registry import register
from .rounding import stable_round, stable_round_sql

_SPLIT_PCT = (90, 5, 5)  # train / val / test
_BIN_TARGET = 4096  # compaction target chars per output bin
_ZBITS = 16  # bits per dimension in the Morton interleave
_N_FILES = 64  # equal-width layout buckets ("files") per ordering
_SEL_PCT = 5  # range predicate selectivity (% of key span)


def _load(spark, sf_dir, name):
    from ..session import load_table

    return load_table(spark, sf_dir, name)


def _md5_bucket(col, salt: str, mod: int):
    """Engine-portable bucket: first 8 md5 hex chars of salt||value, mod N.

    Same md5-replica pattern as operators/dedup.py:_shingle_hash_expr —
    DuckDB replays it as ('0x' || substr(md5(s),1,8))::UBIGINT % N.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(mod))


def _md5_bucket_sql(expr: str, salt: str, mod: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}' || CAST(({expr}) AS VARCHAR)), 1, 8)) "
        f"AS UBIGINT) % {mod}"
    )


@register(
    "hash_split_train_val_test",
    oracle=f"""
    WITH b AS (
      SELECT source, n_chars,
             {_md5_bucket_sql("doc_id", "split:", 100)} AS bucket
      FROM documents
    ), s AS (
      SELECT CASE WHEN bucket < {_SPLIT_PCT[0]} THEN 'train'
                  WHEN bucket < {_SPLIT_PCT[0] + _SPLIT_PCT[1]} THEN 'val'
                  ELSE 'test' END AS split,
             source, n_chars
      FROM b
    ), g AS (
      SELECT split, source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM s GROUP BY 1, 2
    )
    SELECT split, source, CAST(n_docs AS BIGINT) AS n_docs, sum_chars,
           {stable_round_sql(
               "CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ()", 6
           )} AS doc_share
    FROM g
    """,
    doc="X96: deterministic train/val/test split by salted md5 of the "
    "document id (90/5/5) with a per-split per-source census — the "
    "reproducible-split contract every training pipeline needs: the "
    "assignment is a pure row-local expression (zero shuffle to "
    "assign; re-ingests, backfills, and other engines reproduce it "
    "bit-identically via the md5-replica pattern of "
    "operators/dedup.py:_shingle_hash_expr). Disjointness and "
    "exhaustiveness hold by construction (one bucket per doc). The "
    "only exchange is the (split, source) census with map-side "
    "combine; the share denominator is a 1-row window.",
    tags=("pipeline", "split", "governance", "training"),
)
def hash_split_train_val_test(spark, sf_dir):
    b = _md5_bucket(F.col("doc_id"), "split:", 100)
    split = (
        F.when(b < _SPLIT_PCT[0], "train")
        .when(b < _SPLIT_PCT[0] + _SPLIT_PCT[1], "val")
        .otherwise("test")
    )
    g = (
        _load(spark, sf_dir, "documents")
        .select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )
    total = Window.partitionBy()
    return g.select(
        "split",
        "source",
        "n_docs",
        "sum_chars",
        stable_round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(total), 6
        ).alias("doc_share"),
    )


_FK_RELATIONS = (
    # (name, child table, fk col, parent table, pk col)
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def _fk_audit_oracle() -> str:
    legs = []
    for name, child, fk, parent, pk in _FK_RELATIONS:
        legs.append(
            f"""
    SELECT '{name}' AS relation,
           CAST(count(*) AS BIGINT) AS n_child,
           CAST(count(*) FILTER (WHERE c.{fk} IS NULL) AS BIGINT) AS n_null_fk,
           CAST(count(*) FILTER (
             WHERE c.{fk} IS NOT NULL AND p.pk IS NULL) AS BIGINT) AS n_orphan,
           CAST(count(DISTINCT c.{fk}) AS BIGINT) AS n_distinct_fk,
           (SELECT CAST(count(DISTINCT {pk}) AS BIGINT) FROM {parent})
             AS n_parent,
           {stable_round_sql(
               f"CAST(count(DISTINCT c.{fk}) AS DOUBLE)"
               f" / (SELECT count(DISTINCT {pk}) FROM {parent})", 4
           )} AS fk_coverage
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pk} AS pk FROM {parent}) p ON c.{fk} = p.pk"""
        )
    return " UNION ALL ".join(legs)


@register(
    "fk_integrity_audit",
    oracle=_fk_audit_oracle(),
    doc="X97: referential-integrity audit across all seven TPC-H-shaped "
    "relationships — per relationship: child rows, NULL FKs, orphans "
    "(FK with no parent), distinct FK values, parent keys, and FK "
    "coverage of the parent domain. The data-quality gate a warehouse "
    "runs after every ingest: orphan counts must be zero before the "
    "star joins are trusted. Each relationship is ONE left join of the "
    "child FK against the parent's distinct key set (small parents "
    "broadcast; orders-sized parents take the same AQE shuffle join the "
    "fact table already clusters for) reduced to a single row, so the "
    "final union moves 7 rows.",
    tags=("warehouse", "quality", "join", "governance"),
)
def fk_integrity_audit(spark, sf_dir):
    from collections import defaultdict

    # Melt every child's FK columns into tagged (relation, fk) rows in ONE
    # scan per child table, reduce to a (relation, fk) census with map-side
    # combine, then resolve ALL relationships with a SINGLE left join
    # against the union of tagged parent key sets. Earlier forms (one
    # join+agg subtree per relationship, or chained joins + countDistinct
    # per child) executed fine but their 26-node union tree cost ~3 s of
    # Catalyst optimization per build — 40x the actual execution; this
    # shape is 5 operators total, and the shuffle carries the distinct-FK
    # census, never the fact rows.
    by_child: dict[str, list] = defaultdict(list)
    for idx, (name, child, fk, parent, pk) in enumerate(_FK_RELATIONS):
        by_child[child].append((idx, fk))

    melted = None
    for child, cols in by_child.items():
        cells = ", ".join(
            f"{idx}, CAST({fk} AS BIGINT)" for idx, fk in cols
        )
        m = _load(spark, sf_dir, child).select(
            F.expr(f"stack({len(cols)}, {cells}) AS (rel, fk)")
        )
        melted = m if melted is None else melted.unionByName(m)
    census = melted.groupBy("rel", "fk").agg(F.count("*").alias("cnt"))

    parents = None
    for idx, (_, _, _, parent, pk) in enumerate(_FK_RELATIONS):
        p = (
            _load(spark, sf_dir, parent)
            .select(
                F.lit(idx).alias("prel"), F.col(pk).cast("bigint").alias("pk")
            )
            .distinct()
        )
        parents = p if parents is None else parents.unionByName(p)
    # The tagged parent key-set union feeds two consumers (the per-relation
    # key counts and the census join); without the checkpoint the
    # final plan scanned all seven parent tables and ran their distincts
    # TWICE (r13 audit: 19 parquet scans / 17 exchanges → 12 / 10).
    parents = materialize(parents)
    pn = parents.groupBy("prel").agg(
        F.count("*").cast("bigint").alias("n_parent")
    )

    joined = census.join(
        parents.withColumn("hit", F.lit(1)),
        (F.col("rel") == F.col("prel")) & (F.col("fk") == F.col("pk")),
        "left",
    )
    name_expr = F.element_at(
        F.array(*[F.lit(r[0]) for r in _FK_RELATIONS]), F.col("rel") + 1
    )
    agg = joined.groupBy("rel").agg(
        F.sum("cnt").cast("bigint").alias("n_child"),
        F.sum(F.when(F.col("fk").isNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_null_fk"),
        F.sum(
            F.when(
                F.col("fk").isNotNull() & F.col("hit").isNull(), F.col("cnt")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_orphan"),
        # census rows are distinct per (rel, fk) — counting non-null rows
        # IS the distinct-FK count, no countDistinct expand needed
        F.sum(F.col("fk").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_distinct_fk"),
    )
    return (
        agg.join(F.broadcast(pn), F.col("rel") == F.col("prel"))
        .select(
            name_expr.alias("relation"),
            "n_child",
            "n_null_fk",
            "n_orphan",
            "n_distinct_fk",
            "n_parent",
            stable_round(
                F.col("n_distinct_fk").cast("double") / F.col("n_parent"), 4
            ).alias("fk_coverage"),
        )
    )


@register(
    "compaction_bins_by_source",
    oracle=f"""
    WITH c AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    ), b AS (
      SELECT source, (cum - n_chars) // {_BIN_TARGET} AS bin_id,
             n_chars
      FROM c
    )
    SELECT source, CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS bin_chars,
           {stable_round_sql(
               f"CAST(sum(n_chars) AS DOUBLE) / {_BIN_TARGET}", 4
           )} AS fill_ratio
    FROM b GROUP BY 1, 2
    """,
    doc="X98: small-file compaction plan — greedy streaming bin-packing "
    "of documents into ~{t}-char output files per source, expressed as "
    "a cumulative-sum window (a doc opens a new bin when the running "
    "total crosses the target). One row per OUTPUT file: this result "
    "IS the compaction manifest a table-maintenance job executes. One "
    "exchange on the compaction unit (source) serves both the window "
    "and the per-bin aggregation (the groupBy key extends the window "
    "partition key, so Catalyst reuses the exchange). Deterministic: "
    "docs pack in doc_id order.".format(t=_BIN_TARGET),
    tags=("warehouse", "layout", "compaction", "pipeline"),
)
def compaction_bins_by_source(spark, sf_dir):
    # Integer division via `div` — double `/` then cast truncates the
    # IEEE-rounded quotient and can land one past the bin boundary.
    c = _load(spark, sf_dir, "documents").select(
        "source",
        "n_chars",
        F.expr(
            f"(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id "
            f"ROWS UNBOUNDED PRECEDING) - n_chars) div {_BIN_TARGET}"
        ).alias("bin_id"),
    )
    return c.groupBy("source", "bin_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("bin_chars"),
        stable_round(
            F.sum("n_chars").cast("double") / F.lit(float(_BIN_TARGET)), 4
        ).alias("fill_ratio"),
    )


def _morton_spark(x, y):
    """Interleave the low _ZBITS bits of x (odd positions) and y (even)."""
    z = F.lit(0).cast("bigint")
    for k in range(_ZBITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, k).bitwiseAND(F.lit(1)), 2 * k + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, k).bitwiseAND(F.lit(1)), 2 * k)
        )
    return z


def _morton_sql(x: str, y: str) -> str:
    terms = []
    for k in range(_ZBITS):
        terms.append(f"((({x} >> {k}) & 1) << {2 * k + 1})")
        terms.append(f"((({y} >> {k}) & 1) << {2 * k})")
    return " | ".join(terms)


def _zorder_oracle() -> str:
    mask = (1 << _ZBITS) - 1
    z = _morton_sql("x", "y")
    return f"""
    WITH base AS (
      SELECT l_orderkey AS ok,
             l_partkey & {mask} AS x, l_suppkey & {mask} AS y
      FROM lineitem
    ), keyed AS (
      SELECT x, y, ok, {z} AS z FROM base
    ), stats AS (
      SELECT min(ok) AS min_ok, max(ok) AS max_ok,
             min(z) AS min_z, max(z) AS max_z,
             min(x) AS min_x, max(x) AS max_x
      FROM keyed
    ), filed AS (
      SELECT 'natural' AS layout,
             (k.ok - s.min_ok) * {_N_FILES} // (s.max_ok - s.min_ok + 1)
               AS file_id,
             k.x
      FROM keyed k, stats s
      UNION ALL
      SELECT 'zorder' AS layout,
             (k.z - s.min_z) * {_N_FILES} // (s.max_z - s.min_z + 1)
               AS file_id,
             k.x
      FROM keyed k, stats s
    ), zone AS (
      SELECT layout, file_id, count(*) AS n_rows,
             min(x) AS fmin, max(x) AS fmax
      FROM filed GROUP BY 1, 2
    ), pred AS (
      SELECT min_x AS lo,
             min_x + (max_x - min_x) * {_SEL_PCT} // 100 AS hi
      FROM stats
    )
    SELECT z.layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(z.n_rows) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (
             WHERE z.fmin <= p.hi AND z.fmax >= p.lo) AS BIGINT)
             AS files_scanned,
           CAST(sum(z.n_rows) FILTER (
             WHERE z.fmin <= p.hi AND z.fmax >= p.lo) AS BIGINT)
             AS rows_scanned,
           {stable_round_sql(
               "1.0 - CAST(count(*) FILTER ("
               "WHERE z.fmin <= p.hi AND z.fmax >= p.lo) AS DOUBLE)"
               " / count(*)", 4
           )} AS file_skip_ratio
    FROM zone z, pred p
    GROUP BY 1, p.hi, p.lo
    """


@register(
    "zorder_layout_stats",
    oracle=_zorder_oracle(),
    doc="X99: Z-order clustering benefit measurement — per-file min/max "
    "zone maps for lineitem under (a) ingest (orderkey) order and (b) "
    "Morton-interleaved (l_partkey, l_suppkey) order, scored against a "
    "{p}%-selectivity l_partkey range predicate: how many of the {n} "
    "files a zone-map-pruning scan must touch under each layout. This "
    "is the evidence query run BEFORE paying for a 100 TB Z-order "
    "rewrite. File ids are equal-width buckets over the observed key "
    "range — pure arithmetic, NO global row_number window: the plan is "
    "two groupBys plus a 1-row min/max stats broadcast, and at rewrite "
    "time the same bucket id is the repartitionByRange target. The "
    "Morton key is a 2x{b}-bit shift/mask interleave, whole-stage-"
    "codegen'd on the JVM and replayed bit-identically in the SQL "
    "oracle.".format(p=_SEL_PCT, n=_N_FILES, b=_ZBITS),
    tags=("warehouse", "layout", "zorder", "pruning"),
)
def zorder_layout_stats(spark, sf_dir):
    mask = (1 << _ZBITS) - 1
    keyed = _load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").bitwiseAND(F.lit(mask)).alias("x"),
        F.col("l_suppkey").bitwiseAND(F.lit(mask)).alias("y"),
    )
    keyed = keyed.withColumn("z", _morton_spark(F.col("x"), F.col("y")))
    stats = keyed.agg(
        F.min("ok").alias("min_ok"),
        F.max("ok").alias("max_ok"),
        F.min("z").alias("min_z"),
        F.max("z").alias("max_z"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
    )
    k = keyed.crossJoin(F.broadcast(stats))  # 1-row stats broadcast
    # `div` (exact integer division) — double `/` + cast can round the
    # quotient up across a bucket boundary before truncation.
    # Both layouts are emitted from ONE pass via an exploded 2-element
    # struct array instead of a union of two selects over `k`: the union
    # form re-ran the lineitem scan + Morton interleave per branch (r13
    # audit: 4 parquet scans → 2 — the remaining two are the stats agg
    # and the single fused scoring pass).
    both = k.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("natural").alias("layout"),
                    F.expr(
                        f"(ok - min_ok) * {_N_FILES} div (max_ok - min_ok + 1)"
                    ).alias("file_id"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(
                        f"(z - min_z) * {_N_FILES} div (max_z - min_z + 1)"
                    ).alias("file_id"),
                ),
            )
        ).alias("lf"),
        "x",
        "min_x",
        "max_x",
    ).select(
        F.col("lf.layout").alias("layout"),
        F.col("lf.file_id").alias("file_id"),
        "x",
        "min_x",
        "max_x",
    )
    zone = (
        both
        .groupBy("layout", "file_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("fmin"),
            F.max("x").alias("fmax"),
            F.first("min_x").alias("min_x"),
            F.first("max_x").alias("max_x"),
        )
        .withColumn("lo", F.col("min_x"))
        .withColumn(
            "hi", F.expr(f"min_x + (max_x - min_x) * {_SEL_PCT} div 100")
        )
    )
    hit = (F.col("fmin") <= F.col("hi")) & (F.col("fmax") >= F.col("lo"))
    return zone.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum(hit.cast("bigint")).cast("bigint").alias("files_scanned"),
        F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_scanned"),
        stable_round(
            1.0 - F.sum(hit.cast("bigint")).cast("double") / F.count("*"), 4
        ).alias("file_skip_ratio"),
    )


_K_FOLDS = 5


@register(
    "stratified_kfold_assignment",
    oracle=f"""
    WITH f AS (
      SELECT lang, {_md5_bucket_sql("doc_id", "fold:", _K_FOLDS)} AS fold,
             n_chars
      FROM documents
    ), g AS (
      SELECT fold, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM f GROUP BY 1, 2
    )
    SELECT CAST(fold AS BIGINT) AS fold, lang, n_docs, sum_chars,
           CAST(sum(n_docs) OVER (PARTITION BY fold) AS BIGINT)
             AS fold_total,
           CAST(n_docs * 1000 // sum(n_docs) OVER (PARTITION BY fold)
                AS BIGINT) AS lang_share_milli
    FROM g
    """,
    doc="X124: deterministic {k}-fold cross-validation assignment by "
    "salted md5 of the document id, with the per-(fold, lang) census a "
    "validation harness reads to CHECK stratification quality "
    "(lang_share_milli per fold should match the corpus mix; md5 "
    "uniformity delivers stratification in expectation without a "
    "per-stratum pass). Assignment is a pure row-local expression — "
    "zero shuffle to assign, any engine reproduces it bit-identically; "
    "folds are disjoint and exhaustive by construction. The only "
    "exchange is the (fold, lang) census; the fold totals reuse its "
    "partitioning as a window.".format(k=_K_FOLDS),
    tags=("pipeline", "split", "training", "evaluation"),
)
def stratified_kfold_assignment(spark, sf_dir):
    f = _load(spark, sf_dir, "documents").select(
        "lang",
        _md5_bucket(F.col("doc_id"), "fold:", _K_FOLDS).alias("fold"),
        "n_chars",
    )
    g = f.groupBy("fold", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    wf = Window.partitionBy("fold")
    return g.select(
        F.col("fold").cast("bigint").alias("fold"),
        "lang",
        "n_docs",
        "sum_chars",
        F.sum("n_docs").over(wf).cast("bigint").alias("fold_total"),
        F.expr("n_docs * 1000 div sum(n_docs) over (partition by fold)")
        .cast("bigint")
        .alias("lang_share_milli"),
    )


@register(
    "sample_apportionment_hamilton",
    # Largest-remainder (Hamilton) apportionment of a fixed 10,000-slot
    # sample budget across sources, proportional to doc counts — exact
    # integer throughout: base = n·B div T, leftover slots go to the
    # largest remainders (ties broken by source name), so quotas sum to
    # B exactly, which floor- or round-based allocation cannot promise.
    oracle="""
    WITH census AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t,
                      CAST(count(*) AS BIGINT) AS n_src FROM census),
    base AS (
      SELECT source, n_docs,
             CAST(n_docs * 10000 // t AS BIGINT) AS base_quota,
             CAST(n_docs * 10000 % t AS BIGINT) AS remainder
      FROM census CROSS JOIN tot
    ), ranked AS (
      SELECT *, CAST(row_number() OVER (
                  ORDER BY remainder DESC, source) AS BIGINT) AS rem_rank,
             CAST(10000 - sum(base_quota) OVER () AS BIGINT) AS leftover
      FROM base
    )
    SELECT source, n_docs, base_quota, remainder, rem_rank,
           CAST(base_quota + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked ORDER BY source
    """,
    doc="X129: Hamilton largest-remainder apportionment — allocate a "
    "fixed sample/labeling budget (10,000 slots) across sources "
    "exactly proportionally: floor quotas leave Σ short, rounding can "
    "overshoot; Hamilton gives each source floor(n·B/T) and hands the "
    "leftover slots to the largest remainders, so the quotas sum to "
    "the budget EXACTLY — the apportionment a downstream sampler (the "
    "stratified/weighted family) consumes as its per-source row "
    "budget. All integer; remainder ranking fully tie-broken. Scale "
    "shape: one map-side-combined census (groups = |sources|, "
    "corpus-independent), a 1-row total broadcast, and an O(|sources|) "
    "window — the corpus is scanned once for counting and never again.",
    tags=("layout", "sampling", "pipeline"),
)
def sample_apportionment_hamilton(spark, sf_dir):
    from pyspark.sql import Window

    from ..session import load_table

    docs = load_table(spark, sf_dir, "documents")
    census = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    tot = census.agg(F.sum("n_docs").cast("bigint").alias("t"))
    base = census.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr("n_docs * 10000 div t").cast("bigint").alias("base_quota"),
        (F.col("n_docs") * 10000 % F.col("t")).cast("bigint").alias("remainder"),
    )
    # |sources| rows: the unpartitioned windows are a driver-sized frame
    w_rank = Window.orderBy(F.col("remainder").desc(), F.col("source"))
    w_all = Window.partitionBy()
    ranked = base.select(
        "source",
        "n_docs",
        "base_quota",
        "remainder",
        F.row_number().over(w_rank).cast("bigint").alias("rem_rank"),
        (F.lit(10000) - F.sum("base_quota").over(w_all))
        .cast("bigint")
        .alias("leftover"),
    )
    return ranked.select(
        "source",
        "n_docs",
        "base_quota",
        "remainder",
        "rem_rank",
        (
            F.col("base_quota")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("quota"),
    ).orderBy("source")


@register(
    "mix_waterfill_allocation",
    # Water-filling under caps, EXACT closed form: allocate a budget of
    # half the corpus across (source, lang) cells — equal share per
    # cell capped at cell size, exhausted cells' capacity redistributed
    # to survivors. Instead of unrolling redistribution rounds (which
    # can under-allocate when cells exhaust mid-round — round-11 ADVICE)
    # compute the water level directly: sort cells by capacity asc, and
    # the level is L = (b − pfx_i) div (k − i + 1) at the FIRST sorted
    # index i where that candidate drops below the cell's own capacity.
    # Invariants (all integer): rows before i are fully capped within
    # budget (invalid at j ⇒ b ≥ pfx_{j+1}, by induction), open cells
    # all have n_docs ≥ L+1, and leftover = (b − pfx_i) mod (k − i + 1)
    # < |open| — so the final ±1 rank round ALWAYS completes the budget
    # exactly: sum(quota) = b, provable, no silent slot drops.
    oracle="""
    WITH cells AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(n_docs) // 2 AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS k
      FROM cells
    ), srt AS (
      SELECT source, lang, n_docs, b, k,
             CAST(row_number() OVER (ORDER BY n_docs, source, lang)
                  AS BIGINT) AS idx,
             CAST(coalesce(sum(n_docs) OVER (
                  ORDER BY n_docs, source, lang
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS pfx
      FROM cells CROSS JOIN tot
    ), cand AS (
      SELECT *,
             CAST((b - pfx) // (k - idx + 1) AS BIGINT) AS lvl_cand,
             CASE WHEN CAST((b - pfx) // (k - idx + 1) AS BIGINT) < n_docs
                  THEN idx END AS vidx
      FROM srt
    ), lev AS (
      SELECT source, lang, n_docs, b,
             CAST(max(CASE WHEN idx = mvi THEN lvl_cand END) OVER ()
                  AS BIGINT) AS lvl
      FROM (SELECT *, min(vidx) OVER () AS mvi FROM cand)
    ), alloc AS (
      SELECT source, lang, n_docs, b, lvl,
             least(n_docs, coalesce(lvl, n_docs)) AS base
      FROM lev
    ), fin AS (
      SELECT *, CAST(b - sum(base) OVER () AS BIGINT) AS leftover,
             CAST(row_number() OVER (
                 ORDER BY CASE WHEN base < n_docs THEN n_docs - base
                               ELSE -1 END DESC, source, lang)
                  AS BIGINT) AS cap_rank
      FROM alloc
    )
    SELECT source, lang, n_docs,
           CAST(lvl AS BIGINT) AS water_level,
           CAST(base AS BIGINT) AS base_alloc,
           CAST(base + CASE WHEN base < n_docs AND cap_rank <= leftover
                            THEN 1 ELSE 0 END AS BIGINT) AS quota,
           CASE WHEN base >= n_docs THEN 'exhausted' ELSE 'open' END
             AS cap_state
    FROM fin ORDER BY source, lang
    """,
    doc="X135: water-filling mix allocation — the data-mix primitive "
    "Hamilton apportionment (X129) cannot express: per-cell CAPS. "
    "Budget = half the corpus, target = equal share per (source, lang) "
    "cell; a cell smaller than its share is exhausted and its unused "
    "capacity goes to the survivors. Round 12 rewrote the unrolled-"
    "rounds heuristic (which could under-allocate when cells exhaust "
    "mid-round) as the EXACT closed-form water level via sorted prefix "
    "sums — L at the first sorted index where the candidate level "
    "drops below the cell cap — so sum(quota) = budget provably, every "
    "step integer and fully tie-broken. Scale shape: one map-side "
    "census over the corpus (cells = |sources|×|langs|, corpus-"
    "independent), then O(cells) windows — the corpus is scanned "
    "exactly once.",
    tags=("layout", "sampling", "pipeline"),
)
def mix_waterfill_allocation(spark, sf_dir):
    from pyspark.sql import Window

    from ..session import load_table

    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    tot = cells.agg(
        F.expr("sum(n_docs) div 2").cast("bigint").alias("b"),
        F.count("*").cast("bigint").alias("k"),
    )
    # sorted-prefix closed form: cells are |sources|×|langs| rows
    # (corpus-independent), so the unpartitioned windows are a
    # driver-sized frame over the census, never the corpus
    w_srt = Window.orderBy("n_docs", "source", "lang")
    srt = cells.crossJoin(F.broadcast(tot)).select(
        "source", "lang", "n_docs", "b", "k",
        F.row_number().over(w_srt).cast("bigint").alias("idx"),
        F.coalesce(
            F.sum("n_docs").over(w_srt.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("pfx"),
    )
    # candidate level at each sorted index; the first index where it
    # drops below the cell's own capacity carries the true water level
    # (rows before it are provably fully capped within budget, so the
    # selected numerator is non-negative: `div` trunc == floor)
    cand = srt.select(
        "*",
        F.expr("(b - pfx) div (k - idx + 1)").cast("bigint").alias("lvl_cand"),
    ).select(
        "*",
        F.when(F.col("lvl_cand") < F.col("n_docs"), F.col("idx")).alias("vidx"),
    )
    w_all = Window.partitionBy()
    lev = cand.select(
        "*", F.min("vidx").over(w_all).alias("mvi")
    ).select(
        "source", "lang", "n_docs", "b",
        F.max(F.when(F.col("idx") == F.col("mvi"), F.col("lvl_cand")))
        .over(w_all)
        .cast("bigint")
        .alias("lvl"),
    )
    alloc = lev.select(
        "*",
        F.least(F.col("n_docs"), F.coalesce(F.col("lvl"), F.col("n_docs"))).alias(
            "base"
        ),
    )
    w_rank = Window.orderBy(
        F.when(F.col("base") < F.col("n_docs"), F.col("n_docs") - F.col("base"))
        .otherwise(-1)
        .desc(),
        "source",
        "lang",
    )
    fin = alloc.select(
        "*",
        (F.col("b") - F.sum("base").over(w_all)).cast("bigint").alias("leftover"),
        F.row_number().over(w_rank).cast("bigint").alias("cap_rank"),
    )
    return fin.select(
        "source",
        "lang",
        "n_docs",
        F.col("lvl").cast("bigint").alias("water_level"),
        F.col("base").cast("bigint").alias("base_alloc"),
        (
            F.col("base")
            + F.when(
                (F.col("base") < F.col("n_docs"))
                & (F.col("cap_rank") <= F.col("leftover")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("quota"),
        F.when(F.col("base") >= F.col("n_docs"), "exhausted")
        .otherwise("open")
        .alias("cap_state"),
    ).orderBy("source", "lang")
