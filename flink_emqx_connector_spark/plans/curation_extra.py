"""Sixth wave of LLM-training-pipeline operators (SURVEY.md §2.5 X36-X37):
corpus curation at the dataset boundary — leakage-safe train/val/test
splitting and incremental (new-batch-vs-corpus) deduplication. Absent from
the reference by design scope (it is a connector — SURVEY §0).

Scale posture:
- leakage-safe split: the split key is the near-dup *component* id, not
  the doc id, so near-duplicates can never straddle train/test (the
  classic eval-contamination bug in naive per-doc splits). Costs exactly
  the dedup-clusters pipeline (blocked pair-gen + CC) plus one broadcast
  join of the label frame; the split function itself is a pure md5
  column expression.
- incremental dedup: the standing corpus is the *index* side (exact
  digests + shingle postings — incrementally maintainable at 100 TB);
  the new batch is the probe side and is bounded by ingest rate, so its
  shingle postings broadcast and the only shuffle is over the batch's
  own candidate pairs. This is the shape a continuously-ingested corpus
  runs on every arrival, where re-running whole-corpus self-dedup would
  be quadratic in history.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import register
from ..operators import dedup as D


def _docs(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "documents")


# Shared recursive-CTE transitive closure over exact bigram-Jaccard >= 0.5
# pairs — the same closure dedup_clusters/dedup_keep_list verify against.
# Multi-referenced members are MATERIALIZED: DuckDB inlines plain CTEs
# PER REFERENCE, so without the pin the whole shingle pipeline re-runs
# inside every join arm (measured >100 GB / >280 s on a sibling oracle at
# sf1; values are unchanged by the pin).
_CLOSURE = """
    WITH RECURSIVE sh AS MATERIALIZED (
      SELECT doc_id AS doc,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS bg
      FROM documents
    ),
    sizes AS MATERIALIZED (SELECT doc, len(bg) AS n FROM sh),
    ex AS MATERIALIZED (SELECT doc, unnest(bg) AS s FROM sh),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comps AS (
      SELECT src AS doc, least(src, min(dst)) AS comp
      FROM reach GROUP BY src
    )
"""


@register(
    "split_by_cluster",
    oracle=_CLOSURE
    + """
    , grouped AS (
      SELECT d.doc_id, CAST(coalesce(c.comp, d.doc_id) AS BIGINT) AS grp
      FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc
    ), assigned AS (
      SELECT doc_id, grp,
             CASE CAST(('0x' || substr(md5('split:' || CAST(grp AS VARCHAR)), 1, 8))
                       ::UBIGINT % 10 AS BIGINT)
                  WHEN 8 THEN 'val' WHEN 9 THEN 'test' ELSE 'train' END AS split
      FROM grouped
    )
    SELECT split, count(*) AS n_docs,
           CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc
    FROM assigned GROUP BY split
    """,
    doc="Leakage-safe train/val/test split (80/10/10): the split key is the "
    "near-dup COMPONENT id (connected components over exact bigram-Jaccard "
    ">= 0.5 pairs), not the doc id — near-duplicates can never straddle "
    "train and test, closing the eval-contamination hole in naive per-doc "
    "splits. Assignment is a pure seeded-md5 expression over the group id; "
    "no-pair singletons keep their own id as group. The oracle replays the "
    "closure as a recursive CTE and the same md5 bucketing.",
    tags=("pipeline", "split", "dedup", "training"),
)
def split_by_cluster(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs_auto(docs, threshold=0.5, n=2)
    comps = D.connected_components(pairs)
    grp = F.coalesce("comp", F.col("doc_id")).cast("bigint")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("grp").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    split = (
        F.when(bucket == 8, "val").when(bucket == 9, "test").otherwise("train")
    )
    return (
        docs.select("doc_id")
        .join(comps, docs.doc_id == comps.doc, "left")
        .select("doc_id", grp.alias("grp"))
        .withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("grp").cast("bigint").alias("n_groups"),
            F.sum("doc_id").cast("bigint").alias("sum_doc"),
        )
    )


@register(
    "dedup_incremental",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, doc_id % 10 >= 8 AS is_new FROM documents
    ),
    old_dig AS (
      SELECT DISTINCT md5(text) AS dig FROM base
      WHERE NOT is_new AND text IS NOT NULL
    ),
    sh AS (
      SELECT doc_id AS doc, is_new,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS bg
      FROM base WHERE text IS NOT NULL
    ),
    sizes AS (SELECT doc, len(bg) AS n FROM sh),
    ex AS (SELECT doc, is_new, unnest(bg) AS s FROM sh),
    inter AS (
      SELECT n.doc AS nd, o.doc AS od, count(*) AS i
      FROM ex n JOIN ex o ON n.s = o.s AND n.is_new AND NOT o.is_new
      GROUP BY 1, 2
    ),
    near AS (
      SELECT nd, count(*) AS n_near
      FROM inter
      JOIN sizes sa ON sa.doc = nd
      JOIN sizes sb ON sb.doc = od
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
      GROUP BY 1
    )
    SELECT b.doc_id,
           coalesce(md5(b.text) IN (SELECT dig FROM old_dig), FALSE)
             AS dup_exact,
           CAST(coalesce(nr.n_near, 0) AS BIGINT) AS n_near,
           (NOT coalesce(md5(b.text) IN (SELECT dig FROM old_dig), FALSE)
            AND coalesce(nr.n_near, 0) = 0) AS keep
    FROM base b LEFT JOIN near nr ON b.doc_id = nr.nd
    WHERE b.is_new
    """,
    doc="Incremental dedup — new batch vs standing corpus (docs with "
    "doc_id%10>=8 stand in for the arriving 20%): exact duplicates via "
    "digest semi-join against the corpus digest set, near-duplicates via "
    "an asymmetric old-x-new shingle inverted-index join at Jaccard >= "
    "0.5. The corpus side is the INDEX (digests + postings, incrementally "
    "maintainable); the batch side is bounded by ingest rate and "
    "broadcasts — re-running whole-corpus self-dedup per arrival would be "
    "quadratic in history. This is the continuous-ingestion twin of "
    "dedup_keep_list.",
    tags=("pipeline", "dedup", "incremental"),
)
def dedup_incremental(spark, sf_dir):
    base = _docs(spark, sf_dir).select(
        "doc_id", "text", ((F.col("doc_id") % 10) >= 8).alias("is_new")
    )
    old = base.filter(~F.col("is_new"))
    new = base.filter(F.col("is_new"))

    old_dig = (
        old.filter(F.col("text").isNotNull())
        .select(F.md5(F.encode("text", "UTF-8")).alias("dig"))
        .distinct()
        .withColumn("dig_hit", F.lit(True))
    )
    sh_old = D._shingle_table(old, "text", "doc_id", 2)
    # The NEW side is derived in ONE fused text pass yielding (doc_id,
    # digest, shingles), checkpointed (r14 — the old shape scanned the new
    # batch twice: once to shingle, once to re-digest for the output join;
    # 4 corpus scans → 3). Storing the shingle arrays is fine HERE and only
    # here: the new batch is bounded by ingest rate by design (module
    # docstring), never corpus-sized — the standing corpus side stays
    # recompute-on-use. Repartition first for the same single-file-scan
    # spread reason as _shingle_table.
    par = spark.sparkContext.defaultParallelism
    new_feat = materialize(
        new.repartition(par, "doc_id")
        .select(
            "doc_id",
            F.md5(F.encode("text", "UTF-8")).alias("dig"),
            D.word_ngrams(F.col("text"), 2).alias("sh"),
        )
    )
    # `on` is made non-nullable: Spark infers isnotnull(on) from the
    # Jaccard filter below and would push size(sh), the whole old-corpus
    # tokenization, down to the scan below the repartition. The coalesce
    # never fires: a row with a null sh has no shingle to keep.
    ex_old = D._shingle_rows(
        sh_old,
        F.col("doc").alias("od"),
        F.coalesce(F.size("sh"), F.lit(0)).alias("on"),
    )
    ex_new = new_feat.select(
        F.col("doc_id").alias("nd"),
        F.size("sh").alias("nn"),
        F.explode("sh").alias("s"),
    )
    near = (
        ex_new.join(ex_old, "s")
        .groupBy("nd", "od", "nn", "on")
        .agg(F.count("*").alias("i"))
        .filter(
            F.col("i") / (F.col("nn") + F.col("on") - F.col("i")) >= 0.5
        )
        .groupBy("nd")
        .agg(F.count("*").alias("n_near"))
    )
    dup_exact = F.coalesce("dig_hit", F.lit(False))
    n_near = F.coalesce("n_near", F.lit(0)).cast("bigint")
    return (
        new_feat.select("doc_id", "dig")
        .join(old_dig, "dig", "left")
        .join(near, F.col("doc_id") == F.col("nd"), "left")
        .select(
            "doc_id",
            dup_exact.alias("dup_exact"),
            n_near.alias("n_near"),
            (~dup_exact & (n_near == 0)).alias("keep"),
        )
    )


@register(
    "line_dedup_docs",
    oracle="""
    WITH segs AS (
      SELECT doc_id, n_words,
             array_to_string(words[(i*10+1):(i*10+10)], ' ') AS seg
      FROM (SELECT doc_id, string_split(text, ' ') AS words,
                   len(string_split(text, ' ')) AS n_words
            FROM documents WHERE text IS NOT NULL),
           LATERAL unnest(range(CAST(ceil(n_words / 10.0) AS BIGINT))) AS t(i)
    ),
    freq AS (
      SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg
    )
    SELECT doc_id,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           CAST(sum(CASE WHEN df < 3
                         THEN len(string_split(seg, ' ')) ELSE 0 END) AS BIGINT)
             AS kept_words
    FROM segs JOIN freq USING (seg)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Line-level (inter-document) dedup stats, the MassiveText/Gopher "
    "boilerplate-removal shape: each doc splits into non-overlapping "
    "10-word segments ('lines' — the corpus has no newlines), a segment "
    "appearing in >= 3 distinct docs is boilerplate, and the per-doc "
    "report counts segments, boilerplate hits, and surviving words. The "
    "segment explode shuffles (doc, md5(seg)) short rows; document "
    "frequency is a partial-agg'd count-distinct; the HOF segmenter runs "
    "~n_words/10 lambda evals per doc over the corpus-bounded documents "
    "table, not a fact table (the winnowing lesson doesn't bite here). "
    "At 100 TB the segment table is the posting list a real pipeline "
    "materializes once and reuses across dedup passes.",
    tags=("pipeline", "dedup", "text", "training"),
)
def line_dedup_docs(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    words = F.split("text", " ")
    nseg = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    segs = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "),
            )
        ).alias("seg"),
    )
    freq = segs.groupBy("seg").agg(F.count_distinct("doc_id").alias("df"))
    return (
        segs.join(freq, "seg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("df") >= 3, 1).otherwise(0))
            .cast("bigint")
            .alias("n_boiler"),
            F.sum(
                F.when(F.col("df") < 3, F.size(F.split("seg", " "))).otherwise(0)
            )
            .cast("bigint")
            .alias("kept_words"),
        )
        .orderBy("doc_id")
    )


@register(
    "cross_source_duplication",
    oracle=_CLOSURE.replace("comps AS (", "_unused AS (")
    + """
    , src AS (SELECT doc_id, source FROM documents)
    SELECT least(sa.source, sb.source) AS source_a,
           greatest(sa.source, sb.source) AS source_b,
           count(*) AS n_dup_pairs
    FROM pairs
    JOIN src sa ON sa.doc_id = doc_a
    JOIN src sb ON sb.doc_id = doc_b
    WHERE sa.source <> sb.source
    GROUP BY 1, 2
    ORDER BY n_dup_pairs DESC, source_a, source_b
    """,
    doc="Cross-source duplication matrix: for every pair of sources, how "
    "many near-duplicate document pairs (exact bigram-Jaccard >= 0.5) "
    "straddle them — the provenance signal that tells a curation "
    "pipeline which feeds copy from each other, and where train/eval "
    "contamination can enter (exact copies here never cross sources; "
    "near-dups almost always do — 24 of 25 pairs at sf0.01). Pair "
    "generation is the cost-based blocked Jaccard pipeline; attaching "
    "sources is two broadcast joins of the tiny (doc, source) "
    "projection; least/greatest canonicalizes the unordered pair.",
    tags=("pipeline", "dedup", "profiling", "training"),
)
def cross_source_duplication(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs_auto(docs, threshold=0.5, n=2)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("da"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("db"), F.col("source").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), pairs.doc_a == F.col("da"))
        .join(F.broadcast(sb), pairs.doc_b == F.col("db"))
        .filter(F.col("sa") != F.col("sb"))
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count("*").alias("n_dup_pairs"))
        .orderBy(F.col("n_dup_pairs").desc(), "source_a", "source_b")
    )


@register(
    "dedup_graph_triangles",
    oracle=_CLOSURE.replace("comps AS (", "_unused AS (")
    + """
    , tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    )
    SELECT count(*) AS n_triangles,
           CAST(count(DISTINCT a) + 0 AS BIGINT) AS n_apex_docs
    FROM tri
    """,
    doc="Triangle count over the near-dup graph (exact bigram-Jaccard >= "
    "0.5 pairs, canonical a < b orientation): triangles measure how "
    "CLIQUE-LIKE the duplicate structure is — template families form "
    "dense triangle-rich clusters while chain-shaped borderline overlap "
    "does not, which tells a curation pipeline whether keep-one-per-"
    "component is aggressive or safe. The canonical orientation makes "
    "each triangle (a<b<c) counted exactly once by the two-hop "
    "join-then-close pattern; the closing join is on the (small) pair "
    "list itself, never the corpus — at scale this is the standard "
    "edge-partitioned triangle enumeration with the heaviest-degree "
    "node as the join pivot.",
    tags=("pipeline", "dedup", "graph", "profiling"),
)
def dedup_graph_triangles(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pairs = materialize(
        D.ngram_jaccard_pairs_auto(docs, threshold=0.5, n=2)
        .select("doc_a", "doc_b")
        # consumed three times by the triangle join — materialize once
    )
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    return tri.agg(
        F.count("*").alias("n_triangles"),
        F.count_distinct("a").cast("bigint").alias("n_apex_docs"),
    )


@register(
    "dedup_pipeline_report",
    oracle=_CLOSURE
    + """
    , keepx AS (
      SELECT d.doc_id, CAST(coalesce(c.comp, d.doc_id) AS BIGINT) AS grp,
             (c.comp IS NULL OR c.comp = d.doc_id) AS keep
      FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc
    ),
    assigned AS (
      SELECT doc_id, grp, keep,
             CASE CAST(('0x' || substr(md5('split:' || CAST(grp AS VARCHAR)), 1, 8))
                       ::UBIGINT % 10 AS BIGINT)
                  WHEN 8 THEN 'val' WHEN 9 THEN 'test' ELSE 'train' END AS split
      FROM keepx
    ),
    tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    )
    SELECT 'pairs' AS metric, 'all' AS dim, CAST(count(*) AS BIGINT) AS value
    FROM pairs
    UNION ALL
    SELECT 'components', 'all', CAST(count(DISTINCT comp) AS BIGINT) FROM comps
    UNION ALL
    SELECT 'clustered_docs', 'all', CAST(count(*) AS BIGINT) FROM comps
    UNION ALL
    SELECT 'keep', CASE WHEN keep THEN 'true' ELSE 'false' END,
           CAST(count(*) AS BIGINT)
    FROM assigned GROUP BY 2
    UNION ALL
    SELECT 'split_docs', split, CAST(count(*) AS BIGINT)
    FROM assigned GROUP BY 2
    UNION ALL
    SELECT 'split_groups', split, CAST(count(DISTINCT grp) AS BIGINT)
    FROM assigned GROUP BY 2
    UNION ALL
    SELECT 'triangles', 'all', CAST(count(*) AS BIGINT) FROM tri
    UNION ALL
    SELECT 'triangle_apex', 'all', CAST(count(DISTINCT a) AS BIGINT) FROM tri
    """,
    doc="The composed curation pipeline as ONE plan (VERDICT r6 item 6): "
    "the exact bigram-Jaccard pair list is generated and checkpointed "
    "ONCE, then feeds connected components, the keep/drop census, the "
    "leakage-safe split census, and the triangle census — the artifact-"
    "reuse shape a real pipeline runs, vs. the standalone queries "
    "(dedup_clusters / dedup_keep_list / split_by_cluster / "
    "dedup_graph_triangles) which each re-pay pair generation when run "
    "as a suite. Output is a long-format metrics report (metric, dim, "
    "value); the oracle replays the identical closure + censuses. At "
    "100 TB the checkpoint becomes a persisted pair table every "
    "downstream consumer shares.",
    tags=("pipeline", "dedup", "clustering", "graph", "split"),
)
def dedup_pipeline_report(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # Pair-gen paid ONCE: consumed by the pair census, CC, and the 3-way
    # triangle self-join.
    pairs = materialize(
        D.ngram_jaccard_pairs_auto(docs, threshold=0.5, n=2)
        .select("doc_a", "doc_b")
    )
    # comps is small (docs that appear in a pair) and already materialized
    # by connected_components (driver union-find → local relation on the
    # small-graph path; checkpointed labels on the distributed path) — a
    # further checkpoint here is a wasted eager action (A/B: 4.9→3.6 s
    # warm at sf0.1 dropping this + the assigned checkpoint).
    comps = D.connected_components(pairs)
    grp = F.coalesce("comp", F.col("doc_id")).cast("bigint")
    keep = F.col("comp").isNull() | (F.col("comp") == F.col("doc_id"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("grp").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    assigned = (
        docs.select("doc_id")
        .join(comps, docs.doc_id == comps.doc, "left")
        .select("doc_id", grp.alias("grp"), keep.alias("keep"))
        .withColumn(
            "split",
            F.when(bucket == 8, "val").when(bucket == 9, "test").otherwise("train"),
        )
    )
    # assigned is consumed twice (keep census + split census) but its
    # recompute is one broadcast join over the already-materialized comps
    # — cheaper than another checkpoint action (round-4 lesson: only
    # materialize what costs more to recompute than to write).
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a")
    )
    m_pairs = pairs.agg(F.count("*").alias("v")).select(
        F.lit("pairs").alias("metric"), F.lit("all").alias("dim"),
        F.col("v").cast("bigint").alias("value"),
    )
    m_comps = comps.agg(
        F.count_distinct("comp").alias("n_comp"), F.count("*").alias("n_docs")
    ).selectExpr(
        "stack(2, 'components', 'all', CAST(n_comp AS BIGINT),"
        " 'clustered_docs', 'all', CAST(n_docs AS BIGINT))"
        " AS (metric, dim, value)"
    )
    m_keep = (
        assigned.groupBy("keep")
        .agg(F.count("*").alias("v"))
        .select(
            F.lit("keep").alias("metric"),
            F.when(F.col("keep"), "true").otherwise("false").alias("dim"),
            F.col("v").cast("bigint").alias("value"),
        )
    )
    m_split = (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("grp").alias("n_groups"),
        )
        .selectExpr(
            "stack(2, 'split_docs', split, CAST(n_docs AS BIGINT),"
            " 'split_groups', split, CAST(n_groups AS BIGINT))"
            " AS (metric, dim, value)"
        )
    )
    m_tri = tri.agg(
        F.count("*").alias("n_tri"), F.count_distinct("a").alias("n_apex")
    ).selectExpr(
        "stack(2, 'triangles', 'all', CAST(n_tri AS BIGINT),"
        " 'triangle_apex', 'all', CAST(n_apex AS BIGINT))"
        " AS (metric, dim, value)"
    )
    return m_pairs.unionAll(m_comps).unionAll(m_keep).unionAll(m_split).unionAll(m_tri)


@register(
    "dedup_graph_walk_centrality",
    # 3 unrolled integer power-iteration rounds over the doubled edge
    # list: h0 = 1, h_{k+1}(v) = Σ_{u∈nbr(v)} h_k(u). All-integer, so
    # cross-engine parity is exact by construction (no FP summation-order
    # hazard — the reason this is walk counting, not damped PageRank).
    oracle=_CLOSURE.replace("comps AS (", "_unused AS (")
    + """
    , deg AS (SELECT a AS doc, CAST(count(*) AS BIGINT) AS degree
              FROM edges GROUP BY 1),
    h1 AS (SELECT a AS doc, CAST(count(*) AS BIGINT) AS w FROM edges GROUP BY 1),
    h2 AS (SELECT e.a AS doc, CAST(sum(h1.w) AS BIGINT) AS w
           FROM edges e JOIN h1 ON h1.doc = e.b GROUP BY 1),
    h3 AS (SELECT e.a AS doc, CAST(sum(h2.w) AS BIGINT) AS w
           FROM edges e JOIN h2 ON h2.doc = e.b GROUP BY 1)
    SELECT h3.doc AS doc, h3.w AS walks3, deg.degree
    FROM h3 JOIN deg ON deg.doc = h3.doc
    ORDER BY walks3 DESC, h3.doc LIMIT 20
    """,
    doc="X87: duplicate-graph HUB census — top-20 documents by 3-step "
    "walk count (unnormalized eigenvector-centrality power iteration) "
    "over the near-dup graph. Template/boilerplate families show up as "
    "walk-count hubs orders of magnitude above chain-shaped borderline "
    "overlap, which tells a curation run WHICH documents to strip "
    "rather than drop. Deliberately integer walk counting instead of "
    "damped PageRank: every round is a sum of exact int64s, so Spark "
    "and the SQL oracle agree bit-for-bit with no FP summation-order "
    "hazard (the X66 GEMM-ulp caveat cannot arise). Scale shape: the "
    "checkpointed edge list is the only join input (the corpus is "
    "never touched after pair-gen); each round is one edges⋈labels "
    "shuffle reusing the same partitioning — the connected-components "
    "loop's cost model with a fixed 3-round bound; top-k is "
    "TakeOrdered, never a global sort.",
    tags=("pipeline", "dedup", "graph", "iterative"),
)
def dedup_graph_walk_centrality(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pairs = materialize(
        D.ngram_jaccard_pairs_auto(docs, threshold=0.5, n=2)
        .select("doc_a", "doc_b")
    )  # pair-gen runs once; 3 rounds + degree reuse it
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    # h1 = degree (h0 = 1); two more integer label-propagation rounds
    h = edges.groupBy("a").agg(F.count("*").alias("w"))
    deg = h.select(F.col("a").alias("doc"), F.col("w").cast("bigint").alias("degree"))
    for _ in range(2):
        h = (
            edges.join(h.select(F.col("a").alias("b"), "w"), "b")
            .groupBy("a")
            .agg(F.sum("w").alias("w"))
        )
    ranked = (
        h.select(F.col("a").alias("doc"), F.col("w").cast("bigint").alias("walks3"))
        .join(deg, "doc")
        .orderBy(F.col("walks3").desc(), F.col("doc"))
        .limit(20)
    )
    return ranked


@register(
    "dedup_graph_pagerank",
    # Damped PageRank in EXACT milli-integer arithmetic: pr0 = 1000 for
    # every graph node; each round, a node sends pr div degree along
    # every incident edge and receives pr' = 150 + (850 · Σ inbound)
    # div 1000 (damping 0.85 in milli units, truncating division at the
    # two fixed points). Every intermediate is an int64, so Spark and
    # DuckDB agree bit-for-bit — the same FP-order-hazard dodge as the
    # walk-centrality entry, but with the full random-surfer semantics
    # (degree normalization + teleport) that walk counting lacks.
    oracle=_CLOSURE.replace("comps AS (", "_unused AS (")
    + """
    , deg AS (SELECT a AS doc, CAST(count(*) AS BIGINT) AS degree
              FROM edges GROUP BY 1),
    p0 AS (SELECT doc, CAST(1000 AS BIGINT) AS pr FROM deg),
    p1 AS (SELECT e.b AS doc,
                  CAST(150 + (850 * CAST(sum(p0.pr // d.degree) AS BIGINT))
                       // 1000 AS BIGINT) AS pr
           FROM edges e JOIN p0 ON p0.doc = e.a JOIN deg d ON d.doc = e.a
           GROUP BY e.b),
    p2 AS (SELECT e.b AS doc,
                  CAST(150 + (850 * CAST(sum(p1.pr // d.degree) AS BIGINT))
                       // 1000 AS BIGINT) AS pr
           FROM edges e JOIN p1 ON p1.doc = e.a JOIN deg d ON d.doc = e.a
           GROUP BY e.b),
    p3 AS (SELECT e.b AS doc,
                  CAST(150 + (850 * CAST(sum(p2.pr // d.degree) AS BIGINT))
                       // 1000 AS BIGINT) AS pr
           FROM edges e JOIN p2 ON p2.doc = e.a JOIN deg d ON d.doc = e.a
           GROUP BY e.b)
    SELECT p3.doc AS doc, p3.pr AS pr_milli, deg.degree
    FROM p3 JOIN deg ON deg.doc = p3.doc
    ORDER BY pr_milli DESC, doc LIMIT 20
    """,
    doc="X127: damped PageRank (3 rounds, teleport 0.15) over the "
    "near-dup graph in exact milli-integer arithmetic — the curation "
    "signal that separates a template HUB (many high-degree neighbors "
    "feeding it rank) from a long chain of borderline overlaps, which "
    "degree and raw walk counts conflate. Integer formulation: each "
    "node sends pr div degree per edge and receives 150 + 850·Σ div "
    "1000, so every intermediate is int64 and cross-engine parity is "
    "exact by construction (no FP summation-order hazard). Scale "
    "shape: pair-gen runs ONCE onto a checkpointed edge list; each of "
    "the 3 rounds is one edges⋈rank shuffle on the same key (the "
    "connected-components cost model with a fixed round bound); "
    "the rank vector is never wider than (doc, int64); top-k is "
    "TakeOrdered, never a global sort. At 100 TB the edge list is the "
    "LSH-bucketed pair output — rank iteration cost is edges-bound, "
    "independent of corpus text size.",
    tags=("pipeline", "dedup", "graph", "iterative"),
)
def dedup_graph_pagerank(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pairs = materialize(
        D.ngram_jaccard_pairs_auto(docs, threshold=0.5, n=2)
        .select("doc_a", "doc_b")
    )  # pair-gen runs once; 3 rounds + degree reuse it
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    deg = edges.groupBy("a").agg(F.count("*").cast("bigint").alias("degree"))
    pr = deg.select(F.col("a").alias("doc"), F.lit(1000).cast("bigint").alias("pr"))
    for _ in range(3):
        contrib = (
            edges.join(
                pr.join(deg.withColumnRenamed("a", "doc"), "doc")
                .select(F.col("doc").alias("a"), F.expr("pr div degree").alias("c")),
                "a",
            )
            .groupBy("b")
            .agg(F.sum("c").alias("s"))
        )
        pr = contrib.select(
            F.col("b").alias("doc"),
            (F.lit(150) + F.expr("(850 * s) div 1000")).cast("bigint").alias("pr"),
        )
    return (
        pr.select(F.col("doc"), F.col("pr").alias("pr_milli"))
        .join(deg.select(F.col("a").alias("doc"), "degree"), "doc")
        .orderBy(F.col("pr_milli").desc(), F.col("doc"))
        .limit(20)
    )


@register(
    "cross_lang_neardup_census",
    # Near-dup pairs grouped by (unordered) language pair: same-lang
    # rows are ordinary duplication; cross-lang rows are the
    # translation/transliteration contamination a lang-blocked dedup
    # pass structurally cannot see (it never compares across the
    # block key).
    oracle=_CLOSURE.replace("comps AS (", "_unused AS (")
    + """
    , langs AS (
      SELECT p.doc_a, p.doc_b, da.lang AS lang_a, db.lang AS lang_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT least(lang_a, lang_b) AS lang_lo,
           greatest(lang_a, lang_b) AS lang_hi,
           CASE WHEN lang_a = lang_b THEN 'same' ELSE 'cross' END AS kind,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(doc_a) AS BIGINT) AS sample_doc_a,
           CAST(min(doc_b) AS BIGINT) AS sample_doc_b
    FROM langs GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    doc="X137: cross-language near-duplication census — near-dup pairs "
    "(exact bigram Jaccard ≥ 0.5, the certified pair plan) labeled by "
    "their documents' language pair. Same-lang mass is ordinary "
    "duplication; CROSS-lang mass is translated/transliterated "
    "contamination, exactly the class a lang-blocked dedup pass (the "
    "standard 100 TB blocking key) can never find — this census is the "
    "estimate of what that blocking choice costs. Scale shape: pair "
    "generation is the bucketed selector (runs once); the lang label "
    "is two joins against a 2-column pruned scan of documents; the "
    "census output is ≤ |langs|² rows.",
    tags=("dedup", "curation", "eval", "pipeline"),
)
def cross_lang_neardup_census(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pairs = materialize(
        D.ngram_jaccard_pairs_auto(docs, threshold=0.5, n=2)
        .select("doc_a", "doc_b")
    )
    langs = docs.select("doc_id", "lang")
    la = langs.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a")
    )
    lb = langs.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b")
    )
    labeled = pairs.join(la, "doc_a").join(lb, "doc_b")
    return (
        labeled.groupBy(
            F.least("lang_a", "lang_b").alias("lang_lo"),
            F.greatest("lang_a", "lang_b").alias("lang_hi"),
            F.when(F.col("lang_a") == F.col("lang_b"), "same")
            .otherwise("cross")
            .alias("kind"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.min("doc_a").cast("bigint").alias("sample_doc_a"),
            F.min("doc_b").cast("bigint").alias("sample_doc_b"),
        )
        .orderBy("lang_lo", "lang_hi", "kind")
    )


@register(
    "cluster_weighted_sample",
    # Soft dedup: instead of dropping near-duplicates, sample each
    # near-dup CLUSTER at rate 1/|cluster| (expected one survivor per
    # cluster) with a deterministic md5 draw — keep doc iff
    # md5_int(doc_id) % size == 0. Unique docs (size 1) always survive;
    # a 6-copy template survives ~1/6 per copy. Census by size band.
    oracle=_CLOSURE
    + """
    , grouped AS (
      SELECT d.doc_id, CAST(coalesce(c.comp, d.doc_id) AS BIGINT) AS grp
      FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc
    ), sized AS (
      SELECT doc_id, grp,
             CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS size
      FROM grouped
    ), drawn AS (
      SELECT doc_id, grp, size,
             CASE WHEN CAST(('0x' || substr(md5('cws:' || CAST(doc_id
                       AS VARCHAR)), 1, 8)) AS UBIGINT) % size = 0
                  THEN 1 ELSE 0 END AS kept
      FROM sized
    )
    SELECT least(size, 8) AS size_band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT grp) AS BIGINT) AS n_clusters,
           CAST(sum(kept) AS BIGINT) AS n_kept
    FROM drawn GROUP BY 1 ORDER BY 1
    """,
    doc="X142: cluster-weighted (soft) dedup sampling — the middle "
    "ground between keep-all (duplication bias) and keep-one (loses "
    "natural frequency signal entirely): each doc survives with "
    "probability 1/|its near-dup cluster| via a deterministic salted-"
    "md5 draw (keep iff digest % size == 0), so every cluster "
    "contributes ~one expected survivor and the engine-reproducible "
    "draw needs no RNG state. Downstream loss-weighting and the "
    "SemDeDup-style soft-dedup recipes are this exact shape. Scale "
    "shape: clusters come from the certified connected-components "
    "plan; sizing is one window over the grp key; the draw is "
    "row-local; census output ≤ 8 bands.",
    tags=("dedup", "sampling", "curation", "pipeline"),
)
def cluster_weighted_sample(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.dedup import connected_components

    docs = _docs(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs_auto(docs, threshold=0.5, n=2).select(
        "doc_a", "doc_b"
    )
    comps = connected_components(pairs, "doc_a", "doc_b")
    grouped = docs.select("doc_id").join(
        comps.select(F.col("doc").alias("doc_id"), "comp"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).cast("bigint").alias("grp"),
    )
    sized = grouped.select(
        "doc_id",
        "grp",
        F.count("*").over(Window.partitionBy("grp")).cast("bigint").alias("size"),
    )
    draw = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cws:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    drawn = sized.select(
        "doc_id",
        "grp",
        "size",
        F.when(draw % F.col("size") == 0, 1).otherwise(0).alias("kept"),
    )
    return (
        drawn.groupBy(F.least("size", F.lit(8)).alias("size_band"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("grp").cast("bigint").alias("n_clusters"),
            F.sum("kept").cast("bigint").alias("n_kept"),
        )
        .orderBy("size_band")
    )
