"""Third wave of LLM-training-pipeline operators (SURVEY.md §2.5 X21-X25).

Absent from the reference by design scope (it is a connector — SURVEY §0);
these are the remaining steps a production 100 TB corpus pipeline runs
between ingestion and training, each Spark-first and oracle-checked:

- PII redaction (regex scrub, pure built-ins — pushdown-friendly);
- benchmark-contamination detection (shingle semi-join against an eval
  set — the shuffle moves only shingle hashes);
- deterministic shard assignment (md5-bucket, reproducible & auditable —
  the write-side partitioning column for sharded exports);
- document-frequency-capped Jaccard (drops hot shingles before the
  inverted-index self-join — THE lever that keeps the exact path alive at
  scale, since join size is Σ df(s)² and the cap bounds every df);
- ORC scan surface (write+read round-trip through Spark's native ORC
  source, proving the engine speaks more than parquet).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import register


def _t(spark, sf_dir, name):
    from ..session import load_table

    return load_table(spark, sf_dir, name)


_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE = r"\d{3}-\d{3}-\d{4}"


@register(
    "pii_redact_docs",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-'
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
               AS raw
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_EMAIL}')) AS n_emails,
           len(regexp_extract_all(raw, '{_PHONE}')) AS n_phones,
           md5(regexp_replace(regexp_replace(raw, '{_EMAIL}', '<EMAIL>', 'g'),
                              '{_PHONE}', '<PHONE>', 'g')) AS redacted_fp
    FROM seeded
    """,
    doc="PII redaction: email/phone regex scrub as pure column expressions "
    "(JVM regex inside whole-stage codegen — no UDF). PII is seeded "
    "deterministically into the corpus so the operator provably fires; "
    "the oracle verifies redaction counts AND the redacted bytes (md5).",
    tags=("pipeline", "pii", "text"),
)
def pii_redact_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-0199"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL, "<EMAIL>"), _PHONE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(raw, F.lit(_PHONE)).cast("bigint").alias("n_phones"),
        F.md5(F.encode(redacted, "UTF-8")).alias("redacted_fp"),
    )


@register(
    "contamination_check_docs",
    oracle="""
    WITH sh AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS bg
      FROM documents
    ),
    eval_sh AS (SELECT DISTINCT unnest(bg) AS s FROM sh WHERE doc < 20),
    corpus AS (SELECT doc, len(bg) AS n, unnest(bg) AS s FROM sh WHERE doc >= 20),
    hits AS (
      SELECT c.doc, c.n, count(*) AS shared
      FROM corpus c JOIN eval_sh e ON c.s = e.s
      GROUP BY c.doc, c.n
    )
    SELECT doc AS doc_id, shared, n AS n_shingles,
           round(CAST(shared AS DOUBLE) / n, 4) AS overlap
    FROM hits
    WHERE CAST(shared AS DOUBLE) / n >= 0.3
    """,
    doc="Benchmark-contamination detection: corpus docs whose word-bigram "
    "sets overlap an eval set (doc_id < 20 stands in for the benchmark) "
    "above 30%. The join moves (shingle, doc) short rows through one "
    "shuffle; at 100 TB the eval-set side is a broadcast build (it is "
    "bounded by the benchmark size, not the corpus).",
    tags=("pipeline", "contamination", "dedup"),
)
def contamination_check_docs(spark, sf_dir):
    from ..operators.dedup import word_ngrams

    d = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    sh = d.repartition(par, "doc_id").select(
        F.col("doc_id").alias("doc"), word_ngrams(F.col("text"), 2).alias("bg")
    )
    eval_sh = (
        sh.filter(F.col("doc") < 20).select(F.explode("bg").alias("s")).distinct()
    )
    corpus = sh.filter(F.col("doc") >= 20).select(
        "doc", F.size("bg").alias("n"), F.explode("bg").alias("s")
    )
    overlap = F.col("shared") / F.col("n")
    return (
        corpus.join(eval_sh, "s")
        .groupBy("doc", "n")
        .agg(F.count("*").alias("shared"))
        .filter(overlap >= 0.3)
        .select(
            F.col("doc").alias("doc_id"),
            "shared",
            F.col("n").alias("n_shingles"),
            F.round(overlap, 4).alias("overlap"),
        )
    )


@register(
    "shard_assignment_docs",
    oracle="""
    WITH sharded AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 16
                  AS BIGINT) AS shard
      FROM documents
    )
    SELECT shard, count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc,
           count(DISTINCT lang) AS n_langs
    FROM sharded GROUP BY shard
    """,
    doc="Deterministic shard assignment for sharded exports: md5-bucket of "
    "the doc id → 16 shards, reproducible across engines and runs (no "
    "RNG). This is the write-side partitioning column: "
    "df.write.partitionBy('shard') turns it into partition pruning for "
    "downstream readers. The per-shard profile proves balance.",
    tags=("pipeline", "sharding", "sampling"),
)
def shard_assignment_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 16
    )
    return (
        d.select("doc_id", "lang", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@register(
    "dedup_ngram_jaccard_dfcap",
    oracle="""
    WITH sh AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS bg
      FROM documents
    ),
    ex AS (SELECT doc, unnest(bg) AS s FROM sh),
    kept AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
    cex AS (SELECT ex.doc, ex.s FROM ex JOIN kept USING (s)),
    sizes AS (SELECT doc, count(*) AS n FROM cex GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
      FROM cex a JOIN cex b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    """,
    doc="Document-frequency-capped exact Jaccard: shingles appearing in "
    "more than 50 docs are dropped BEFORE the inverted-index self-join. "
    "Join size is Σ df(s)², so the cap bounds every term at 50² — the "
    "lever that keeps the exact path alive at 100 TB (boilerplate "
    "shingles are what blow it up, and they carry no dedup signal). "
    "Jaccard is computed over the capped shingle space on both sides.",
    tags=("pipeline", "dedup", "jaccard", "dfcap"),
)
def dedup_ngram_jaccard_dfcap(spark, sf_dir):
    from ..operators.dedup import ngram_jaccard_pairs_dfcap

    return ngram_jaccard_pairs_dfcap(
        _t(spark, sf_dir, "documents"), threshold=0.5, df_cap=50
    )


@register(
    "scan_orc_roundtrip",
    oracle="""
    SELECT p_brand, count(*) AS n_parts,
           CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT))
                AS BIGINT) / 1e2 AS total_price,
           CAST(max(p_size) AS BIGINT) AS max_size
    FROM part GROUP BY p_brand
    """,
    doc="ORC scan surface: the part table is written through Spark's "
    "native ORC sink and read back, then aggregated — proving the "
    "format round-trips losslessly (the oracle aggregates the original "
    "parquet). Completes the file-format coverage note from SURVEY §2.4.",
    tags=("scan", "orc", "formats"),
)
def scan_orc_roundtrip(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    out = os.path.join(
        tempfile.gettempdir(), f"orc_roundtrip_{abs(hash(sf_dir)) % (1 << 30)}"
    )
    p.write.mode("overwrite").orc(out)
    return (
        spark.read.orc(out)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            (
                F.expr(
                    "CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT))"
                    " AS BIGINT)"
                )
                / 1e2
            ).alias("total_price"),
            F.max("p_size").cast("bigint").alias("max_size"),
        )
    )


@register(
    "partitioned_layout_pruning",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ('en', 'de')
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Write-side layout -> read-side partition pruning, the first 100 TB "
    "lever any lakehouse pulls: documents are written "
    "partitionBy('lang') (hive-style lang=.. directories), read back "
    "with a lang filter, and the scan prunes whole directories — the "
    "physical plan carries the predicate as PartitionFilters (pinned in "
    "tests/test_plan_shapes.py), so bytes read scale with the selected "
    "partitions, not the table. The oracle aggregates the original "
    "parquet: pruning must be invisible to results.",
    tags=("scan", "layout", "pruning", "formats"),
)
def partitioned_layout_pruning(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = os.path.join(
        tempfile.gettempdir(), f"part_layout_{abs(hash(sf_dir)) % (1 << 30)}"
    )
    d.write.mode("overwrite").partitionBy("lang").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "bucketed_colocated_join",
    oracle="""
    WITH u AS (
      SELECT o_orderpriority,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS units
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           ((CAST(sum(units) AS BIGINT) + 50) // 100) / 100.0 AS revenue
    FROM u
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Bucketed co-located join — the big-join answer to 'minimize "
    "shuffles': lineitem and orders are written bucketBy(8, orderkey) "
    "sortBy(orderkey) as managed tables, so the subsequent fact-fact "
    "join reads bucket i against bucket i directly. The physical plan "
    "has NO shuffle exchange on either side of the SortMergeJoin "
    "(pinned in tests/test_plan_shapes.py) — at 100 TB this turns the "
    "join from a full-network shuffle into a node-local merge, and the "
    "one-time bucketed write amortizes over every subsequent join on "
    "the same key. Oracle joins the original parquet: layout must be "
    "invisible to results. Revenue (r13, closing the r9 ADVICE item) is "
    "exact 4-decimal fixed point: ep and discount are 2-dp values, so "
    "round(ep*100) and round(disc*100) recover exact int64s (identical "
    "IEEE double product + half-away round on both engines), and "
    "ep_cents * (100 - disc_pct) IS revenue*10^4 exactly — summed as "
    "int64 (~6e13 per priority at sf10; int64 headroom past sf10000) "
    "then rounded ONCE to cents via integer (+50) div 100 (operands "
    "non-negative, so Spark div == DuckDB //). Sum-then-round matches "
    "classic revenue semantics exactly AND is order-independent — the "
    "former <=0.5 cent/row round-then-sum divergence is gone.",
    tags=("join", "layout", "bucketing", "pruning"),
)
def bucketed_colocated_join(spark, sf_dir):
    import hashlib
    import os

    # Stable, freshness-keyed table tag: Python's str hash is
    # PYTHONHASHSEED-randomized (a new name every driver process → stale
    # bucketed tables accumulating forever), and a seed-stable name alone
    # would serve a stale bucketed copy if the source parquet under
    # sf_dir were regenerated. Digesting sf_dir + source mtimes gives a
    # deterministic name that changes exactly when the inputs do; tables
    # carrying an old tag are dropped below.
    h = hashlib.md5(sf_dir.encode())
    for t in ("lineitem", "orders"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            h.update(str(int(os.path.getmtime(p))).encode())
        except OSError:
            pass
    tag = h.hexdigest()[:10]
    li_tbl, o_tbl = f"li_bkt_{tag}", f"o_bkt_{tag}"
    for tbl in spark.catalog.listTables():
        if tbl.name.startswith(("li_bkt_", "o_bkt_")) and not tbl.name.endswith(tag):
            spark.sql(f"DROP TABLE IF EXISTS {tbl.name}")
    # The catalog is per-session but the warehouse directory is not: a
    # table name unknown to THIS session may still have a directory left
    # by a previous driver process (saveAsTable refuses to reuse it).
    # The tag pins the dir to exactly these inputs, so clearing an
    # orphaned location and rebuilding is always safe.
    import shutil

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for tbl in (li_tbl, o_tbl):
        if not spark.catalog.tableExists(tbl):
            shutil.rmtree(os.path.join(warehouse, tbl.lower()), ignore_errors=True)
    if not spark.catalog.tableExists(li_tbl):
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        (
            li.write.mode("overwrite")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable(li_tbl)
        )
    if not spark.catalog.tableExists(o_tbl):
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        (
            o.write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(o_tbl)
        )
    li_b, o_b = spark.table(li_tbl), spark.table(o_tbl)
    # MERGE hint: at tiny SFs AQE would broadcast the orders side, which
    # also avoids a shuffle but hides the layout property under test; the
    # hint pins SortMergeJoin so the bucket-aligned, exchange-free scan
    # pair is what executes at every scale.
    units = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li_b.join(o_b.hint("merge"), li_b.l_orderkey == o_b.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(units).cast("long").alias("units"),
        )
        .select(
            "o_orderpriority",
            "n_lines",
            (
                F.expr("(units + 50) div 100").cast("double") / 100.0
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "merge_upsert_orders",
    oracle="""
    WITH cents AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ),
    upd AS (
      SELECT o_orderkey, c + 1000 AS new_c FROM cents
      WHERE o_orderkey % 10 = 7
    ),
    ins AS (
      SELECT o_orderkey + 10000000000 AS o_orderkey,
             'P' AS o_orderstatus, CAST(floor(c / 2) AS BIGINT) AS c
      FROM cents WHERE o_orderkey % 10 = 3
    ),
    merged AS (
      SELECT t.o_orderkey, t.o_orderstatus,
             coalesce(u.new_c, t.c) AS c,
             (u.o_orderkey IS NOT NULL) AS updated
      FROM cents t LEFT JOIN upd u USING (o_orderkey)
      UNION ALL
      SELECT o_orderkey, o_orderstatus, c, FALSE FROM ins
    )
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(sum(c) AS BIGINT) AS sum_cents,
           CAST(sum(CASE WHEN updated THEN 1 ELSE 0 END) AS BIGINT)
               AS n_updated
    FROM merged GROUP BY o_orderstatus
    """,
    doc="X83: MERGE/upsert semantics (the warehouse refresh-function "
    "shape, cf. TPC-H RF1/RF2): a delta batch of updates (matched keys "
    "get a new price) and inserts (new keys) applied to the orders "
    "target in one plan — update-on-match via LEFT JOIN + coalesce, "
    "insert via union; census per status proves row accounting "
    "(updated/inserted/untouched). Money is accumulated in EXACT integer "
    "cents (floor-form at 2dp) so the census is order-independent and "
    "engine-identical. At 100 TB this is the copy-on-write partition "
    "rewrite: the join is key-partitioned (bucketed target + delta "
    "co-location = shuffle-free), untouched partitions are carried "
    "forward by reference, and the delta side is broadcast when small.",
    tags=("pipeline", "upsert", "join"),
)
def merge_upsert_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    # The cents-staged base feeds three consumers (updates, inserts, the
    # merge target); checkpoint it once so the orders scan + cents
    # conversion run once, not three times (r13 audit: 3 scans → 1 —
    # the real MERGE shape stages its delta once too).
    cents = materialize(o.select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("c"),
    ))
    upd = cents.filter(F.col("o_orderkey") % 10 == 7).select(
        "o_orderkey", (F.col("c") + 1000).alias("new_c")
    )
    ins = cents.filter(F.col("o_orderkey") % 10 == 3).select(
        (F.col("o_orderkey") + F.lit(10_000_000_000)).alias("o_orderkey"),
        F.lit("P").alias("o_orderstatus"),
        F.floor(F.col("c") / F.lit(2)).cast("bigint").alias("c"),
        F.lit(False).alias("updated"),
    )
    merged = (
        cents.join(upd, "o_orderkey", "left")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.coalesce("new_c", "c").alias("c"),
            F.col("new_c").isNotNull().alias("updated"),
        )
        .unionByName(ins)
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum("c").cast("bigint").alias("sum_cents"),
        F.sum(F.when(F.col("updated"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_updated"),
    )


@register(
    "scan_jsonl_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) / 1e2 AS total_price,
           CAST(max(o_custkey) AS BIGINT) AS max_cust
    FROM orders GROUP BY o_orderstatus
    """,
    doc="X90: JSON-lines scan surface — orders written through Spark's "
    "native JSON sink (one object per line, the interchange format most "
    "raw training-data drops arrive in) and read back WITH AN EXPLICIT "
    "SCHEMA, then aggregated; the oracle aggregates the original "
    "parquet, so the round-trip must be lossless for the projected "
    "columns (doubles survive via shortest-repr serialization — "
    "bit-exact on re-parse). Schema-on-read is the load-bearing "
    "practice: schema inference at 100 TB is a full extra pass and "
    "type-unstable across shards. Completes the format family "
    "(parquet/ORC/CSV/Avro/XML + JSONL).",
    tags=("scan", "json", "formats"),
)
def scan_jsonl_roundtrip(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    out = os.path.join(
        tempfile.gettempdir(), f"jsonl_roundtrip_{abs(hash(sf_dir)) % (1 << 30)}"
    )
    o.write.mode("overwrite").json(out)
    return (
        spark.read.schema(
            "o_orderkey bigint, o_custkey bigint, "
            "o_orderstatus string, o_totalprice double"
        )
        .json(out)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            (
                F.expr(
                    "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
                    " AS BIGINT)"
                )
                / 1e2
            ).alias("total_price"),
            F.max("o_custkey").cast("bigint").alias("max_cust"),
        )
    )


@register(
    "dynamic_partition_overwrite",
    oracle="""
    WITH days AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE value >= 0.5) AS BIGINT) AS n_kept
      FROM events GROUP BY 1
    ), bounds AS (SELECT min(day) AS d0 FROM days)
    SELECT d.day,
           CASE WHEN d.day = b.d0 THEN d.n_kept ELSE d.n END AS n_rows
    FROM days d, bounds b
    """,
    doc="X109: dynamic partition overwrite — the idempotent-backfill "
    "primitive of a partitioned lakehouse: events land partitioned by "
    "day, then ONE day is re-written (filtered to value >= 0.5) with "
    "partitionOverwriteMode=dynamic, which must replace exactly the "
    "partitions present in the incoming frame and leave every other "
    "day's files untouched. The read-back census proves it: the "
    "backfilled day shows the filtered count, all other days show the "
    "original counts (the oracle computes both from the raw table). "
    "Static overwrite mode here would silently DELETE the other days — "
    "the failure mode this query exists to pin. At 100 TB this is the "
    "difference between rewriting one day and rewriting the table.",
    tags=("warehouse", "layout", "overwrite", "formats"),
)
def dynamic_partition_overwrite(spark, sf_dir):
    # validated before anything is read: the salt below needs a modulus >= 1
    splits = int(os.environ.get("SPARK_GRAFT_DAY_WRITE_SPLITS", "4"))
    if splits < 1:
        raise ValueError(
            f"SPARK_GRAFT_DAY_WRITE_SPLITS must be >= 1, got {splits}"
        )
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "value"
    )
    out = os.path.join(
        tempfile.gettempdir(), f"dyn_overwrite_{abs(hash(sf_dir)) % (1 << 30)}"
    )
    # Cluster by the partition column before the partitioned write (guide
    # §6): without it every scan task writes one file per day it sees —
    # tasks × days files (at 100 TB: millions of small files). Plain
    # repartition("day") routes each day into exactly ONE task, which fixes
    # the file count but serializes each day's write — at scale a heavy day
    # becomes a straggler emitting one giant file (ADVICE r13). A bounded
    # deterministic salt (guide §2.5 — derived from data, never rand())
    # splits each day across up to SPARK_GRAFT_DAY_WRITE_SPLITS tasks/files:
    # still O(days × splits) files, parallel within a day. Local default 4
    # keeps sf0.1 files reasonably sized; at 100 TB set it so per-file
    # output lands in the 128 MB–1 GB band (day_bytes / ~512 MB).
    salt = F.pmod(F.xxhash64("value"), F.lit(splits))
    ev.repartition(F.col("day"), salt).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(out)
    d0 = ev.agg(F.min("day")).head()[0]  # the day being backfilled
    backfill = ev.filter((F.col("day") == d0) & (F.col("value") >= 0.5))
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # the single backfilled day is salted too: its rewrite runs on
        # `splits` tasks instead of dribbling one file per scan task
        backfill.repartition(F.col("day"), salt).write.mode("overwrite").partitionBy(
            "day"
        ).parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
    return (
        spark.read.parquet(out)
        .groupBy("day")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )


@register(
    "schema_evolution_scan",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(*) FILTER (
             WHERE CAST(('0x' || substr(md5('schemaevo:'
                     || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 2 = 1
           ) AS BIGINT) AS n_with_lang
    FROM documents GROUP BY source
    """,
    doc="X110: schema-evolution scan (mergeSchema) — a table whose early "
    "files predate a column: half the corpus is written WITHOUT the "
    "lang column, half with it, and one mergeSchema read reconstructs "
    "the union schema with NULL lang for the legacy files. The census "
    "proves no rows or values are lost across the schema boundary and "
    "that exactly the new-file rows carry lang (count(lang) counts "
    "non-NULLs on both engines). The 100 TB note cuts the other way "
    "here: schema inference + footer merging is an extra pass over "
    "every file footer — production tables should pin the schema in "
    "the catalog and treat mergeSchema as a migration tool, which is "
    "what this query demonstrates surviving.",
    tags=("scan", "schema", "evolution", "formats"),
)
def schema_evolution_scan(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = os.path.join(
        tempfile.gettempdir(), f"schema_evo_{abs(hash(sf_dir)) % (1 << 30)}"
    )
    # md5-bucket generation split (doc_id % 2 degenerates: the generator
    # assigns doc_ids with a per-source stride, making parity constant
    # within a source — the salted-hash split mixes everywhere)
    from .layout_extra import _md5_bucket

    gen = _md5_bucket(F.col("doc_id"), "schemaevo:", 2)
    legacy = d.filter(gen == 0).drop("lang")
    modern = d.filter(gen == 1)
    legacy.write.mode("overwrite").parquet(os.path.join(out, "batch=0"))
    modern.write.mode("overwrite").parquet(os.path.join(out, "batch=1"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "batch=0"), os.path.join(out, "batch=1")
    )
    return merged.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.count("lang").cast("bigint").alias("n_with_lang"),
    )
