"""Fifth wave of LLM-training-pipeline operators (SURVEY.md §2.5 X33-X35):
classic IR / feature-extraction steps over the documents corpus — TF-IDF
term weighting, bigram language-model statistics, and tokenizer-design
vocabulary coverage — plus the generalized PII-redaction transform behind
X21. Absent from the reference by design scope (it is a connector —
SURVEY §0). All deterministic, all DuckDB oracle-checked, all built-in
expressions (zero Python in any hot path).

Scale posture, per operator:
- TF-IDF: two shuffles (tf by (doc,term), df by term) + one broadcast
  1-row corpus count; the df side joins back on term — the classic
  map-side-combinable shape. Top-k per doc is a window over the tf
  shuffle's own partitioning.
- bigram LM: one shuffle on (w1,w2) with map-side partial aggregation;
  the conditional-probability denominator is a window over w1 — Catalyst
  plans both over a single exchange of the (w1,w2) aggregate.
- vocab coverage: top-K terms via TakeOrderedAndProject (distributed
  per-partition top-K — no global sort of the vocabulary, which reaches
  1e8-1e9 distinct "terms" on a raw web corpus), token-mass denominator
  off the document scan, rank/cumsum window over only the K survivors.
- PII transform: pure regexp_replace/extract_all column expressions —
  single scan, no shuffle, codegen'd; pinned against DuckDB on synthetic
  rows with real-shaped emails/IPs/phones (tests/test_text_features.py).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import register


def _docs(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "documents")


_TOPK_TFIDF = 3
_TOPK_LM = 2
_TOP_VOCAB = 20

# Java-regex / RE2-portable core patterns (no lookarounds, no \p classes).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{7,15}\b"


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    ), toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (
      SELECT count(*) AS n_docs FROM d
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * ln((n.n_docs + 1) / CAST(df.df + 1 AS DOUBLE)) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, term, tf, score,
             row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           round(score, 4) AS tfidf, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_TOPK_TFIDF}
    """,
    doc="TF-IDF top-3 terms per document — the classic feature-extraction / "
    "keyword-weighting step. tf is one (doc,term) shuffle with map-side "
    "combine, df one term shuffle over the (already aggregated) tf frame, "
    "the corpus count a broadcast 1-row cross join; smooth idf = "
    "ln((N+1)/(df+1)). The per-doc top-k window reuses tf's hash "
    "partitioning on doc_id — no extra exchange.",
    tags=("text", "tfidf", "features", "pipeline"),
)
def tfidf_top_terms(spark, sf_dir):
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    # The (doc,term) tf census feeds df AND the scoring join; once
    # checkpoint it so the corpus tokenize+shuffle runs once, not twice
    # (r13 audit: 3 document scans → 2 — the remaining extra is the 1-row
    # doc count).
    tf = materialize(
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * F.log(
        (F.col("n_docs") + 1) / (F.col("df") + 1).cast("double")
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    )
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rk", rk)
        .filter(F.col("rk") <= _TOPK_TFIDF)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.round("score", 4).alias("tfidf"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


@register(
    "bigram_lm_topk",
    oracle=f"""
    WITH w AS (
      SELECT string_split(text, ' ') AS w FROM documents
      WHERE text IS NOT NULL
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i + 1])) AS bg
      FROM w
    ), pairs AS (
      SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
             count(*) AS cnt
      FROM bg GROUP BY 1, 2
    ), tot AS (
      SELECT w1, w2, cnt,
             sum(cnt) OVER (PARTITION BY w1) AS tot,
             row_number() OVER (PARTITION BY w1
                 ORDER BY cnt DESC, w2) AS rk
      FROM pairs
    )
    SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt,
           round(CAST(cnt AS DOUBLE) / tot, 4) AS p,
           CAST(rk AS BIGINT) AS rk
    FROM tot WHERE rk <= {_TOPK_LM} AND tot >= 100
    """,
    doc="Bigram language-model statistics: top-2 next tokens per context "
    "word with conditional probability P(w2|w1) — the n-gram LM building "
    "block (quality scoring, domain detection, perplexity proxies). "
    "Bigrams come from zip_with over shifted slices (the word_ngrams "
    "shape, NON-distinct — counts matter here); one (w1,w2) shuffle with "
    "map-side combine, then denominator + rank as two windows over the "
    "same w1 partitioning. Output is vocab-bounded, never corpus-bounded.",
    tags=("text", "lm", "ngram", "pipeline"),
)
def bigram_lm_topk(spark, sf_dir):
    w = F.split("text", " ")
    length = F.greatest(F.size(w) - 1, F.lit(0))
    bg = F.zip_with(
        F.slice(w, 1, length),
        F.slice(w, 2, length),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    pairs = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(F.explode(bg).alias("bg"))
        .select(
            F.substring_index("bg", " ", 1).alias("w1"),
            F.substring_index("bg", " ", -1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    wp = Window.partitionBy("w1")
    return (
        pairs.withColumn("tot", F.sum("cnt").over(wp))
        .withColumn(
            "rk",
            F.row_number().over(wp.orderBy(F.col("cnt").desc(), "w2")),
        )
        .filter((F.col("rk") <= _TOPK_LM) & (F.col("tot") >= 100))
        .select(
            "w1",
            "w2",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(F.col("cnt").cast("double") / F.col("tot"), 4).alias("p"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


@register(
    "token_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
      WHERE text IS NOT NULL
    ), counts AS (
      SELECT term, count(*) AS cnt FROM toks GROUP BY 1
    ), ranked AS (
      SELECT term, cnt,
             row_number() OVER (ORDER BY cnt DESC, term) AS rk,
             sum(cnt) OVER (ORDER BY cnt DESC, term
                 ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER () AS total
      FROM counts
    )
    SELECT CAST(rk AS BIGINT) AS rk, term, CAST(cnt AS BIGINT) AS cnt,
           round(CAST(cum AS DOUBLE) / total, 4) AS cum_frac
    FROM ranked WHERE rk <= {_TOP_VOCAB}
    """,
    doc="Vocabulary coverage curve: frequency-ranked terms with cumulative "
    "token-mass fraction — the tokenizer-design analysis (how much of the "
    "corpus the top-k vocab entries cover). Scale shape: the top-K terms "
    "come from TakeOrderedAndProject (per-partition top-K, merged — never "
    "a global sort of the vocabulary, which is 1e8+ 'terms' on a web "
    "corpus); the denominator is a scan-side token count (no second "
    "shuffle of the vocab aggregate); the rank/cumsum window then runs "
    "over only the K surviving rows under an explicit constant partition "
    "key, so no unbounded single-partition WindowExec exists anywhere in "
    "the plan. Cumulative mass at rank r only involves rows ranked <= r, "
    "so the K-row window equals the full-vocab window for rk <= K.",
    tags=("text", "vocab", "profiling", "pipeline"),
)
def token_vocab_coverage(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    # Total token mass == sum of all term counts, computed straight off the
    # document scan (sum of per-doc token counts) — no dependence on the
    # vocab aggregate, one scan-local aggregation, one row out.
    total = docs.select(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total")
    )
    top = counts.orderBy(F.col("cnt").desc(), "term").limit(_TOP_VOCAB)
    # K rows from here on: the window is bounded by _TOP_VOCAB. The
    # partition key is constant-valued but non-foldable — pmod(cnt, 1) is
    # always 0 yet survives optimization, while lit(0) and cnt*0 both get
    # constant-folded out of the partition spec, putting WindowExec back
    # on its warning-emitting move-everything-to-one-partition path.
    ordered = Window.partitionBy(F.pmod(F.col("cnt"), F.lit(1))).orderBy(
        F.col("cnt").desc(), "term"
    )
    return (
        top.withColumn("rk", F.row_number().over(ordered))
        .withColumn(
            "cum",
            F.sum("cnt").over(ordered.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rk").cast("bigint").alias("rk"),
            "term",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(F.col("cum").cast("double") / F.col("total"), 4).alias(
                "cum_frac"
            ),
        )
    )


# "Trained" logistic quality model: fixed coefficients over the quality
# features (the weights would come from a fasttext/logreg fit offline; at
# inference time they are literals baked into the plan).
_QM = {"b": -0.5, "ttr": 0.8, "stop": 2.5, "awl": -0.3, "nt": 0.001}


@register(
    "quality_model_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w, length(text) AS n_char
      FROM documents WHERE text IS NOT NULL
    ), f AS (
      SELECT doc_id,
             CAST(len(w) AS DOUBLE) AS nt,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
             CAST(len(list_filter(w, x -> x IN
                 ('the', 'of', 'and', 'to', 'in', 'is', 'a'))) AS DOUBLE)
               / len(w) AS stop,
             CAST(n_char - (len(w) - 1) AS DOUBLE) / len(w) AS awl
      FROM t
    ), z AS (
      SELECT doc_id,
             {_QM['b']} + {_QM['ttr']} * ttr + {_QM['stop']} * stop
               + {_QM['awl']} * (awl - 4) + {_QM['nt']} * nt AS z
      FROM f
    )
    SELECT doc_id, round(1 / (1 + exp(-z)), 4) AS score,
           1 / (1 + exp(-z)) >= 0.5 AS keep
    FROM z
    """,
    doc="Quality-model inference: a logistic classifier (fixed offline-"
    "trained coefficients over type-token ratio, stopword ratio, token "
    "length, doc length) scored as pure column arithmetic — the "
    "fasttext-style quality-filter shape at 100 TB. Model application is "
    "a single codegen'd scan projection: no UDF, no shuffle, no model "
    "server; the weights are plan literals so Catalyst constant-folds "
    "everything but the per-row dot product.",
    tags=("text", "quality", "model", "pipeline"),
)
def quality_model_score(spark, sf_dir):
    stop_arr = F.array(*[F.lit(s) for s in ("the", "of", "and", "to", "in", "is", "a")])
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("w"), F.length("text").alias("n_char"))
    )
    n = F.size("w").cast("double")
    nt = n
    ttr = F.size(F.array_distinct("w")).cast("double") / F.size("w")
    stop = (
        F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x))).cast("double")
        / F.size("w")
    )
    awl = (F.col("n_char") - (F.size("w") - 1)).cast("double") / F.size("w")
    z = (
        F.lit(_QM["b"])
        + F.lit(_QM["ttr"]) * ttr
        + F.lit(_QM["stop"]) * stop
        + F.lit(_QM["awl"]) * (awl - 4)
        + F.lit(_QM["nt"]) * nt
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return d.select(
        "doc_id",
        F.round(score, 4).alias("score"),
        (score >= 0.5).alias("keep"),
    )


def pii_redact(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Reusable PII-redaction transform: emails / IPv4 / international
    phone numbers → typed placeholders, with per-doc match counts and a
    fingerprint of the redacted text. Pure regexp column expressions —
    single scan, no shuffle, codegen'd. The *registry* PII query is
    ``pii_redact_docs`` in ``pipeline_extra.py`` (X21 — seeds PII so the
    operator provably fires at every sf); this transform generalizes it
    to the IPv4/intl-phone classes and is pinned against DuckDB on
    synthetic PII rows in ``tests/test_text_features.py``."""
    text = F.col(text_col)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    def n_matches(pat):
        return F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("bigint")

    return docs.select(
        F.col(id_col),
        n_matches(_PII_EMAIL).alias("n_emails"),
        n_matches(_PII_IPV4).alias("n_ipv4"),
        n_matches(_PII_PHONE).alias("n_phones"),
        F.md5(F.encode(clean, "UTF-8")).alias("clean_fp"),
    )


# Add-k smoothing constant and keep threshold for the LM quality filter.
_LM_K = 0.5
_LM_MAX_BITS = 12.0
_TOPK_BPE = 20


@register(
    "lm_perplexity_docs",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2
    ), dbg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i + 1])) AS bg
      FROM w
    ), inst AS MATERIALIZED (
      -- MATERIALIZED: inst/pc are each referenced from several arms of
      -- the scored join; DuckDB inlines plain CTEs per reference, and at
      -- sf1 the re-inlined pipeline blew past 100 GB / 280 s. Pinning
      -- them computes each once (2.9 s at sf1), values unchanged.
      SELECT doc_id, split_part(bg, ' ', 1) AS w1,
             split_part(bg, ' ', 2) AS w2
      FROM dbg
    ), pc AS MATERIALIZED (
      SELECT w1, w2, count(*) AS cnt FROM inst GROUP BY 1, 2
    ), wc AS MATERIALIZED (
      SELECT w1, sum(cnt) AS tot FROM pc GROUP BY 1
    ), v AS MATERIALIZED (
      SELECT count(DISTINCT w2) AS vocab FROM pc
    ), scored AS (
      SELECT i.doc_id,
             -log2((pc.cnt + {_LM_K}) / (wc.tot + {_LM_K} * v.vocab)) AS bits
      FROM inst i
      JOIN pc ON pc.w1 = i.w1 AND pc.w2 = i.w2
      JOIN wc ON wc.w1 = i.w1
      CROSS JOIN v
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(bits), 4) AS avg_bits,
           avg(bits) <= {_LM_MAX_BITS} AS keep
    FROM scored GROUP BY doc_id
    """,
    doc="LM-based quality filter (the CCNet shape): per-document "
    "cross-entropy (bits/bigram) under the corpus's own add-k-smoothed "
    "bigram model, with a fixed keep threshold. In production the model "
    "is trained on a trusted corpus (e.g. Wikipedia) and scores the crawl "
    "— here both sides are the documents table so the query is closed "
    "over the driver's fixtures. Plan: one (w1,w2) shuffle builds the "
    "model; the doc-instance table joins the model on (w1,w2) — the join "
    "reuses the instance exchange — then one groupBy(doc) mean. All "
    "aggregates map-side combined, vocab scalar broadcast; no Python.",
    tags=("text", "lm", "quality", "pipeline"),
)
def lm_perplexity_docs(spark, sf_dir):
    w = F.split("text", " ")
    length = F.greatest(F.size(w) - 1, F.lit(0))
    bg = F.zip_with(
        F.slice(w, 1, length),
        F.slice(w, 2, length),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    inst = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull() & (F.size(w) >= 2))
        .select("doc_id", F.explode(bg).alias("bg"))
        .select(
            "doc_id",
            F.substring_index("bg", " ", 1).alias("w1"),
            F.substring_index("bg", " ", -1).alias("w2"),
        )
    )
    # The (w1,w2) count census feeds three consumers (wc, vocab, scoring
    # join); checkpoint it once so the bigram explode + census shuffle
    # runs once, not three times (r13 audit: 4 document scans → 2 — the
    # per-doc scoring join legitimately re-reads the bigram instances;
    # checkpointing THOSE would write a stream larger than the text
    # itself, so the instance pass stays at 2).
    pc = materialize(
        inst.groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    wc = pc.groupBy("w1").agg(F.sum("cnt").alias("tot"))
    v = pc.agg(F.countDistinct("w2").cast("double").alias("vocab"))
    bits = -F.log2(
        (F.col("cnt") + F.lit(_LM_K))
        / (F.col("tot") + F.lit(_LM_K) * F.col("vocab"))
    )
    return (
        inst.join(pc, ["w1", "w2"])
        .join(wc, "w1")
        .crossJoin(F.broadcast(v))
        .select("doc_id", bits.alias("bits"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg("bits"), 4).alias("avg_bits"),
            (F.avg("bits") <= F.lit(_LM_MAX_BITS)).alias("keep"),
        )
    )


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH wf AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
      WHERE text IS NOT NULL
    ), freq AS (
      SELECT word, count(*) AS freq FROM wf
      WHERE len(word) >= 2 GROUP BY 1
    ), pairs AS (
      SELECT substring(word, CAST(i AS INTEGER), 2) AS pair,
             freq
      FROM freq, unnest(range(1, len(word))) AS t(i)
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS weight
    FROM pairs GROUP BY pair
    ORDER BY weight DESC, pair
    LIMIT {_TOPK_BPE}
    """,
    doc="First BPE merge iteration (tokenizer training): adjacent "
    "character-pair counts weighted by word frequency — the argmax pair "
    "is the first merge rule; the top-k list seeds the merge table. "
    "Plan: word-frequency aggregate first (the classic BPE trick — "
    "pair counting then runs over the VOCABULARY, not the corpus: "
    "|vocab| << corpus tokens), char pairs via transform+sequence "
    "(no UDF), one pair shuffle with map-side combine, top-k as "
    "TakeOrderedAndProject. Further merge iterations re-segment the "
    "vocab against the updated merge table — same plan shape iterated, "
    "the connected_components driver-loop pattern.",
    tags=("text", "tokenizer", "bpe", "pipeline"),
)
def bpe_merge_candidates(spark, sf_dir):
    freq = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = freq.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("weight"))
        .orderBy(F.col("weight").desc(), "pair")
        .limit(_TOPK_BPE)
    )


@register(
    "quality_score_calibration",
    # Calibration of the logistic quality model against exact-dup labels:
    # value-bin the score (round(score·10⁴) — the SAME 4-decimal grain the
    # quality_model_score entry already hash-matches at), label each doc
    # dup/unique by md5(text) multiplicity, and report per-bin dup rates.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS w,
             length(text) AS n_char
      FROM documents WHERE text IS NOT NULL
    ), f AS (
      SELECT doc_id, text,
             CAST(len(w) AS DOUBLE) AS nt,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
             CAST(len(list_filter(w, x -> x IN
                 ('the', 'of', 'and', 'to', 'in', 'is', 'a'))) AS DOUBLE)
               / len(w) AS stop,
             CAST(n_char - (len(w) - 1) AS DOUBLE) / len(w) AS awl
      FROM t
    ), z AS (
      SELECT doc_id, text,
             {_QM['b']} + {_QM['ttr']} * ttr + {_QM['stop']} * stop
               + {_QM['awl']} * (awl - 4) + {_QM['nt']} * nt AS z
      FROM f
    ), s AS (
      SELECT doc_id,
             least(CAST(round(10000 / (1 + exp(-z))) AS BIGINT) // 1000, 9)
               AS bin,
             md5(text) AS fp
      FROM z
    ), fps AS (
      SELECT fp, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN fps.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dups,
           CAST(sum(CASE WHEN fps.n > 1 THEN 1 ELSE 0 END) * 1000
                // count(*) AS BIGINT) AS dup_milli
    FROM s JOIN fps ON fps.fp = s.fp
    GROUP BY bin ORDER BY bin
    """,
    doc="X133: quality-model calibration curve — does the cheap logistic "
    "quality score actually predict the expensive label (exact "
    "duplication)? Docs are value-binned by score (10 bins on the same "
    "4-decimal grain the score entry hash-matches at, so the binning "
    "inherits its cross-engine parity), labeled dup/unique by md5(text) "
    "multiplicity, and each bin reports its exact milli dup rate — the "
    "monotonicity (or lack) of this curve is the go/no-go for using the "
    "score as a pre-filter before the O(pairs) dedup passes. Scale "
    "shape: score is a codegen'd scan projection; the label is one "
    "16-byte-digest groupBy joined back on the digest (never text); "
    "the final census is 10 groups, map-side combined.",
    tags=("text", "quality", "eval", "pipeline"),
)
def quality_score_calibration(spark, sf_dir):
    stop_arr = F.array(*[F.lit(s) for s in ("the", "of", "and", "to", "in", "is", "a")])
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.md5(F.encode("text", "UTF-8")).alias("fp"),
            F.split("text", " ").alias("w"),
            F.length("text").alias("n_char"),
        )
    )
    nt = F.size("w").cast("double")
    ttr = F.size(F.array_distinct("w")).cast("double") / F.size("w")
    stop = (
        F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x))).cast("double")
        / F.size("w")
    )
    awl = (F.col("n_char") - (F.size("w") - 1)).cast("double") / F.size("w")
    z = (
        F.lit(_QM["b"])
        + F.lit(_QM["ttr"]) * ttr
        + F.lit(_QM["stop"]) * stop
        + F.lit(_QM["awl"]) * (awl - 4)
        + F.lit(_QM["nt"]) * nt
    )
    s4 = F.round(F.lit(10000.0) / (F.lit(1.0) + F.exp(-z))).cast("bigint")
    s = d.select(
        "doc_id",
        # s4 ≤ 10⁴ so the double division is exact; floor ≡ // for
        # non-negative values
        F.least(F.floor(s4 / F.lit(1000)).cast("bigint"), F.lit(9)).alias("bin"),
        "fp",
    )
    fps = s.groupBy("fp").agg(F.count("*").cast("bigint").alias("n"))
    joined = s.join(fps, "fp")
    return (
        joined.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dups"),
            F.expr("sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) * 1000 div count(*)")
            .cast("bigint")
            .alias("dup_milli"),
        )
        .orderBy("bin")
    )
