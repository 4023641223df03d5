"""Token counting with a BPE-ish regex and winnowing-style document
fingerprinting (rolling-hash shingles → per-window minimum) — the remaining
text-analysis items of the BASELINE.json extension surface.

Everything is built-in regexp/array functions — codegen'd, zero Python.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import register


def _docs(spark, sf_dir):
    from ..session import load_table

    return load_table(spark, sf_dir, "documents")


# BPE-style pre-tokenization classes: letter runs, digit runs, punctuation
# runs (the GPT-2 pattern family restricted to a Java/RE2-portable core).
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


@register(
    "text_regex_tokens",
    oracle=f"""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT)
             AS total_bpe_tokens,
           round(avg(len(regexp_extract_all(text, '{_BPE_RE}'))), 4)
             AS avg_bpe_tokens,
           CAST(max(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT)
             AS max_bpe_tokens
    FROM documents
    GROUP BY lang
    """,
    doc="BPE-ish regex pre-tokenization (letter/digit/punct runs) token "
    "counting — the fast proxy for real tokenizer cost estimation over a "
    "corpus; single scan, tiny shuffle.",
    tags=("text", "tokens"),
)
def text_regex_tokens(spark, sf_dir):
    d = _docs(spark, sf_dir)
    ntok = F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)"))
    return d.groupBy("lang").agg(
        F.sum(ntok).cast("bigint").alias("total_bpe_tokens"),
        F.round(F.avg(ntok), 4).alias("avg_bpe_tokens"),
        F.max(ntok).cast("bigint").alias("max_bpe_tokens"),
    )


_WINNOW_W = 5  # fingerprints = per-window minimum over 5 consecutive shingle hashes


@register(
    "doc_winnowing_fingerprints",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> md5(string_split(text, ' ')[i] || ' ' ||
                          string_split(text, ' ')[i+1] || ' ' ||
                          string_split(text, ' ')[i+2])) AS h
      FROM documents
    ),
    wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(h) - {_WINNOW_W} + 2),
                 i -> list_min(h[i:i+{_WINNOW_W}-1]))) AS fps
      FROM sh
      WHERE len(h) >= {_WINNOW_W}
    )
    SELECT doc_id, unnest(fps) AS fp
    FROM wins
    """,
    doc="Winnowing document fingerprints: word 3-gram rolling (md5) hashes, "
    "per-5-window minima, distinct per doc. The standard near-dup sketch "
    "whose fingerprint count is ~2/(w+1) of shingle count — the shuffle "
    "shrinks accordingly at 100 TB.",
    tags=("text", "fingerprint", "dedup"),
)
def doc_winnowing_fingerprints(spark, sf_dir):
    # Both stages use zip_with folds over shifted slice views — indexed
    # element_at/slice inside a HOF lambda is interpreted per element and
    # measured ~8× slower on this corpus (see operators/dedup.word_ngrams).
    d = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    # ordered (non-distinct) word 3-gram md5 hashes
    n_tri = F.greatest(F.size(w) - F.lit(2), F.lit(0))
    tri = F.slice(w, 1, n_tri)
    for j in (1, 2):
        tri = F.zip_with(
            tri, F.slice(w, 1 + j, n_tri), lambda a, b: F.concat_ws(" ", a, b)
        )
    hashes = F.transform(tri, lambda g: F.md5(g))
    sh = d.select("doc_id", hashes.alias("h")).filter(F.size("h") >= _WINNOW_W)
    # per-5-window minima: fold least() over 5 shifted views of h
    n_win = F.size(F.col("h")) - F.lit(_WINNOW_W - 1)
    mins = F.slice("h", 1, n_win)
    for j in range(1, _WINNOW_W):
        mins = F.zip_with(mins, F.slice("h", 1 + j, n_win), lambda a, b: F.least(a, b))
    return sh.select("doc_id", F.explode(F.array_distinct(mins)).alias("fp"))


@register(
    "token_hapax_ratio",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (
      SELECT lang, tok, count(*) AS n FROM tok GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           floor(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 1e4 + 0.5) / 1e4 AS hapax_ratio
    FROM freq GROUP BY lang
    """,
    doc="X84: hapax-legomena share per language — the fraction of word "
    "types occurring exactly once. A classic corpus-quality/diversity "
    "signal: OCR noise and boilerplate-heavy feeds push it to the "
    "extremes, and it calibrates Heaps-law vocabulary growth for "
    "tokenizer budgeting. One token shuffle to (lang, tok) counts "
    "(map-side combinable), then a lang-bounded rollup; the ratio uses "
    "engine-stable floor rounding on an exact integer quotient.",
    tags=("text", "stats", "quality"),
)
def token_hapax_ratio(spark, sf_dir):
    tok = _docs(spark, sf_dir).select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    freq = tok.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    hapax = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    return freq.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_types"),
        hapax.cast("bigint").alias("n_hapax"),
        (F.floor(hapax.cast("double") / F.count("*") * 1e4 + 0.5) / 1e4).alias(
            "hapax_ratio"
        ),
    )


@register(
    "typo_token_pairs",
    # Edit-distance-1 token pairs WITHOUT an all-pairs comparison:
    # deletion-neighborhood blocking (SymSpell's core idea) — two
    # tokens are within one edit iff they share a deletion variant
    # (the token itself, or the token with one character removed), so
    # the candidate set is a self-join on an exploded ≤(len+1)-variant
    # key; levenshtein runs only on candidates as the verify step.
    oracle="""
    WITH real_toks AS (
      SELECT t AS tok, CAST(count(*) AS BIGINT) AS df
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      WHERE length(t) BETWEEN 3 AND 12
      GROUP BY 1
    ), noisy AS (
      -- deterministic typo channel (the pii_redact_docs seeding
      -- precedent): the synthetic vocabulary has ZERO natural edit-1
      -- pairs, so ~1/16 of tokens (md5 first hex '0') inject a
      -- middle-char-deletion variant at df 1 — the operator provably
      -- fires at every sf, and real pairs would surface identically
      SELECT substr(tok, 1, length(tok) // 2)
             || substr(tok, length(tok) // 2 + 2, length(tok)) AS tok,
             CAST(1 AS BIGINT) AS df
      FROM real_toks
      WHERE substr(md5(tok), 1, 1) = '0' AND length(tok) >= 4
    ), toks AS (
      SELECT tok, CAST(sum(df) AS BIGINT) AS df
      FROM (SELECT tok, df FROM real_toks
            UNION ALL SELECT tok, df FROM noisy)
      GROUP BY 1
    ), vars AS (
      SELECT tok, df, v
      FROM toks, unnest(list_prepend(tok,
             list_transform(range(1, length(tok) + 1),
                 i -> substr(tok, 1, i - 1)
                      || substr(tok, i + 1, length(tok) - i)))) AS u(v)
    ), cand AS (
      SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b,
             a.df AS df_a, b.df AS df_b
      FROM vars a JOIN vars b ON a.v = b.v AND a.tok < b.tok
    )
    SELECT tok_a, tok_b, df_a, df_b
    FROM cand
    WHERE levenshtein(tok_a, tok_b) = 1
    ORDER BY df_a + df_b DESC, tok_a, tok_b
    LIMIT 50
    """,
    doc="X141: spelling-variant pair discovery — edit-distance-1 token "
    "pairs found by DELETION-NEIGHBORHOOD blocking (share a deletion "
    "variant ⇒ within one edit), never an all-pairs comparison: each "
    "token explodes into ≤ len+1 variant keys, the self-join runs on "
    "the variant key, and levenshtein verifies candidates only — the "
    "SymSpell decomposition, which is what makes typo clustering "
    "feasible on a 100 TB corpus vocabulary (work is Σ per-variant "
    "bucket², bounded by the hash blocking, vs |vocab|²). df counts "
    "ride along so the census doubles as a fix-direction signal "
    "(high-df token = the canonical form). The generator's vocabulary "
    "contains no natural edit-1 pairs, so a deterministic typo channel "
    "(md5-selected ~1/16 of tokens get a middle-char-deletion variant "
    "at df 1 — the pii_redact_docs seeding precedent) makes the "
    "operator provably fire at every sf; real pairs would surface "
    "through the identical path. Top-50 by combined df via TakeOrdered.",
    tags=("text", "dedup", "fuzzy", "pipeline"),
)
def typo_token_pairs(spark, sf_dir):
    from ..session import load_table

    # Vocab census checkpointed: it feeds the typo channel AND the union
    # merge — the old shape tokenized the corpus twice (r13 audit).
    real_toks = materialize(
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter((F.length("tok") >= 3) & (F.length("tok") <= 12))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
    # deterministic typo channel — see oracle comment
    noisy = real_toks.filter(
        (F.substring(F.md5("tok"), 1, 1) == "0") & (F.length("tok") >= 4)
    ).select(
        F.expr(
            "concat(substr(tok, 1, length(tok) div 2),"
            " substr(tok, length(tok) div 2 + 2, length(tok)))"
        ).alias("tok"),
        F.lit(1).cast("bigint").alias("df"),
    )
    toks = (
        real_toks.unionAll(noisy)
        .groupBy("tok")
        .agg(F.sum("df").cast("bigint").alias("df"))
    )
    # token itself + one-char deletions: shared variant <=> edit dist <= 1.
    # Checkpointed: both self-join legs read the variant table, so the
    # deletion-variant explode over the vocabulary runs once, not twice.
    vars_ = materialize(toks.select(
        "tok",
        "df",
        F.explode(
            F.concat(
                F.array(F.col("tok")),
                F.expr(
                    "transform(sequence(1, length(tok)),"
                    " i -> concat(substr(tok, 1, i - 1),"
                    " substr(tok, i + 1, length(tok) - i)))"
                ),
            )
        ).alias("v"),
    ))
    a = vars_.select(
        F.col("v"),
        F.col("tok").alias("tok_a"),
        F.col("df").alias("df_a"),
    )
    b = vars_.select(
        F.col("v"),
        F.col("tok").alias("tok_b"),
        F.col("df").alias("df_b"),
    )
    cand = (
        a.join(b, "v")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b", "df_a", "df_b")
        .distinct()
    )
    return (
        cand.filter(F.levenshtein("tok_a", "tok_b") == 1)
        .orderBy((F.col("df_a") + F.col("df_b")).desc(), "tok_a", "tok_b")
        .limit(50)
    )
