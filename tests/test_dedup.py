"""Operator-level properties of the dedup family (beyond the oracle gate)."""

from pyspark.sql import functions as F

from flink_emqx_connector_spark.operators import dedup as D


def _docs(spark, sf_dir):
    from flink_emqx_connector_spark.session import load_table

    return load_table(spark, sf_dir, "documents")


def test_word_ngrams_short_texts(spark):
    """Texts shorter than n words yield empty shingle sets, not errors
    (Spark's sequence() counts down when start > stop — guarded)."""
    df = spark.createDataFrame(
        [(1, "single"), (2, "two words"), (3, "a b c")], ["doc_id", "text"]
    )
    out = df.select(
        "doc_id", D.word_ngrams(F.col("text"), 2).alias("sh")
    ).collect()
    by_id = {r.doc_id: r.sh for r in out}
    assert by_id[1] == []
    assert by_id[2] == ["two words"]
    assert by_id[3] == ["a b", "b c"]


def test_lsh_pairs_subset_of_exact(spark, sf_dir):
    """LSH candidates are verified exactly → precision 1.0: every LSH pair
    must appear in the exact all-pairs result with identical jaccard."""
    docs = _docs(spark, sf_dir)
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert exact[k] == v
    # recall at these params (r=2, b=16) should be high on this corpus
    assert len(lsh) >= 0.9 * len(exact), (len(lsh), len(exact))


def test_simhash_deterministic_and_locality(spark):
    """Same text → same fingerprint; near-identical texts → small Hamming
    distance; disjoint texts → large."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over a lazy dog"),
        (4, "completely different words entirely unrelated content here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = {r.doc_id: r.simhash for r in D.simhash_fingerprints(df).collect()}
    assert fp[1] == fp[2]

    def ham(a, b):
        return bin((a & (2**64 - 1)) ^ (b & (2**64 - 1))).count("1")

    assert ham(fp[1], fp[3]) < ham(fp[1], fp[4])


def test_dense_jaccard_matches_inverted_index(spark, sf_dir):
    """The broadcast-bitmap matmul strategy and the shingle inverted index
    are alternative physical plans for the same operator — results must be
    bit-identical (pairs AND rounded jaccard values)."""
    docs = _docs(spark, sf_dir)
    dense = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs_dense(docs, threshold=0.5).collect()
    )
    inverted = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    )
    assert dense == inverted
    # the auto selector must pick one of them, not change results
    auto = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs_auto(docs, threshold=0.5).collect()
    )
    assert auto == inverted


def test_null_text_tolerated_everywhere(spark):
    """NULL text (undecodable/missing documents in real corpora) flows
    through every dedup operator as an empty document, never an error."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    df = spark.createDataFrame([(1, None), (2, "a b c"), (3, "a b c")], schema)
    assert sorted(
        (r.keep_id, r.n_copies) for r in D.exact_dedup(df).collect()
    ) == [(1, 1), (2, 2)]
    for fn in (D.ngram_jaccard_pairs, D.ngram_jaccard_pairs_dense):
        assert sorted(
            (r.doc_a, r.doc_b, r.jaccard) for r in fn(df, threshold=0.5).collect()
        ) == [(2, 3, 1.0)]
    fps = {r[0]: r[1] for r in D.simhash_fingerprints(df).collect()}
    assert set(fps) == {1, 2, 3} and fps[2] == fps[3]
    lsh = D.minhash_lsh_pairs(df, threshold=0.5).collect()
    assert sorted((r.doc_a, r.doc_b) for r in lsh) == [(2, 3)]


def test_minhash_probe_ignores_null_texts(spark):
    """The dup-ratio probe counts non-NULL texts on both sides: distinct
    texts plus NULL-text rows take the distinct branch (a plain LSH plan,
    no exact-dup group union), while real copies still take the dup-heavy
    branch. Pairs are the same either way."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    texts = [f"doc {i} alpha beta gamma" for i in range(20)]
    rows = [(i, t) for i, t in enumerate(texts)]
    nulls = [(100 + i, None) for i in range(6)]
    # precondition: the HLL sketch reads this fixture as fully distinct
    sketch = spark.createDataFrame(rows, schema).agg(F.approx_count_distinct("text"))
    assert sketch.collect()[0][0] == len(texts)

    def lsh(rows):
        out = D.minhash_lsh_pairs(spark.createDataFrame(rows, schema), threshold=0.5)
        plan = out._jdf.queryExecution().analyzed().toString()
        return plan, sorted((r.doc_a, r.doc_b, r.jaccard) for r in out.collect())

    plan, pairs = lsh(rows + nulls)
    assert "Union" not in plan, plan
    assert pairs == lsh(rows)[1]
    dup_plan, _ = lsh(rows + [(200 + i, t) for i, t in enumerate(texts)])
    assert "Union" in dup_plan, dup_plan


def test_dense_jaccard_degenerate_texts(spark):
    """Empty strings and sub-n-gram texts produce empty shingle sets and
    must never pair; identical short texts still pair at jaccard 1.0 —
    on both physical strategies."""
    rows = [
        (1, ""),
        (2, "one"),
        (3, "two words here"),
        (4, "two words here"),
        (5, "totally different content words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    dense = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs_dense(df, threshold=0.5).collect()
    )
    inverted = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(df, threshold=0.5).collect()
    )
    assert dense == inverted == [(3, 4, 1.0)]


def test_connected_components_shapes(spark):
    """Chains, triangles and disjoint pairs all collapse to min-id
    components; propagation must cross multiple hops."""
    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    comp = {r.doc: r.comp for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_jaccard_auto_selector_falls_back_to_inverted(spark, sf_dir, monkeypatch):
    """With the dense budget forced to zero the auto strategy must take the
    inverted-index path and still return identical results."""
    monkeypatch.setattr(D, "_DENSE_MAX_CELLS", 0)
    docs = _docs(spark, sf_dir)
    via_auto = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs_auto(docs, threshold=0.5).collect()
    )
    direct = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    )
    assert via_auto == direct


def test_simhash_batch_matches_reference():
    """The vectorized batch kernel must agree with the one-doc reference
    implementation, including edge cases (empty text, single token)."""
    import pandas as pd

    texts = [
        "hello world hello",
        "",
        "a",
        "x y z w x y",
        "the quick brown fox jumps over the lazy dog",
    ]
    got = list(D._simhash_batch(pd.Series(texts)))
    want = [D._simhash_one(t) for t in texts]
    assert got == want


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa")], ["doc_id", "text"]
    )
    out = {r.keep_id: r.n_copies for r in D.exact_dedup(df).collect()}
    assert out == {1: 3, 2: 1}


def test_connected_components_chain_logarithmic_rounds(spark):
    """Pointer jumping must converge a high-diameter graph in O(log d)
    rounds, not O(d): a 100-node chain needs ≤8 rounds (plain min-label
    propagation would need 99). small_graph_edges=0 forces the
    distributed path past the driver union-find fast path."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], ["doc_a", "doc_b"]
    )
    stats: dict = {}
    comp = {
        r.doc: r.comp
        for r in D.connected_components(
            chain, max_iter=12, stats=stats, small_graph_edges=0
        ).collect()
    }
    assert comp == {i: 0 for i in range(101)}
    assert stats["path"] == "distributed"
    assert stats["rounds"] <= 8, stats


def test_connected_components_paths_agree(spark):
    """The driver union-find fast path and the distributed pointer-jumping
    loop must produce identical labels on the same graphs (chain + triangle
    + pair + self-loop + random blocks)."""
    import random

    rng = random.Random(7)
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21), (30, 30)]
    for base in range(100, 400, 50):  # random 10-node blocks, some bridged
        nodes = [base + i for i in range(10)]
        edges += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(12)]
    edges.append((105, 205))  # bridge two blocks
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    s_fast: dict = {}
    s_dist: dict = {}
    fast = {
        (r.doc, r.comp)
        for r in D.connected_components(pairs, stats=s_fast).collect()
    }
    dist = {
        (r.doc, r.comp)
        for r in D.connected_components(
            pairs, stats=s_dist, small_graph_edges=0
        ).collect()
    }
    assert s_fast["path"] == "driver-union-find"
    assert s_dist["path"] == "distributed"
    assert fast == dist


def test_jaccard_auto_selector_three_regimes(spark, sf_dir, monkeypatch):
    """The selector must pick dense / inverted / minhash_lsh as the budgets
    shrink, and every regime's output stays within the exact result set."""
    docs = _docs(spark, sf_dir)
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }

    stats: dict = {}
    D.ngram_jaccard_pairs_auto(docs, threshold=0.5, stats=stats)
    assert stats["strategy"] == "dense"

    monkeypatch.setattr(D, "_DENSE_MAX_CELLS", 0)
    stats = {}
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs_auto(docs, threshold=0.5, stats=stats).collect()
    }
    assert stats["strategy"] == "inverted"
    assert stats["join_rows"] > 0
    assert got == exact

    monkeypatch.setattr(D, "_INVERTED_MAX_ROWS", 0)
    stats = {}
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs_auto(docs, threshold=0.5, stats=stats).collect()
    }
    assert stats["strategy"] == "minhash_lsh"
    # LSH: exact-verified candidates → subset with identical jaccard
    assert set(got) <= set(exact)
    assert all(exact[k] == v for k, v in got.items())
    assert len(got) >= 0.9 * len(exact)


def test_minhash_lsh_leaves_no_cache_behind(spark, sf_dir):
    """minhash_lsh_pairs must not register session-lifetime caches: the
    old implementation persisted the signature table per invocation and
    never unpersisted (CacheManager grows forever under repeated calls,
    e.g. the bench's double pass)."""
    spark.catalog.clearCache()
    docs = _docs(spark, sf_dir)
    D.minhash_lsh_pairs(docs, threshold=0.5).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # and the verify stage runs on the checkpointed candidate list — the
    # signature/bucketing pipeline must NOT reappear in the returned plan
    plan = (
        D.minhash_lsh_pairs(docs, threshold=0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the permutation modulus literal appears ONLY in the signature
    # min-hash aggregates (r14: signatures are an array column now, so the
    # old "mh31" column-name probe would be vacuously absent)
    assert plan.count(str((1 << 61) - 1)) == 0, plan


def test_lsh_exact_dup_canonicalization(spark, sf_dir):
    """On a corpus with exact copies the LSH pipeline canonicalizes (LSH
    over distinct texts, pairs expanded over copy groups): results must
    still be a subset of exact all-pairs with identical jaccard, and every
    exact-copy pair must be present with jaccard 1.0."""
    docs = _docs(spark, sf_dir).select("doc_id", "text").limit(200)
    shift = 1_000_000
    dup = docs.union(
        docs.select((F.col("doc_id") + shift).alias("doc_id"), "text")
    )
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(dup, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.minhash_lsh_pairs(dup, threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(exact[k] == v for k, v in lsh.items())
    # every (id, id+shift) copy pair found with jaccard exactly 1.0
    for r in docs.select("doc_id", "text").collect():
        if len((r.text or "").split(" ")) >= 2:
            assert lsh.get((r.doc_id, r.doc_id + shift)) == 1.0, r.doc_id
    assert len(lsh) >= 0.9 * len(exact), (len(lsh), len(exact))


def test_hot_template_corpus_exact_behavior(spark):
    """Adversarial skew (VERDICT r5 item 7): one boilerplate text = 50% of
    the corpus. Pins the designed behavior of three operators on a
    hot-template corpus:

    - minhash_lsh_pairs: exact-dup canonicalization absorbs the copies —
      the quadratic candidate stages see ONE representative; the output is
      exactly the C(m,2) within-group pairs at jaccard 1.0 (nothing
      scattered, no cross-group noise on a disjoint-vocab corpus);
    - line_dedup_docs: the hot segment join key (df = m) is handled by
      AQE's skew split; per-doc stats come out exactly right;
    - exact_dedup: the keep-list is 1 row for the hot group.
    """
    from flink_emqx_connector_spark.plans import QUERIES

    m, d = 300, 300  # template copies, distinct docs (disjoint vocab)
    template = " ".join(f"tpl{j}" for j in range(40))
    rows = [(i, template) for i in range(m)]
    rows += [
        (m + i, " ".join(f"d{i}w{j}" for j in range(40))) for i in range(d)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    agg = pairs.agg(
        F.count("*").alias("n"), F.min("jaccard").alias("lo"),
        F.max("jaccard").alias("hi"),
        F.sum(F.when((F.col("doc_a") < m) & (F.col("doc_b") < m), 0).otherwise(1))
        .alias("cross"),
    ).head()
    assert agg["n"] == m * (m - 1) // 2, agg  # exactly the within pairs
    assert agg["lo"] == 1.0 == agg["hi"]
    assert agg["cross"] == 0

    keep = D.exact_dedup(docs).filter(F.col("n_copies") > 1).collect()
    assert len(keep) == 1 and keep[0]["n_copies"] == m

    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix="hotdocs-")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("src0")
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    ld = {r.doc_id: r for r in QUERIES["line_dedup_docs"].spark(spark, tmp).collect()}
    # template docs: 4 segments, each in m>=3 docs -> all boilerplate
    assert ld[0]["n_segments"] == 4 and ld[0]["n_boiler"] == 4
    assert ld[0]["kept_words"] == 0
    # distinct docs: private vocab -> nothing boilerplate, all words kept
    assert ld[m]["n_boiler"] == 0 and ld[m]["kept_words"] == 40


def test_minhash_within_group_expansion_is_skew_splittable(spark):
    """Pin the PARALLELISM of the within-group C(m,2) expansion (VERDICT r6
    item 7): the jaccard-1.0 pairs must be produced by a skew-splittable
    shuffle join over the pre-group (doc, fp) rows, never by exploding the
    hot group's collected members array.

    Why this shape is load-bearing: AQE's skew split can only cut a reduce
    partition at MAP-OUTPUT boundaries. The members-array explode emits
    the whole hot group from ONE mapper — a single unsplittable block that
    funnels every within pair through one task (the round-6 probe killed
    an executor this way). Joining the pre-group rows gives the hot fp as
    many split points as corpus-scan partitions.

    The test forces the scale regime onto a small corpus (shuffle join +
    tiny skew thresholds) and asserts the hot group's pairs came out of
    MULTIPLE tasks; a regression to any single-mapper expansion collapses
    the output to one spark_partition_id and fails.
    """
    skew_conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in skew_conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        m, d = 1500, 40
        template = " ".join(f"tpl{j}" for j in range(40))
        rows = [(i, template) for i in range(m)]
        rows += [
            (m + i, " ".join(f"d{i}w{j}" for j in range(40))) for i in range(d)
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        q = (
            D.minhash_lsh_pairs(docs, threshold=0.5)
            .filter(F.col("jaccard") == 1.0)
            .select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .count()
        )
        per_task = [r["count"] for r in q.collect()]
        total = sum(per_task)
        assert total == m * (m - 1) // 2, per_task  # answer unchanged
        # the parallelism property: several tasks, none of them dominant
        assert len(per_task) >= 2, "within-group expansion ran in ONE task"
        assert max(per_task) < total, per_task
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE skew split did not engage"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_containment_dominates_jaccard_and_finds_subsets(spark):
    """Containment >= Jaccard on every pair (min <= union), and a document
    fully embedded in a larger one scores containment 1.0 while its
    Jaccard stays below a near-dup threshold — the relation X85 exists
    to catch."""
    from flink_emqx_connector_spark.plans import QUERIES
    import os, tempfile
    import pyarrow as pa
    import pyarrow.parquet as pq

    small = " ".join(f"s{i}" for i in range(10))
    big = small + " " + " ".join(f"b{i}" for i in range(80))
    other = " ".join(f"o{i}" for i in range(40))
    tmp = tempfile.mkdtemp(prefix="contain-")
    pq.write_table(
        pa.table({
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": [small, big, other],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": pa.array([len(small), len(big), len(other)], pa.int64()),
        }),
        os.path.join(tmp, "documents.parquet"),
    )
    rows = QUERIES["dedup_containment_pairs"].spark(spark, tmp).collect()
    pairs = {(r.doc_a, r.doc_b): r.containment for r in rows}
    assert pairs == {(0, 1): 1.0}, pairs  # subset found; disjoint pair not
    jac = QUERIES["dedup_ngram_jaccard"].spark(spark, tmp).collect()
    assert not jac, jac  # Jaccard at 0.5 misses the embedded copy


def test_containment_auto_selector_routes_and_strategies_agree(
    spark, sf_dir, monkeypatch
):
    """X85 scale-killer regression pin (VERDICT r7 item 1): containment
    pair generation must ride the SAME cost-based selector as Jaccard —
    dense and inverted produce bit-identical results, and above the
    inverted budget the route is the df-CAPPED index (bounded Σdf²), never
    the uncapped self-join and never MinHash (whose bands estimate
    Jaccard, not containment)."""
    docs = _docs(spark, sf_dir)

    stats: dict = {}
    dense = sorted(
        (r.doc_a, r.doc_b, r.containment)
        for r in D.ngram_jaccard_pairs_auto(
            docs, threshold=0.8, measure="containment", stats=stats
        ).collect()
    )
    assert stats["strategy"] == "dense"
    assert dense, "fixture corpus produced no containment pairs"

    monkeypatch.setattr(D, "_DENSE_MAX_CELLS", 0)
    stats = {}
    inverted = sorted(
        (r.doc_a, r.doc_b, r.containment)
        for r in D.ngram_jaccard_pairs_auto(
            docs, threshold=0.8, measure="containment", stats=stats
        ).collect()
    )
    assert stats["strategy"] == "inverted"
    assert inverted == dense

    monkeypatch.setattr(D, "_INVERTED_MAX_ROWS", 0)
    stats = {}
    capped = D.ngram_jaccard_pairs_auto(
        docs, threshold=0.8, measure="containment", stats=stats
    )
    assert stats["strategy"] == "dfcap"
    got = sorted(
        (r.doc_a, r.doc_b, r.containment) for r in capped.collect()
    )
    # df-cap drops hot shingles (recall tradeoff) but keeps the measure
    # exact over the capped space: every value in [threshold, 1].
    assert all(0.8 <= c <= 1.0 for _, _, c in got)


def test_simhash_hamming_pairs_cover_exact_dups(spark, sf_dir):
    """Exact duplicates share a fingerprint → they MUST appear as
    hamming-0 pairs (banding recall is exact at distance 0), and every
    reported pair is within the threshold."""
    from flink_emqx_connector_spark.plans import QUERIES

    docs = _docs(spark, sf_dir)
    rows = QUERIES["dedup_simhash_hamming"].spark(spark, sf_dir).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    assert all(h <= 3 for h in got.values())
    exact = (
        D.exact_dedup(docs).filter(F.col("n_copies") > 1).collect()
    )
    # for each exact-dup group, keeper pairs with every member at hamming 0
    from collections import defaultdict
    by_fp = defaultdict(list)
    for r in docs.select("doc_id", F.md5("text").alias("fp")).collect():
        by_fp[r.fp].append(r.doc_id)
    for members in by_fp.values():
        if len(members) > 1:
            members = sorted(members)
            for m in members[1:]:
                assert got.get((members[0], m)) == 0, (members[0], m)


def test_simhash_hamming_hot_template_canonicalization(spark):
    """ADVICE r7: m copies of one template share all 4 (band, bval) keys —
    banding raw docs pushes 4·C(m,2) rows through one reduce key. The
    canonicalized pipeline must (a) produce exactly the C(m,2) hamming-0
    pairs plus near-template cross pairs, (b) generate the hot group's
    pairs from MULTIPLE tasks (pre-group self-join, skew-splittable at
    map-output boundaries — the minhash within-group property)."""
    skew_conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in skew_conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        m, d = 1200, 40
        template = " ".join(f"tpl{j}" for j in range(40))
        rows = [(i, template) for i in range(m)]
        # near-copy of the template (one token flipped → small hamming;
        # may or may not land within 3 — covered by the >= comparison)
        rows.append((m, template.replace("tpl0", "tplX")))
        rows += [
            (m + 1 + i, " ".join(f"d{i}w{j}" for j in range(40)))
            for i in range(d)
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        pairs = D.simhash_hamming_pairs(docs, max_hamming=3)
        q = (
            pairs.filter(F.col("hamming") == 0)
            .select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .count()
        )
        per_task = [r["count"] for r in q.collect()]
        assert sum(per_task) == m * (m - 1) // 2, per_task
        assert len(per_task) >= 2, "hamming-0 expansion ran in ONE task"
        assert max(per_task) < sum(per_task), per_task
        # every reported pair respects the bound, and cross pairs (if the
        # near-copy landed within 3) expand over ALL template members
        all_rows = pairs.collect()
        assert all(r.hamming <= 3 for r in all_rows)
        cross = [r for r in all_rows if r.hamming > 0]
        if cross:
            assert len(cross) == m  # near-copy pairs with every template copy
            assert {r.doc_b for r in cross} == {m}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_normalized_dedup_merges_case_and_whitespace_variants(spark, tmp_path):
    """X91: byte-distinct but normalization-equal texts (case drift,
    tab/newline/space runs, leading/trailing space) must share one
    normalized group with n_raw_variants counting the byte-distinct
    forms; byte-exact dedup must NOT merge them."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq
    from flink_emqx_connector_spark.plans import QUERIES

    rows = [
        (0, "Hello World foo"),
        (1, "hello   world foo"),
        (2, "hello world\tfoo"),
        (3, " hello world foo "),
        (4, "hello world foo"),
        (5, "different text entirely"),
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["s"] * len(rows),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }),
        os.path.join(str(tmp_path), "documents.parquet"),
    )
    sf = str(tmp_path)
    got = {
        r.keep_id: (r.n_copies, r.n_raw_variants)
        for r in QUERIES["dedup_exact_normalized"].spark(spark, sf).collect()
    }
    # docs 0-4 collapse into ONE normalized group of 5 copies across
    # 5 byte-distinct raw forms; doc 5 is a singleton
    assert got == {0: (5, 5), 5: (1, 1)}, got
    exact = {r.keep_id: r.n_copies for r in D.exact_dedup(
        spark.read.parquet(os.path.join(sf, "documents.parquet"))
    ).collect()}
    assert exact[0] == 1, exact  # byte-exact keeps them apart


def test_simhash_queries_follow_the_corpus(spark, sf_dir, tmp_path):
    """dedup_simhash and dedup_simhash_hamming fingerprint the corpus they
    are given on every build (no cross-query cache): a different corpus
    gives its own results, and a re-run on the first corpus gives the
    same output as before."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_emqx_connector_spark.plans import QUERIES

    r1 = QUERIES["dedup_simhash"].spark(spark, sf_dir).collect()
    h1 = QUERIES["dedup_simhash_hamming"].spark(spark, sf_dir).collect()

    rows = [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta")]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
            "lang": ["en"] * 2,
            "source": ["s"] * 2,
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }),
        os.path.join(str(tmp_path), "documents.parquet"),
    )
    got = QUERIES["dedup_simhash"].spark(spark, str(tmp_path)).collect()
    assert [(r.n_docs, r.keeper) for r in got] == [(2, 0)]
    pairs = QUERIES["dedup_simhash_hamming"].spark(spark, str(tmp_path)).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(0, 1)]

    r1b = QUERIES["dedup_simhash"].spark(spark, sf_dir).collect()
    h1b = QUERIES["dedup_simhash_hamming"].spark(spark, sf_dir).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r1b))
    assert sorted(map(tuple, h1)) == sorted(map(tuple, h1b))
