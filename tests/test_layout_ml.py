"""Semantic invariants of the round-8 layout/governance (X96-X99) and
ML-linalg (X100-X104) waves — behaviors the oracle gate's aggregate hash
can't localize: split disjointness bounds, compaction greedy-packing
replay, zone-map conservation, exact local replicas of the Gram /
recall / stationary computations, and brute-force dominance for the
Pareto frontier."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_emqx_connector_spark.plans.registry import QUERIES


def _run(name, spark, sf_dir):
    return QUERIES[name].spark(spark, sf_dir)


def _load(spark, sf_dir, name):
    from flink_emqx_connector_spark.session import load_table

    return load_table(spark, sf_dir, name)


# ---------- X96 hash split ----------


def test_hash_split_partitions_the_corpus(spark, sf_dir):
    out = _run("hash_split_train_val_test", spark, sf_dir).collect()
    total_docs = _load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in out) == total_docs  # exhaustive + disjoint
    by_split = {}
    for r in out:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    assert set(by_split) == {"train", "val", "test"}
    # 90/5/5 split within loose binomial bounds
    assert 0.80 <= by_split["train"] / total_docs <= 0.97
    assert abs(sum(r.doc_share for r in out) - 1.0) < 1e-4


def test_hash_split_assignment_is_row_local_and_stable(spark, sf_dir):
    """The split of a given doc_id must not depend on partitioning: the
    census from a repartitioned input is identical."""
    from flink_emqx_connector_spark.plans import layout_extra as L

    docs = _load(spark, sf_dir, "documents")
    b = L._md5_bucket(F.col("doc_id"), "split:", 100)
    a1 = {
        (r.doc_id, r.b)
        for r in docs.select("doc_id", b.alias("b")).collect()
    }
    a2 = {
        (r.doc_id, r.b)
        for r in docs.repartition(7).select("doc_id", b.alias("b")).collect()
    }
    assert a1 == a2


# ---------- X97 FK audit ----------


def test_fk_audit_clean_on_generated_data(spark, sf_dir):
    out = {r.relation: r for r in _run("fk_integrity_audit", spark, sf_dir).collect()}
    assert len(out) == 7
    li = _load(spark, sf_dir, "lineitem").count()
    assert out["lineitem->orders"].n_child == li
    for r in out.values():
        assert r.n_orphan == 0 and r.n_null_fk == 0  # generator integrity
        assert r.n_distinct_fk <= r.n_parent
        assert 0.0 <= r.fk_coverage <= 1.0


def test_fk_audit_detects_planted_orphans(spark, sf_dir, tmp_path):
    """Plant 3 orphan FKs + 2 NULL FKs into a copy of nation and re-audit."""
    import flink_emqx_connector_spark.plans.layout_extra as L

    nation = _load(spark, sf_dir, "nation")
    bad = spark.createDataFrame(
        [(901, "X1", 999), (902, "X2", 998), (903, "X3", 997),
         (904, "X4", None), (905, "X5", None)],
        "n_nationkey INT, n_name STRING, n_regionkey INT",
    )
    nation.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    ).unionByName(bad).write.mode("overwrite").parquet(
        str(tmp_path / "nation.parquet")
    )
    for t in ("region",):
        _load(spark, sf_dir, t).write.mode("overwrite").parquet(
            str(tmp_path / f"{t}.parquet")
        )
    # audit just the nation->region leg against the tampered copy
    rels = [r for r in L._FK_RELATIONS if r[0] == "nation->region"]
    orig = L._FK_RELATIONS
    try:
        L._FK_RELATIONS = tuple(rels)
        out = QUERIES["fk_integrity_audit"].spark(spark, str(tmp_path)).collect()
    finally:
        L._FK_RELATIONS = orig
    r = out[0]
    assert r.n_orphan == 3 and r.n_null_fk == 2


# ---------- X98 compaction bins ----------


def test_compaction_bins_replay_greedy_packing(spark, sf_dir):
    """Per source: bin totals conserve chars, and the bin ids replay the
    greedy cumulative rule exactly (pandas replica)."""
    import flink_emqx_connector_spark.plans.layout_extra as L

    out = _run("compaction_bins_by_source", spark, sf_dir).collect()
    docs = (
        _load(spark, sf_dir, "documents")
        .select("source", "doc_id", "n_chars")
        .toPandas()
        .sort_values(["source", "doc_id"])
    )
    total = docs.groupby("source")["n_chars"].sum().to_dict()
    got_total = {}
    for r in out:
        got_total[r.source] = got_total.get(r.source, 0) + r.bin_chars
    assert got_total == total
    # replay one source
    src = sorted(total)[0]
    sub = docs[docs.source == src]
    cum = sub.n_chars.cumsum()
    bins = ((cum - sub.n_chars) // L._BIN_TARGET).astype(int)
    expect = bins.value_counts().to_dict()
    got = {r.bin_id: r.n_docs for r in out if r.source == src}
    assert got == expect


# ---------- X99 zorder layout ----------


def test_zorder_scans_fewer_rows_than_natural(spark, sf_dir):
    out = {r.layout: r for r in _run("zorder_layout_stats", spark, sf_dir).collect()}
    assert set(out) == {"natural", "zorder"}
    nat, zo = out["natural"], out["zorder"]
    assert nat.n_rows == zo.n_rows  # row conservation across layouts
    assert zo.rows_scanned < nat.rows_scanned  # the point of Z-order
    for r in out.values():
        assert r.files_scanned <= r.n_files
        assert 0.0 <= r.file_skip_ratio <= 1.0


def test_morton_interleave_bit_exact():
    from flink_emqx_connector_spark.plans.layout_extra import _morton_sql

    import duckdb

    def py_morton(x, y, bits=16):
        z = 0
        for k in range(bits):
            z |= ((x >> k) & 1) << (2 * k + 1)
            z |= ((y >> k) & 1) << (2 * k)
        return z

    rows = duckdb.sql(
        f"SELECT x, y, {_morton_sql('x', 'y')} AS z FROM "
        "(SELECT range % 997 AS x, (range * 7) % 1009 AS y FROM range(500))"
    ).fetchall()
    for x, y, z in rows:
        assert z == py_morton(x, y)


# ---------- X100 gram matrix ----------


def test_gram_matrix_matches_local_numpy(spark, sf_dir):
    out = _run("embedding_gram_matrix", spark, sf_dir).collect()
    emb = _load(spark, sf_dir, "embeddings").select("embedding").toPandas()
    V = np.array(emb.embedding.to_list(), dtype=np.float64)
    Q = np.floor(V * 1000 + 0.5).astype(np.int64)
    G = Q.T @ Q
    assert len(out) == 64 * 65 // 2
    for r in out:
        assert r.g_milli == G[r.i - 1, r.j - 1]  # exact, not approximate


# ---------- X101 truncated-dim recall ----------


def test_truncated_recall_matches_local_bruteforce(spark, sf_dir):
    out = {r.query_id: r for r in _run("ann_truncated_dim_recall", spark, sf_dir).collect()}
    emb = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding").toPandas()
    ids = emb.vec_id.to_numpy()
    Q = np.floor(
        np.array(emb.embedding.to_list(), dtype=np.float64) * 1000 + 0.5
    ).astype(np.int64)
    qmask = (ids % 100 == 0) & (ids < 6400)
    assert set(out) == set(ids[qmask].tolist())
    for qi in np.flatnonzero(qmask):
        qid = ids[qi]
        mask = ids != qid
        full = Q[mask] @ Q[qi]
        trunc = Q[mask, :16] @ Q[qi, :16]
        cand = ids[mask]
        topf = set(cand[np.lexsort((cand, -full))[:10]].tolist())
        topt = set(cand[np.lexsort((cand, -trunc))[:10]].tolist())
        assert out[qid].n_overlap == len(topf & topt)
        assert out[qid].recall_at_k == len(topf & topt) / 10.0


# ---------- X102 markov stationary ----------


def test_markov_stationary_matches_exact_integer_replay(spark, sf_dir):
    out = {r.event_type: r for r in _run("markov_stationary_events", spark, sf_dir).collect()}
    ev = (
        _load(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    states = sorted(ev.event_type.unique())
    trans = {}
    for _, g in ev.groupby("user_id"):
        seq = g.event_type.to_list()
        for a, b in zip(seq, seq[1:]):
            trans[(a, b)] = trans.get((a, b), 0) + 1
    tot = {}
    for (s, _), c in trans.items():
        tot[s] = tot.get(s, 0) + c
    pm = {(s, d): c * 1_000_000 // tot[s] for (s, d), c in trans.items()}
    v = {s: 1_000_000 // len(states) for s in states}
    for _ in range(3):
        nv = {}
        for (s, d), p in pm.items():
            nv[d] = nv.get(d, 0) + v.get(s, 0) * p
        v = {d: x // 1_000_000 for d, x in nv.items()}
    assert set(out) == set(states)
    for s in states:
        assert out[s].stationary_micro == v.get(s, 0)
        assert 0 <= out[s].stationary_micro <= 1_000_000
        assert out[s].stationary_prob == v.get(s, 0) / 1_000_000


# ---------- X103 pareto frontier ----------


def test_pareto_frontier_is_exactly_the_undominated_set(spark, sf_dir):
    out = {(r.price, r.size) for r in _run("pareto_frontier_parts", spark, sf_dir).collect()}
    pts = (
        _load(spark, sf_dir, "part")
        .groupBy(F.col("p_retailprice").alias("price"), F.col("p_size").alias("size"))
        .count()
        .collect()
    )
    points = [(r.price, r.size) for r in pts]

    def dominated(a):
        return any(
            b[0] <= a[0] and b[1] >= a[1] and (b[0] < a[0] or b[1] > a[1])
            for b in points
        )

    brute = {p for p in points if not dominated(p)}
    assert out == brute


def test_pareto_oracle_prefix_max_equals_not_exists_dominance(sf_dir):
    """The registered ORACLE uses the prefix-max skyline algebra (the direct
    NOT-EXISTS dominance form is quadratic in distinct points and sat
    unbounded at sf10). This pins, inside DuckDB itself, that both SQL forms
    answer identically — so the scalable oracle still means 'undominated'."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW part AS SELECT * FROM '{sf_dir}/part.parquet'"
    )
    pts = """
    WITH pts AS (
      SELECT p_retailprice AS price, p_size AS size, count(*) AS n_parts
      FROM part GROUP BY 1, 2
    )
    """
    not_exists = con.execute(
        pts
        + """
        SELECT a.price, a.size, CAST(a.n_parts AS BIGINT) AS n_parts
        FROM pts a
        WHERE NOT EXISTS (
          SELECT 1 FROM pts b
          WHERE b.price <= a.price AND b.size >= a.size
            AND (b.price < a.price OR b.size > a.size)
        )
        ORDER BY 1, 2
        """
    ).fetchall()
    window_form = con.execute(
        QUERIES["pareto_frontier_parts"].oracle + " ORDER BY 1, 2"
    ).fetchall()
    assert window_form == not_exists


# ---------- X104 event trigrams ----------


def test_event_trigrams_ranked_and_bounded(spark, sf_dir):
    out = sorted(
        _run("event_trigrams_top", spark, sf_dir).collect(), key=lambda r: r.rk
    )
    assert [r.rk for r in out] == list(range(1, len(out) + 1))
    assert len(out) <= 20
    cnts = [r.cnt for r in out]
    assert cnts == sorted(cnts, reverse=True)
    assert all(len(r.trigram.split(">")) == 3 for r in out)
    assert sum(r.share for r in out) <= 1.0 + 1e-9


# ---------- X106 dedup method agreement ----------


def test_method_agreement_counts_are_consistent(spark, sf_dir):
    rows = _run("dedup_method_agreement", spark, sf_dir).collect()
    assert len(rows) == 6  # C(4,2) method pairs
    # per-method totals must be consistent across every row they appear in
    totals = {}
    for r in rows:
        for m, n in ((r.method_a, r.n_a), (r.method_b, r.n_b)):
            assert totals.setdefault(m, n) == n
        assert 0 <= r.n_common <= min(r.n_a, r.n_b)
        if r.n_a + r.n_b - r.n_common > 0:
            assert 0.0 <= r.pairset_jaccard <= 1.0
    # members individually agree with their registered outputs
    from pyspark.sql import functions as F

    jac = QUERIES["dedup_ngram_jaccard"].spark(spark, sf_dir).count()
    assert totals["jaccard"] == jac


# ---------- X107 embedding drift ----------


def test_embedding_drift_matches_local_replay(spark, sf_dir):
    """Exact integer replay of the per-dim histogram drift score."""
    out = {r.dim: r for r in _run("embedding_drift_scores", spark, sf_dir).collect()}
    emb = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding").toPandas()
    V = np.array(emb.embedding.to_list(), dtype=np.float64)
    g = (emb.vec_id.to_numpy() % 2).astype(int)
    B = np.minimum(np.floor((np.clip(V, -1, 1) + 1) * 4).astype(int), 7)
    assert set(out) == set(range(1, 65))
    for d in range(64):
        c0 = np.bincount(B[g == 0, d], minlength=8)
        c1 = np.bincount(B[g == 1, d], minlength=8)
        p = c0 * 1_000_000 // c0.sum()
        q = c1 * 1_000_000 // c1.sum()
        drift = int((((p - q) ** 2) // (p + q + 1)).sum())
        assert out[d + 1].drift_micro == drift
        shift = np.abs(p - q)
        # tie-break domain = OBSERVED buckets only (matches the oracle's
        # cnt CTE); for shift.max() > 0 this equals the dense argmax,
        # but an all-zero-shift dimension must resolve to the first
        # populated bucket, never an empty bucket 0
        cand = np.flatnonzero((shift == shift.max()) & ((c0 > 0) | (c1 > 0)))
        assert out[d + 1].top_shift_bucket == int(cand[0])


def test_embedding_drift_constant_dimension_tie_break(spark, tmp_path):
    """Degenerate fixture (ADVICE r8): a CONSTANT dimension puts both
    cohorts in one bucket, so every |p-q| is 0 and the per-dim max shift
    ties across the whole domain. The tie must resolve to the populated
    bucket on BOTH engines — before the observed-cells filter, Spark's
    dense 64x8 tensor resolved to empty bucket 0 while the oracle (which
    only materializes observed buckets) picked the populated one."""
    import pandas as pd

    # dim 1 constant at 0.9 → bucket 7 for everyone; remaining dims 0.0
    # → bucket 4 for everyone (also constant — all dims tie at shift 0)
    vecs = []
    for i in range(8):
        v = [0.0] * 64
        v[0] = 0.9
        vecs.append((i, v, 0))
    pdf = pd.DataFrame(vecs, columns=["vec_id", "embedding", "label"])
    spark.createDataFrame(
        pdf, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = {
        r.dim: r.top_shift_bucket
        for r in _run("embedding_drift_scores", spark, str(tmp_path)).collect()
    }
    assert got[1] == 7  # the populated bucket, not empty bucket 0
    assert all(got[d] == 4 for d in range(2, 65))

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    duck = {
        int(d): int(b)
        for d, _, b in con.execute(
            QUERIES["embedding_drift_scores"].oracle
        ).fetchall()
    }
    assert duck == got


# ---------- X108 LSH recall eval ----------


def test_lsh_recall_eval_consistent_with_members(spark, sf_dir):
    r = _run("dedup_lsh_recall_eval", spark, sf_dir).collect()[0]
    n_exact = QUERIES["dedup_ngram_jaccard"].spark(spark, sf_dir).count()
    n_lsh = QUERIES["dedup_minhash_lsh"].spark(spark, sf_dir).count()
    assert r.n_exact == n_exact and r.n_lsh == n_lsh
    assert 0 <= r.n_common <= min(r.n_exact, r.n_lsh)
    # the verify stage is exact at the same threshold on the same
    # shingles: every LSH pair is a true pair
    assert r.precision_micro == 1_000_000
    if r.n_exact:
        assert r.recall_micro == r.n_common * 1_000_000 // r.n_exact


# ---------- X109 dynamic partition overwrite ----------


@pytest.mark.parametrize("splits", ["0", "-3"])
def test_dynamic_overwrite_rejects_splits_below_one(monkeypatch, splits):
    """A write-split count below 1 is refused before any table is read:
    the session and the data dir passed here would fail on first use."""
    monkeypatch.setenv("SPARK_GRAFT_DAY_WRITE_SPLITS", splits)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DAY_WRITE_SPLITS"):
        _run("dynamic_partition_overwrite", None, "/nonexistent-sf-dir")


def test_dynamic_overwrite_touches_only_the_backfilled_day(spark, sf_dir):
    out = {r.day: r.n_rows for r in _run("dynamic_partition_overwrite", spark, sf_dir).collect()}
    raw = (
        _load(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").cast("date").alias("day"), "value")
    )
    days = {r.day: r.n for r in raw.groupBy("day").agg(F.count("*").alias("n")).collect()}
    d0 = min(days)
    kept = raw.filter((F.col("day") == d0) & (F.col("value") >= 0.5)).count()
    assert out[d0] == kept  # the backfilled day holds exactly the filter
    assert out[d0] <= days[d0]
    for d, n in days.items():
        if d != d0:
            assert out[d] == n  # every other partition untouched


# ---------- X110 schema evolution ----------


def test_schema_evolution_preserves_rows_and_nullability(spark, sf_dir):
    rows = _run("schema_evolution_scan", spark, sf_dir).collect()
    total = _load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == total  # nothing lost at the boundary
    for r in rows:
        assert 0 < r.n_with_lang < r.n_docs  # both file generations present


# ---------- X111-X113 deterministic sketches ----------


def test_cms_never_undercounts_and_matches_replay(spark, sf_dir):
    import hashlib

    rows = _run("heavy_hitters_cms", spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    docs = _load(spark, sf_dir, "documents").select("text").toPandas()
    from collections import Counter

    cnt = Counter()
    for t in docs.text.dropna():
        cnt.update(t.split(" "))
    cells = [Counter() for _ in range(4)]
    for tok, c in cnt.items():
        for i in range(4):
            h = int(hashlib.md5(f"cms{i}:{tok}".encode()).hexdigest()[:8], 16)
            cells[i][h % 1024] += c
    for r in rows:
        assert r.overestimate >= 0  # the CMS guarantee
        assert r.exact_cnt == cnt[r.tok]
        est = min(
            cells[i][
                int(hashlib.md5(f"cms{i}:{r.tok}".encode()).hexdigest()[:8], 16)
                % 1024
            ]
            for i in range(4)
        )
        assert r.cms_cnt == est  # sketch replayed exactly


def test_bloom_has_zero_false_negatives_and_sane_fpr(spark, sf_dir):
    import math

    r = _run("bloom_membership_eval", spark, sf_dir).collect()[0]
    assert r.n_false_neg == 0  # the Bloom guarantee
    assert r.n_positives == r.n_true_members + r.n_false_pos
    n, m, k = r.n_true_members, 1 << 16, 4
    theory = (1 - math.exp(-k * n / m)) ** k
    # generous band: md5 is uniform enough that measured ~ theory
    assert r.fpr_micro / 1e6 <= max(3 * theory, 0.01)


def test_hll_estimate_within_standard_error(spark, sf_dir):
    r = _run("hll_manual_registers", spark, sf_dir).collect()[0]
    assert r.m_used + r.n_zero_registers == 256
    # raw HLL std error ~1.04/sqrt(m) = 6.5%; allow 4 sigma, plus slack
    # in the low-range zone (zero registers present, correction not applied)
    if r.n_zero_registers == 0:
        assert abs(r.raw_estimate - r.exact_distinct) <= 0.3 * r.exact_distinct
    assert r.harm_scaled > 0
