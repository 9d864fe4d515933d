"""Empty-input and skew robustness.

Empty frames: every operator family must survive a filter that matches
nothing (at 100 TB, whole partitions — and whole date ranges — are
routinely empty). Skew: the salted join must actually flatten the
per-partition row distribution, not just produce correct rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import table
from a3_fp_bigdata_spark.functions import text as TX
from a3_fp_bigdata_spark.operators.joins import SALT_BUCKETS, salted_join
from tests.conftest import SF0001


def _empty_docs(spark):
    return table(spark, SF0001, "documents").filter(F.lit(False))


def test_empty_input_aggregate(spark):
    ev = table(spark, SF0001, "events").filter(F.lit(False))
    out = ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    assert out == []
    # global agg on empty input yields one row of neutral elements
    row = ev.agg(F.count("*").alias("n"), F.sum("value").alias("s")).first()
    assert row.n == 0 and row.s is None


def test_empty_input_window_and_text(spark):
    docs = _empty_docs(spark)
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("t"))
    assert toks.count() == 0


@pytest.fixture
def clean_shingle_stage():
    """Monkeypatching dedup inputs must not read or leave a session
    stage keyed to the real (session, sf) — shingles, buckets, clusters,
    fits and fingerprints alike: release every stage both ways."""
    from a3_fp_bigdata_spark import registry

    registry.release_stages()
    yield
    registry.release_stages()


def test_empty_input_dedup_pipeline(spark, monkeypatch, clean_shingle_stage):
    """The full MinHash pipeline on an empty corpus returns zero pairs
    (no division-by-zero in jaccard, no explode of empty aggs)."""
    from a3_fp_bigdata_spark.operators import dedup as D

    real_table = D.table

    def patched(spark_, sf_dir_, name):
        df = real_table(spark_, sf_dir_, name)
        return df.filter(F.lit(False)) if name == "documents" else df

    monkeypatch.setattr(D, "table", patched)
    assert D.d3_ngram_jaccard(spark, SF0001).count() == 0
    assert D.d4_minhash_lsh(spark, SF0001).count() == 0


def test_empty_join_sides(spark):
    orders = table(spark, SF0001, "orders")
    none = orders.filter(F.lit(False))
    cust = table(spark, SF0001, "customer")
    assert none.join(F.broadcast(cust), none.o_custkey == cust.c_custkey).count() == 0
    assert orders.join(
        F.broadcast(cust.filter(F.lit(False))),
        orders.o_custkey == cust.c_custkey,
        "left_outer",
    ).count() == orders.count()


def test_salted_join_flattens_hot_key(spark):
    """A corpus where ONE key holds half the rows: the salted join must
    spread that key's rows over SALT_BUCKETS shuffle keys (a key-derived
    salt would leave them in one bucket — the bug this test pins), while
    producing exactly the plain join's rows."""
    n = 20_000
    hot = spark.range(n // 2).select(
        F.lit(7).alias("k"), F.col("id").alias("payload")
    )
    rest = spark.range(n // 2).select(
        (F.col("id") % 1000 + 100).alias("k"), F.col("id").alias("payload")
    )
    big = hot.union(rest)
    dim = spark.range(1200).select(
        F.col("id").alias("dk"), F.lit("x").alias("attr")
    )
    joined = salted_join(big, dim.hint("merge"), "k", "dk")
    assert joined.count() == n  # correctness: every row matched once

    # distribution: replicate the operator's salting and check the hot
    # key occupies every bucket with no bucket holding > 2x its share
    salted = big.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(SALT_BUCKETS))
    )
    spread = salted.filter(F.col("k") == 7).groupBy("_salt").count().collect()
    assert len(spread) == SALT_BUCKETS
    assert max(r["count"] for r in spread) < (n // 2) * 2 / SALT_BUCKETS


def test_lsh_super_bucket_cap(spark, monkeypatch, clean_shingle_stage):
    """A boilerplate cluster (200 identical docs) must NOT quadratically
    explode d4's candidate join: hot buckets above MAX_BUCKET_DOCS are
    dropped, genuine near-dups elsewhere still surface."""
    from a3_fp_bigdata_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog and runs far away "
    rows = [(i, base * 3) for i in range(200)]  # boilerplate cluster
    # one genuine near-dup pair, distinct from the cluster
    t1 = "alpha beta gamma delta epsilon zeta eta theta " * 6
    t2 = t1 + "iota kappa"
    rows += [(1000, t1), (1001, t2)]
    hot = spark.createDataFrame(rows, "doc_id long, text string")

    real_table = D.table

    def patched(spark_, sf_dir_, name):
        return hot if name == "documents" else real_table(spark_, sf_dir_, name)

    monkeypatch.setattr(D, "table", patched)
    pairs = {(r.doc_a, r.doc_b) for r in D.d4_minhash_lsh(spark, "unused").collect()}
    assert (1000, 1001) in pairs  # real near-dup survives
    # no pair from the capped boilerplate cluster (d1's rung, not d4's)
    assert not any(a < 200 and b < 200 for a, b in pairs)


def test_zscore_degenerate_groups_emit_null(spark):
    """Single-row and constant-valued groups must z-score to NULL —
    matching g1's SQL oracle ((x-avg)/stddev_samp: NULL divisor for a
    single row, zero divisor for a constant group) instead of 0.0."""
    from a3_fp_bigdata_spark.operators.grouped_map import zscore_per_group

    df = spark.createDataFrame(
        [
            (1, "single", 5.0),
            (2, "const", 3.0),
            (3, "const", 3.0),
            (4, "vary", 1.0),
            (5, "vary", 3.0),
        ],
        "event_id long, grp string, v double",
    )
    rows = {
        r.event_id: r.z
        for r in zscore_per_group(df, "grp", "v").collect()
    }
    assert rows[1] is None  # single-row group: stddev_samp is NULL
    assert rows[2] is None and rows[3] is None  # constant group: std == 0
    assert rows[4] is not None and rows[5] is not None
    assert abs(rows[4] + 0.7071) < 1e-3 and abs(rows[5] - 0.7071) < 1e-3


def test_simhash_pairs_pigeonhole_contract(spark):
    """d9's banding GUARANTEE: every pair whose simhash hamming
    distance is <= bands-1 MUST surface (such a pair shares at least
    one exact band — the pigeonhole theorem, deterministic). Checked
    against d3's true pairs; farther pairs are d4's job, not d9's."""
    from a3_fp_bigdata_spark import registry
    from a3_fp_bigdata_spark.operators import dedup as D

    qs = registry.all_queries()
    d9 = {
        (r.doc_a, r.doc_b)
        for r in qs["d9_simhash_pairs"](spark, SF0001).collect()
    }
    assert d9  # non-vacuous
    sh = {
        r.doc_id: r.simhash
        for r in D.simhash_frame(
            spark, SF0001, D.SIMHASH_PAIR_BITS
        ).collect()
    }
    d3 = {
        (r.doc_a, r.doc_b)
        for r in qs["d3_ngram_jaccard"](spark, SF0001).collect()
    }
    within = {
        (a, b)
        for a, b in d3
        if bin(sh[a] ^ sh[b]).count("1") <= D.SIMHASH_MAX_HAMMING
    }
    assert within  # the radius is meaningful on this corpus
    assert within <= d9, f"pigeonhole violation: {within - d9}"


def test_d4_precision_and_recall_vs_exact(spark):
    """Pin d4's relationship to d3's exact ground truth (VERDICT r3 asked
    for evidence beyond 'ran' on the rows-only flagship):

    - PRECISION is exact by construction: every d4 pair is re-verified
      with the same exact-Jaccard predicate d3 uses, so d4 ⊆ d3 always.
    - RECALL at the high-similarity end is deterministic on the fixed
      seeds + corpus: with 16 bands of 2 rows, a pair at jaccard j
      collides in ≥1 band w.p. 1-(1-j²)^16 (~99% at j=0.5), and the
      seeds are pinned constants — so every d3 pair with j ≥ 0.5 must
      appear (an empirical pin, it would have caught round 3's breakage
      class too: garbage signatures lose ALL pairs)."""
    from a3_fp_bigdata_spark import registry

    qs = registry.all_queries()
    d3 = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in qs["d3_ngram_jaccard"](spark, SF0001).collect()
    }
    d4 = {
        (r.doc_a, r.doc_b) for r in qs["d4_minhash_lsh"](spark, SF0001).collect()
    }
    assert d4, "d4 found no pairs on a corpus with known near-dups"
    assert d4 <= set(d3)  # exact verification -> no false positives
    high = {p for p, j in d3.items() if j >= 0.5}
    assert high, "corpus has no high-similarity pairs; pin is vacuous"
    assert high <= d4, f"high-sim pairs missed by LSH: {high - d4}"


def test_d14_keeper_dominates_min_id_policy(spark):
    """d14 (keep best quality per cluster) vs d13 (keep smallest id):
    both keep exactly one doc per near-dup cluster — same kept COUNT —
    and d14's keeper quality is >= the quality of d13's choice for
    every cluster (argmax dominates any other member)."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark import registry
    from a3_fp_bigdata_spark.data import table
    from a3_fp_bigdata_spark.functions import text as TXF

    qs = registry.all_queries()
    d13 = {r.doc_id for r in qs["d13_dedup_corpus"](spark, SF0001).collect()}
    d14 = {r.doc_id for r in qs["d14_quality_keeper"](spark, SF0001).collect()}
    assert len(d13) == len(d14)  # one keeper per cluster, both policies
    clusters = {
        r.doc_id: r.cluster_id
        for r in qs["d12_dedup_clusters"](spark, SF0001).collect()
    }
    quality = {
        r.doc_id: r.q
        for r in table(spark, SF0001, "documents")
        .select("doc_id", F.round(TXF.quality_score(F.col("text")), 4).alias("q"))
        .collect()
    }
    by_cluster_13 = {}
    by_cluster_14 = {}
    for d in d13 & set(clusters):
        by_cluster_13[clusters[d]] = d
    for d in d14 & set(clusters):
        by_cluster_14[clusters[d]] = d
    assert set(by_cluster_13) == set(by_cluster_14)  # same clusters survive
    for c in by_cluster_13:
        assert quality[by_cluster_14[c]] >= quality[by_cluster_13[c]]
    # and outside clusters the two corpora agree exactly
    non_cluster = set(quality) - set(clusters)
    assert non_cluster <= d13 and non_cluster <= d14


def test_drop_set_broadcast_fallback_path(spark, monkeypatch):
    """The dedup drop-set broadcast is size-guarded, not forced
    (dedup._maybe_broadcast_drop): above DROP_BROADCAST_MAX_ROWS the
    anti-join must fall back to a plain (shuffle-able) join AND return
    the identical corpus — web-corpus dup rates make the drop set
    unbroadcastable, so the fallback is the 100 TB path."""
    from a3_fp_bigdata_spark import registry
    from a3_fp_bigdata_spark.operators import dedup as D

    qs = registry.all_queries()
    hinted = sorted(
        tuple(r) for r in qs["d13_dedup_corpus"](spark, SF0001).collect()
    )
    monkeypatch.setattr(D, "DROP_BROADCAST_MAX_ROWS", 0)
    fallback_df = qs["d13_dedup_corpus"](spark, SF0001)
    # the hint is gone from the logical plan on the fallback path
    assert "ResolvedHint" not in fallback_df._jdf.queryExecution().logical().toString()
    assert sorted(tuple(r) for r in fallback_df.collect()) == hinted
    # d14 and pl1 share the guard — fallback output matches hinted too
    d14_hint = sorted(
        tuple(r) for r in qs["d14_quality_keeper"](spark, SF0001).collect()
    )
    monkeypatch.setattr(D, "DROP_BROADCAST_MAX_ROWS", 10_000_000)
    assert (
        sorted(tuple(r) for r in qs["d14_quality_keeper"](spark, SF0001).collect())
        == d14_hint
    )
    registry.release_pinned()


def test_d12_reliable_checkpoint_path(spark, monkeypatch, tmp_path):
    """With SPARK_GRAFT_CHECKPOINT_DIR set, the connected-components
    loop truncates lineage through storage-backed checkpoints (the
    executor-loss-safe cluster form) and must converge to the identical
    cluster table; checkpoint files actually land in the dir."""
    import os as _os

    from a3_fp_bigdata_spark import registry

    qs = registry.all_queries()
    want = sorted(
        tuple(r) for r in qs["d12_dedup_clusters"](spark, SF0001).collect()
    )
    ck = str(tmp_path / "ck")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ck)
    # force a rebuild under the env var
    registry.release_stages("clusters", "cluster_count")
    got = sorted(
        tuple(r) for r in qs["d12_dedup_clusters"](spark, SF0001).collect()
    )
    assert got == want
    assert any(
        files for _, _, files in _os.walk(ck)
    ), "no checkpoint files written"
    # don't leak the env-var build to others
    registry.release_stages("clusters", "cluster_count")
    registry.release_pinned()


def test_session_memos_keyed_by_sf_dir(spark):
    """The shingle and cluster session memos are keyed by (session,
    sf_dir): asking for a different scale factor in the same session
    must NOT return the other scale's cached frame (silent wrong-data
    reuse would poison every dedup rung downstream)."""
    from a3_fp_bigdata_spark import registry
    from a3_fp_bigdata_spark.operators import dedup as D

    sf001 = "/root/testdata/sf0.01"
    a = D.staged_shingles(spark, SF0001)
    b = D.staged_shingles(spark, sf001)
    assert a is not b
    assert a.count() != b.count()  # different corpora, different stages
    qs = registry.all_queries()
    ca = {tuple(r) for r in qs["d12_dedup_clusters"](spark, SF0001).collect()}
    cb = {tuple(r) for r in qs["d12_dedup_clusters"](spark, sf001).collect()}
    registry.release_pinned()
    assert ca != cb  # distinct cluster tables per sf_dir
    # and the memo actually memoizes: same object back on re-ask
    assert D.staged_shingles(spark, SF0001) is a


def test_snapshot_diff_statuses_match_modular_derivation(spark):
    """u3: replay the deterministic snapshot derivation in plain Python
    — every key's status (added/removed/changed) must match the modular
    predicates, unchanged keys must be absent, and the three status
    sets must partition the emitted keys."""
    from a3_fp_bigdata_spark import registry

    texts = {
        r.doc_id: r.text
        for r in table(spark, SF0001, "documents")
        .select("doc_id", "text")
        .collect()
    }
    got = {
        r.doc_id: r.status
        for r in registry.all_queries()["u3_snapshot_diff"](
            spark, SF0001
        ).collect()
    }
    for d, text in texts.items():
        in_old = d % 17 != 3
        in_new = d % 19 != 2
        # the simulated edit only CHANGES the fingerprint when the
        # text has case to flip — replay the real semantics, not the
        # derivation's intent (a caseless doc at an edited slot is
        # correctly unchanged)
        edited = d % 23 == 5 and text.upper() != text
        if in_new and not in_old:
            want = "added"
        elif in_old and not in_new:
            want = "removed"
        elif in_old and in_new and edited:
            want = "changed"
        else:
            want = None  # unchanged: must not be emitted
        assert got.get(d) == want, (d, got.get(d), want)
    assert set(got) <= set(texts)


def test_collapse_repeats_is_idempotent(spark):
    """tx12's run-length collapse is a projection to its own fixed
    point: re-collapsing the cleaned text changes nothing, and the
    cleaned text never contains two identical adjacent segments."""
    from a3_fp_bigdata_spark import registry

    out = registry.all_queries()["tx12_collapse_repeats"](spark, SF0001)
    ls = F.split(F.col("clean_text"), " ")
    again = F.filter(
        ls, lambda x, i: (i == F.lit(0)) | (x != F.element_at(ls, i))
    )
    changed = out.filter(F.size(again) != F.col("n_after")).count()
    assert changed == 0
    assert out.filter(F.col("n_after") > F.col("n_segments")).count() == 0


def test_quantized_rerank_recall_vs_exact(spark):
    """sim9's int8 coarse stage must not cost recall at this scale:
    with RERANK_CAND candidates feeding the exact rerank, the final
    top-k matches sim1's exact top-k on the same rounded-cosine order.
    (int8 max-abs quantization keeps relative dot error ~1/127 — far
    smaller than the corpus' cosine gaps at rank RERANK_CAND.)"""
    from a3_fp_bigdata_spark import registry
    from a3_fp_bigdata_spark.operators.similarity import ANN_TOPK

    exact = [
        r.vec_id
        for r in registry.all_queries()["sim1_cosine_topk"](spark, SF0001)
        .limit(ANN_TOPK)
        .collect()
    ]
    got = [
        r.vec_id
        for r in registry.all_queries()["sim9_quantized_rerank"](
            spark, SF0001
        ).collect()
    ]
    assert got == exact


def test_empty_input_round5_curation_ops(spark, monkeypatch, clean_shingle_stage):
    """The round-5 curation surface on an EMPTY corpus: chunking emits
    no phantom chunks (the sequence guard, not a descending
    sequence(0,-1)), the unigram LM fits an empty vocab without
    dividing by zero, repetition removal and the leakage audit return
    zero rows, and pl2's occupancy table is empty."""
    from a3_fp_bigdata_spark import registry
    from a3_fp_bigdata_spark.operators import dedup as D
    from a3_fp_bigdata_spark.operators import packing as PK
    from a3_fp_bigdata_spark.operators import text_analysis as TA

    def make_patched(mod):
        real = mod.table

        def patched(spark_, sf_dir_, name):
            df = real(spark_, sf_dir_, name)
            return df.filter(F.lit(False)) if name == "documents" else df

        return patched

    for mod in (D, PK, TA):
        monkeypatch.setattr(mod, "table", make_patched(mod))
    qs = registry.all_queries()
    for name in (
        "tx12_collapse_repeats",
        "tx13_unigram_logprob",
        "tx14_bigram_pmi",
        "tx15_bigram_logprob",
        "pk7_split_leakage",
        "pk8_sliding_chunks",
        "pk11_length_bucket_batches",
        "pl2_chunk_index_stats",
    ):
        assert qs[name](spark, SF0001).count() == 0, name


def test_empty_input_quantized_rerank(spark, monkeypatch):
    """sim9 with no candidate vectors (only the query vector id 0
    survives) returns an empty ranking rather than erroring in the
    quantization algebra."""
    from a3_fp_bigdata_spark import registry
    from a3_fp_bigdata_spark.operators import similarity as S

    real = S.table

    def patched(spark_, sf_dir_, name):
        df = real(spark_, sf_dir_, name)
        if name == "embeddings":
            return df.filter(F.col("vec_id") == 0)
        return df

    monkeypatch.setattr(S, "table", patched)
    out = registry.all_queries()["sim9_quantized_rerank"](spark, SF0001)
    assert out.count() == 0


def test_d4_containment_audit_is_zero_outside(spark):
    """d4_containment_audit: the LSH path's pairs sit wholly inside
    d3's exact pair set (n_outside_exact == 0) and the audited set is
    non-empty at sf0.001 — the Spark half of the audit whose oracle
    half re-verifies the same claim against DuckDB's independent d3."""
    from a3_fp_bigdata_spark import registry

    row = (
        registry.all_queries()["d4_containment_audit"](spark, SF0001)
        .collect()[0]
    )
    assert row.n_lsh_pairs > 0
    assert row.n_outside_exact == 0


def test_bloom_filter_no_false_negatives_and_selective(spark):
    """j11's bloom: every build key passes the membership test (no
    false negatives — the correctness contract), and the filter is
    genuinely selective on non-members (the scale contract: the
    shuffle sees a small fraction of the fact table)."""
    from a3_fp_bigdata_spark.operators import joins as J

    cust = table(spark, SF0001, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    words = J.build_bloom(cust.select("c_custkey"))
    members = {r.c_custkey for r in cust.collect()}
    all_cust = table(spark, SF0001, "customer").select("c_custkey")
    passed = {
        r.c_custkey
        for r in all_cust.filter(
            J.bloom_might_contain(F.col("c_custkey"), words)
        ).collect()
    }
    assert members <= passed  # no false negatives, ever
    non_members = {r.c_custkey for r in all_cust.collect()} - members
    fp = len(passed - members) / max(1, len(non_members))
    assert fp < 0.05, fp  # ~0.8% expected at this geometry


def test_bpe_fit_on_degenerate_corpora(spark):
    """tk1 on empty and single-char-word corpora: the fit stops early
    instead of erroring, and each merge it does emit is well-formed."""
    from a3_fp_bigdata_spark.operators import tokenizer as TK

    # empty histogram: zero merges, no exception
    empty = _empty_docs(spark)
    hist = empty.select(
        F.explode(TX.tokens(F.col("text"))).alias("word")
    ).groupBy("word").agg(F.count("*").alias("cnt"))
    assert hist.count() == 0

    # one single-char word: only (char, </w>) is mergeable; after that
    # single two-symbol sequence collapses, no adjacent pairs remain
    one = spark.createDataFrame([(1, "a a a")], "doc_id long, text string")
    import unittest.mock as mock

    with mock.patch.object(TK, "word_histogram") as wh:
        wh.return_value = one.select(
            F.explode(TX.tokens(F.col("text"))).alias("word")
        ).groupBy("word").agg(F.count("*").alias("cnt"))
        merges = TK.fit_bpe(spark, "unused", n_merges=5)
    assert merges == [(0, "a", TK.END_MARK, "a" + TK.END_MARK, 3)]


def test_bloom_join_with_empty_build_side(spark):
    """j11 with an empty build side: the bloom is all zeros, the probe
    filter drops every row scan-side, and the join result is empty —
    matching the plain join's answer on an empty dimension."""
    from a3_fp_bigdata_spark.operators import joins as J

    none = table(spark, SF0001, "customer").filter(F.lit(False))
    words = J.build_bloom(none.select("c_custkey"))
    assert words == [0] * J.BLOOM_WORDS
    orders = table(spark, SF0001, "orders")
    kept = orders.filter(
        J.bloom_might_contain(F.col("o_custkey"), words)
    )
    assert kept.count() == 0


def test_stage_metrics_errors_clearly_without_ui(spark):
    """metrics on a UI-disabled session (this test suite's default)
    must raise a CLEAR RuntimeError naming the conf, never the raw
    urllib 'unknown url type: None...' it used to surface."""
    import pytest

    from a3_fp_bigdata_spark.metrics import stage_metrics

    with pytest.raises(RuntimeError, match="spark.ui.enabled"):
        with stage_metrics(spark):
            pass


def test_stage_metrics_observes_shuffle_delta_subprocess():
    """Happy path needs a UI-enabled session (per-JVM conf, so a
    subprocess): a shuffling aggregation registers nonzero shuffle
    deltas and a positive memory high-water mark; an action-free
    block registers zero shuffle."""
    import subprocess
    import sys

    code = """
import os, sys
sys.path.insert(0, "/root/repo")
os.environ["SPARK_GRAFT_UI"] = "true"
from a3_fp_bigdata_spark.session import local_session
from a3_fp_bigdata_spark.metrics import stage_metrics
from pyspark.sql import functions as F
spark = local_session(cores=4, app_name="metrics-test")
with stage_metrics(spark) as m:
    (spark.range(200_000)
        .groupBy((F.col("id") % 97).alias("k")).count()
        .write.format("noop").mode("overwrite").save())
assert m.shuffle_write_bytes > 0, m
assert m.shuffle_read_bytes > 0, m
# peak memory posts with the executor heartbeat (~10s period) — may
# legitimately still read 0 this early; just exercise the call
assert m.peak_jvm_bytes >= 0, m
# status-store events post asynchronously; let them settle before
# measuring the action-free block
import time
time.sleep(3)
with stage_metrics(spark) as m0:
    pass
assert m0.shuffle_write_bytes == 0 and m0.shuffle_read_bytes == 0, m0
spark.stop()
print("METRICS_OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=300,
    )
    assert "METRICS_OK" in out.stdout, (out.stdout[-800:], out.stderr[-800:])


def test_sketch_and_ivf_audits_pass_their_bounds(spark):
    """a19/sim11 — the Spark halves of the two audit queries whose
    oracle halves re-verify against independent ground truth: every
    HLL estimate sits within its 5% bound, and the IVF probe recovers
    at least 80% of the exact top-k."""
    from a3_fp_bigdata_spark import registry

    qs = registry.all_queries()
    a19 = qs["a19_approx_distinct_audit"](spark, SF0001).collect()
    assert a19 and all(r.within_5pct for r in a19)
    r = qs["sim11_ivf_recall_audit"](spark, SF0001).collect()[0]
    assert r.n_hit >= 0.8 * r.k
    # a20: every percentile_approx estimate's rank interval must
    # overlap q*n +- n/accuracy (the GK contract), per (group, q)
    a20 = qs["a20_quantile_rank_audit"](spark, SF0001).collect()
    assert len(a20) == 15 and all(r.within_rank_bound for r in a20)
    # and the interval itself must be coherent ground truth
    assert all(0 <= r.cnt_lt <= r.cnt_le <= r.n_vals for r in a20)


def test_d6_gemm_audit_lossless_and_canonical(spark):
    """The d6 blocked-GEMM pruner's audit invariants, pinned against an
    INDEPENDENT in-test brute-force: numpy all-pairs cosine over the
    raw parquet (no Spark, no GEMM blocking, no DuckDB) re-derives the
    true pair set, then the audit row's counts and the materialized
    candidate set are checked against it. (The audit's own Spark-side
    n_missed is 0 by construction — its exact set derives from the
    candidates; the independent cross-check is the DuckDB oracle in
    the parity sweep, and THIS brute-force here.)"""
    import numpy as np
    import pyarrow.parquet as pq

    from a3_fp_bigdata_spark import registry
    from a3_fp_bigdata_spark.data import run_scratch
    from a3_fp_bigdata_spark.operators.similarity import NEARDUP_COSINE

    qs = registry.all_queries()
    r = qs["d6_gemm_audit"](spark, SF0001).collect()[0]
    assert r.n_dup == 0
    assert r.n_bad_orient == 0
    assert r.n_candidates >= r.n_exact > 0

    # independent ground truth: brute-force cosine over the raw table
    t = pq.read_table(f"{SF0001}/embeddings.parquet")
    ids = np.asarray(t["vec_id"])
    V = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    C = V @ V.T
    ii, jj = np.nonzero((C >= NEARDUP_COSINE) & (ids[:, None] < ids[None, :]))
    true_pairs = {(int(ids[i]), int(ids[j])) for i, j in zip(ii, jj)}
    assert r.n_exact == len(true_pairs)

    # lossless pruning, checked against the INDEPENDENT set: every true
    # pair must be in the materialized candidate scratch
    cand = pq.read_table(
        run_scratch("d6_gemm_cands"), columns=["vec_a", "vec_b"]
    )
    cand_pairs = set(
        zip(cand["vec_a"].to_pylist(), cand["vec_b"].to_pylist())
    )
    assert len(cand_pairs) == r.n_candidates
    assert true_pairs <= cand_pairs, (
        f"GEMM pruning dropped {len(true_pairs - cand_pairs)} true pairs"
    )


def test_join_stage_task_skew_sees_hot_reducer_subprocess():
    """join_stage_task_skew (the salted-vs-AQE rung's metric) must
    report per-TASK quantiles that actually expose a hot key: on a
    60%-hot shuffled join the max task read must dominate the median.
    Stage-level totals are distribution-blind — this helper is the
    only committed evidence path for reducer skew, so pin it. AQE is
    disabled in-test: the probe measures the STATIC plan's skew (AQE
    splitting the partition is the rung's separate, compared leg)."""
    import subprocess
    import sys

    code = """
import os, sys
sys.path.insert(0, "/root/repo")
os.environ["SPARK_GRAFT_UI"] = "true"
from a3_fp_bigdata_spark.session import local_session
from a3_fp_bigdata_spark.metrics import completed_stage_ids, join_stage_task_skew
from pyspark.sql import functions as F
spark = local_session(cores=4, app_name="skew-metric-test")
spark.conf.set("spark.sql.adaptive.enabled", "false")
fact = spark.range(200_000).select(
    F.when(F.pmod("id", F.lit(10)) < 6, F.lit(7))
     .otherwise(F.pmod(F.xxhash64("id"), F.lit(300))).alias("k"),
    (F.col("id") % 997).alias("v"))
dim = spark.range(300).select(F.col("id").alias("kd"))
ids0 = completed_stage_ids(spark)
fact.join(dim.hint("merge"), F.col("k") == F.col("kd")).agg(
    F.count("*"), F.sum("v")).collect()
sk = join_stage_task_skew(spark, ids0)
assert sk is not None
assert sk["n_tasks"] > 1, sk
assert sk["read_max"] > 3 * max(sk["read_med"], 1), sk
spark.stop()
print("SKEW_METRIC_OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=300,
    )
    assert "SKEW_METRIC_OK" in out.stdout, (out.stdout[-800:], out.stderr[-800:])


def test_d15_span_semantics_on_synthetic_corpus(spark, monkeypatch):
    """d15_duplicated_spans on a hand-built corpus pins every semantic
    the oracle also encodes: cross-doc duplicated runs merge adjacent
    windows into ONE maximal span; disjoint runs in a doc stay
    separate islands; a within-doc repeat (same 8-gram twice in one
    document) counts as duplicated with no second doc involved; docs
    shorter than DUPSPAN_K emit nothing."""
    from a3_fp_bigdata_spark.operators import dedup as D

    R = "a b c d e f g h i j"          # 10 tokens, shared by docs 1/2/3
    S = "p q r s t u v w"              # exactly K=8, shared by docs 3/4
    U = "k1 k2 k3 k4 k5 k6 k7 k8"      # K tokens, repeated INSIDE doc 5
    docs = spark.createDataFrame(
        [
            (1, f"u1 u2 u3 {R} v1 v2 v3"),
            (2, f"{R} w1 w2 w3 w4"),
            (3, f"{R} x1 x2 x3 {S}"),
            (4, f"y1 y2 {S} y3"),
            (5, f"{U} z1 z2 {U}"),
            (6, "short one two"),
        ],
        "doc_id long, text string",
    )

    real_table = D.table

    def patched(spark_, sf_dir_, name):
        return docs if name == "documents" else real_table(spark_, sf_dir_, name)

    monkeypatch.setattr(D, "table", patched)
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in D.d15_duplicated_spans(spark, SF0001).collect()
    }
    assert got == {
        (1, 3, 13, 3),   # R at offset 3: windows 3,4,5 merge to [3,13)
        (2, 0, 10, 3),
        (3, 0, 10, 3),   # R island ...
        (3, 13, 21, 1),  # ... and S island, separated by the x-gap
        (4, 2, 10, 1),
        (5, 0, 8, 1),    # within-doc repeat: both copies flagged,
        (5, 10, 18, 1),  # gap z1 z2 keeps them separate islands
        # doc 6: < K tokens, no window, no row
    }


def test_d16_span_cut_on_synthetic_corpus(spark, monkeypatch):
    """d16_span_cut over the same hand-built corpus as the d15 test:
    tokens inside every span vanish, survivors keep their original
    order, an untouched doc passes through verbatim (n_cut = 0), and
    counts reconcile (n_kept + n_cut = token count)."""
    from a3_fp_bigdata_spark.operators import dedup as D

    R = "a b c d e f g h i j"
    S = "p q r s t u v w"
    U = "k1 k2 k3 k4 k5 k6 k7 k8"
    docs = spark.createDataFrame(
        [
            (1, f"u1 u2 u3 {R} v1 v2 v3"),
            (2, f"{R} w1 w2 w3 w4"),
            (3, f"{R} x1 x2 x3 {S}"),
            (4, f"y1 y2 {S} y3"),
            (5, f"{U} z1 z2 {U}"),
            (6, "short one two"),
        ],
        "doc_id long, text string",
    )

    real_table = D.table

    def patched(spark_, sf_dir_, name):
        return docs if name == "documents" else real_table(spark_, sf_dir_, name)

    monkeypatch.setattr(D, "table", patched)
    got = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_cut)
        for r in D.d16_span_cut(spark, SF0001).collect()
    }
    assert got == {
        1: ("u1 u2 u3 v1 v2 v3", 6, 10),
        2: ("w1 w2 w3 w4", 4, 10),
        3: ("x1 x2 x3", 3, 18),
        4: ("y1 y2 y3", 3, 8),
        5: ("z1 z2", 2, 16),
        6: ("short one two", 3, 0),  # untouched doc passes through
    }


def test_d18_containment_semantics_on_synthetic_corpus(spark, monkeypatch):
    """d18_fuzzy_decontaminate on a hand-built corpus pins the
    containment semantics end to end: a train doc embedding a bench
    doc verbatim scores 1.0; sharing exactly half the bench doc's
    5-grams scores 0.5 (the boundary is kept); a 4-token overlap
    shares no 5-gram and emits nothing; two identical bench docs are
    attributed SEPARATELY; bench docs never appear on the train side.
    Doc ids are chosen against the sample predicate (5/23/28 are
    bench at 10%, 1/2/3/4/6 are train)."""
    from a3_fp_bigdata_spark.operators import dedup as D

    B = "b1 b2 b3 b4 b5 b6"  # bench text: exactly two 5-grams
    docs = spark.createDataFrame(
        [
            (5, B),                              # bench
            (28, B),                             # bench twin of 5
            (23, "c1 c2 c3 c4 c5"),              # bench: one 5-gram
            (1, f"pre1 pre2 {B} post1"),         # contains B fully
            (2, "b1 b2 b3 b4 b5 q1 q2"),         # 1 of B's 2 grams
            (3, "b1 b2 b3 b4 x y z w v"),        # 4-token overlap only
            (4, "c1 c2 c3 c4 c5 gap c1 c2 c3 c4 c5"),  # contains 23 twice
            (6, "u1 u2 u3 u4 u5 u6 u7"),         # unrelated
        ],
        "doc_id long, text string",
    )

    real_table = D.table

    def patched(spark_, sf_dir_, name):
        return docs if name == "documents" else real_table(spark_, sf_dir_, name)

    monkeypatch.setattr(D, "table", patched)
    got = {
        (r.doc_id, r.bench_id, r.n_common, r.containment)
        for r in D.d18_fuzzy_decontaminate(spark, SF0001).collect()
    }
    assert got == {
        (1, 5, 2, 1.0),
        (1, 28, 2, 1.0),
        (2, 5, 1, 0.5),
        (2, 28, 1, 0.5),
        (4, 23, 1, 1.0),
    }


def test_char_entropy_replays_in_pure_python(spark):
    """tx16 replayed doc-by-doc in plain Python (collections.Counter +
    math.log2 — no Spark, no SQL): same half-up rounding, same
    H = log2(n) - sum(c*log2 c)/n identity. Also pins the information-
    theoretic bounds: 0 <= H <= log2(n_distinct), with equality at 0
    iff the document is a single repeated character."""
    import math
    from collections import Counter

    import pyarrow.parquet as pq

    from a3_fp_bigdata_spark import registry

    got = {
        r.doc_id: r
        for r in registry.all_queries()["tx16_char_entropy"](
            spark, SF0001
        ).collect()
    }
    tbl = pq.read_table(SF0001 + "/documents.parquet", columns=["doc_id", "text"])
    docs = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    assert set(got) == {d for d, t in docs.items() if len(t) >= 1}
    for doc_id, text in docs.items():
        if len(text) < 1:
            continue
        c = Counter(text)
        n = len(text)
        h = math.log2(n) - sum(v * math.log2(v) for v in c.values()) / n
        want = math.floor(h * 10000 + 0.5) / 10000
        r = got[doc_id]
        assert r.n_chars == n and r.n_distinct == len(c), doc_id
        assert r.char_entropy == want, (doc_id, r.char_entropy, want)
        assert -1e-9 <= h <= math.log2(len(c)) + 1e-9
        if len(c) == 1:
            assert r.char_entropy == 0.0


# --- tx17: Gopher rule cascade ----------------------------------------------


def test_tx17_each_rule_fires_on_a_crafted_document(spark, tmp_path):
    """One crafted document per rule, written as a documents.parquet the
    operator scans like any sf dir — each rule must fail exactly where
    planted and nowhere else."""
    from a3_fp_bigdata_spark.operators import text_analysis as TA

    stop8 = "the and for with this that from have"  # 8 function words
    cases = {
        1: (f"{stop8} alpha beta gamma delta", []),          # all pass
        # 5 distinct words: fails the count floor but clears the
        # repetition cap (100*max_freq=100 <= 25*n_toks=125)
        2: ("the and for big sky", ["word_count_ok"]),       # < 10 words
        3: (
            f"{stop8} aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"
            " bbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbb"
            " cccccccccccccccccccccccccccccccccccccccc"
            " dddddddddddddddddddddddddddddddddddddddd"
            " eeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeee"
            " ffffffffffffffffffffffffffffffffffffffff"
            " gggggggggggggggggggggggggggggggggggggggg"
            " hhhhhhhhhhhhhhhhhhhhhhhhhhhhhhhhhhhhhhhh"
            " iiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiii"
            " jjjjjjjjjjjjjjjjjjjjjjjjjjjjjjjjjjjjjjjj"
            " kkkkkkkkkkkkkkkkkkkkkkkkkkkkkkkkkkkkkkkk"
            " llllllllllllllllllllllllllllllllllllllll",
            ["mean_word_len_ok"],                            # mean len > 10
        ),
        4: (
            f"{stop8} alpha beta gamma !!!???;;;###$$$%%%&&&",
            ["symbol_ratio_ok"],                             # > 10% symbols
        ),
        5: (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa"
            " lambdaa muu",
            ["stopword_count_ok"],                           # 0 function words
        ),
        6: (
            f"{stop8} 11 22 33 44 55 66 77 88 99 1010 1111 1212 1313"
            " 1414 1515 1616 1717 1818 1919 2020 2121 2222 2323 2424"
            " 2525 2626 2727 2828 2929 3030 3131 3232",
            ["alpha_frac_ok"],                               # < 80% alpha toks
        ),
        7: (
            f"{stop8} spam spam spam spam spam spam spam spam spam spam"
            " spam spam spam spam spam spam spam spam spam spam",
            ["repetition_ok"],                               # top token > 25%
        ),
    }
    rows = [
        (doc_id, text, "en", "crafted", len(text))
        for doc_id, (text, _) in cases.items()
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r
        for r in TA.tx17_gopher_rules(spark, str(tmp_path)).collect()
    }
    rule_cols = [
        "word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
        "stopword_count_ok", "alpha_frac_ok", "repetition_ok",
    ]
    for doc_id, (_, expected_fail) in cases.items():
        r = out[doc_id]
        failed = [c for c in rule_cols if r[c] == 0]
        assert failed == expected_fail, (doc_id, failed, expected_fail)
        assert r["n_failed"] == len(expected_fail)
        assert r["keep"] == int(not expected_fail)


def test_tx17_null_text_document_gets_sane_verdicts(spark, tmp_path):
    """NULL text must behave exactly like empty text on both engines
    (ADVICE r10: Spark's size(NULL array) is -1 where DuckDB's len() is
    NULL — tx17 coalesces before tokenizing so neither is reachable).
    An empty document fails the word-count floor and stopword floor,
    vacuously passes the zero-token ratio rules (0 >= k*0), and its
    rule bits are 0/1 (never negative or NULL)."""
    import duckdb

    from a3_fp_bigdata_spark.operators import text_analysis as TA
    from a3_fp_bigdata_spark.registry import get

    stop8 = "the and for with this that from have"
    df = spark.createDataFrame(
        [(1, None, "en", "crafted", 0),
         (2, f"{stop8} alpha beta gamma delta", "en", "crafted", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in TA.tx17_gopher_rules(spark, str(tmp_path)).collect()
    }
    null_row = rows[1]
    assert null_row["keep"] == 0 and null_row["n_failed"] == 2
    assert null_row["word_count_ok"] == 0
    assert null_row["stopword_count_ok"] == 0
    assert all(
        v in (0, 1)
        for k, v in null_row.items()
        if k not in ("doc_id", "n_failed")
    ), null_row
    # the DuckDB oracle agrees on the NULL-text row verdicts
    con = duckdb.connect()
    glob = str(tmp_path / "documents.parquet" / "*.parquet").replace("'", "''")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')"
    )
    oracle = {
        r[0]: dict(zip([d[0] for d in con.description], r))
        for r in con.execute(get("tx17_gopher_rules").oracle).fetchall()
    }
    assert oracle[1] == null_row


# --- tx18: duplicate-n-gram repetition rules ---------------------------------


def test_tx18_counts_and_flags_on_crafted_documents(spark, tmp_path):
    """Hand-computable gram counts: a looping doc fails both rules, a
    non-repeating doc passes both, a one-token doc has zero grams and
    vacuously passes, and the counts are exact."""
    from a3_fp_bigdata_spark.operators import text_analysis as TA

    cases = {
        # "ab ab ab ab": 2-grams = [ab ab]x3 -> n2=3, all dup;
        # 3-grams = [ab ab ab]x2 -> n3=2, all dup -> both rules fail
        1: ("ab ab ab ab", 3, 3, 2, 2, 0, 0),
        # all-distinct grams: zero dup mass, both pass
        2: ("one two three four five", 4, 0, 3, 0, 1, 1),
        # single token: no grams at all, vacuous pass
        3: ("solo", 0, 0, 0, 0, 1, 1),
        # dup 2-gram mass exactly at the 20% boundary: "x y" twice in
        # 10 2-grams -> 100*4 > 20*10 fails; craft 2/10 -> 100*2 <=
        # 20*10 passes... use a doc with exactly one repeated 2-gram
        # pair among 10: dup mass 2, 100*2 = 20*10 -> boundary KEEPS
        4: ("x y a b c d e f g x y", 10, 2, 9, 0, 1, 1),
    }
    rows = [
        (doc_id, text, "en", "crafted", len(text))
        for doc_id, (text, *_rest) in cases.items()
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r
        for r in TA.tx18_dup_gram_fraction(spark, str(tmp_path)).collect()
    }
    for doc_id, (_, n2, d2, n3, d3, ok2, ok3) in cases.items():
        r = out[doc_id]
        got = (r["n2_grams"], r["n2_dup"], r["n3_grams"], r["n3_dup"],
               r["dup2_ok"], r["dup3_ok"])
        assert got == (n2, d2, n3, d3, ok2, ok3), (doc_id, got)
        assert r["keep"] == int(ok2 and ok3)


# --- a21: deterministic heavy-hitters sketch ---------------------------------


def test_a21_planted_heavy_hitter_survives_with_bounds(spark, tmp_path):
    """MG guarantee on a crafted skewed corpus: a token holding ~40% of
    the stream MUST survive both truncation levels (any phi-heavy
    hitter with phi > 2/(K+1) does), its estimate must never exceed
    the true count, and the deficit must respect the attested bound."""
    from a3_fp_bigdata_spark.operators import aggregates as AG

    hot = "jackpot " * 40                       # the planted heavy hitter
    filler_vocab = [f"word{i}" for i in range(30)]
    rows = []
    for doc_id in range(60):
        filler = " ".join(
            filler_vocab[(doc_id * 7 + j) % len(filler_vocab)]
            for j in range(40)
        )
        text = (hot + filler) if doc_id % 2 == 0 else filler
        rows.append((doc_id, text, "en", "crafted", len(text)))
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["tok"]: r
        for r in AG.a21_heavy_hitters_audit(
            spark, str(tmp_path)
        ).collect()
    }
    assert "jackpot" in out, sorted(out)
    r = out["jackpot"]
    n, k = r["n_tokens"], AG.HH_K
    assert r["exact_cnt"] == 30 * 40            # ground truth
    assert r["est"] <= r["exact_cnt"]           # never overcounts
    assert (r["exact_cnt"] - r["est"]) * (k + 1) <= 2 * n
    assert r["within_bound"]
    assert all(row["within_bound"] for row in out.values())


# --- a22: oracle-replayable Bloom filter -------------------------------------


def test_a22_bloom_matches_pure_python_replay(spark):
    """The audit's counts must equal an independent pure-Python replay
    of the same multiplicative-hash Bloom over the same keys — and the
    structural guarantees must hold: zero false negatives, hits =
    true members + false positives, bit census <= 2 per member."""
    import duckdb

    from tests.conftest import SF0001
    from a3_fp_bigdata_spark.operators import aggregates as AG

    r = AG.a22_bloom_filter_audit(spark, SF0001).collect()[0]

    con = duckdb.connect()
    cust = [
        k
        for (k,) in con.execute(
            f"SELECT c_custkey FROM read_parquet('{SF0001}/customer.parquet')"
        ).fetchall()
    ]
    parts = [
        k
        for (k,) in con.execute(
            f"SELECT p_partkey FROM read_parquet('{SF0001}/part.parquet')"
        ).fetchall()
    ]
    bits = set()
    for k in cust:
        for m in AG.A22_MULTS:
            bits.add(((k % AG.A22_PREMOD) * m) % AG.A22_BITS)
    member = set(cust)
    hits = [
        k
        for k in parts
        if all(
            ((k % AG.A22_PREMOD) * m) % AG.A22_BITS in bits
            for m in AG.A22_MULTS
        )
    ]
    n_true = sum(1 for k in parts if k in member)
    n_fp = sum(1 for k in hits if k not in member)

    assert r["n_members"] == len(cust)
    assert r["n_probes"] == len(parts)
    assert r["n_bits_set"] == len(bits)
    assert r["n_hits"] == len(hits)
    assert r["n_true_members"] == n_true
    assert r["n_false_pos"] == n_fp
    assert r["n_missed"] == 0                      # no false negatives
    assert r["n_hits"] == r["n_true_members"] + r["n_false_pos"]
    assert 0 < r["n_bits_set"] <= 2 * r["n_members"]


# --- d20: per-document gram novelty ------------------------------------------


def test_d20_novelty_on_crafted_corpus(spark, tmp_path):
    """Hand-computable novelty: doc 1 is all-novel, doc 2 copies doc 1
    verbatim (zero novelty), doc 3 is half-copied, a short doc scores
    the vacuous 10000."""
    from a3_fp_bigdata_spark.operators import dedup as D
    from a3_fp_bigdata_spark.operators.dedup import DUPSPAN_K

    assert DUPSPAN_K == 8
    orig = " ".join(f"w{i}" for i in range(16))        # 9 grams, all novel
    fresh = " ".join(f"x{i}" for i in range(8))        # 1 gram, novel
    # doc 3: 8 copied tokens then 8 fresh -> 9 grams; only the first
    # (w0..w7) already exists; the 8 straddling/fresh grams are novel
    half = " ".join(f"w{i}" for i in range(8)) + " " + fresh
    rows = [
        (1, orig, "en", "crafted", len(orig)),
        (2, orig, "en", "crafted", len(orig)),          # verbatim copy
        (3, half, "en", "crafted", len(half)),
        (4, "tiny doc", "en", "crafted", 8),            # < K tokens
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_bp"])
        for r in D.d20_gram_novelty(spark, str(tmp_path)).collect()
    }
    assert out[1] == (9, 9, 10000)
    assert out[2] == (9, 0, 0)
    assert out[3] == (9, 8, 8 * 10000 // 9)
    assert out[4] == (0, 0, 10000)
