"""Near-duplicate clustering closure: connected components over candidate
pairs + drop_near_duplicates representative selection."""

import pytest
from pyspark.sql import functions as F

from dq_suite_amsterdam_spark.operators.dedup import (
    connected_components,
    drop_near_duplicates,
    minhash_lsh_candidates,
)


def _components(spark, pairs_rows, cap=50, stats=None, local_max_edges=None):
    pairs = spark.createDataFrame(pairs_rows, "id_a long, id_b long")
    frames = []
    try:
        return {
            r["id"]: r["component"]
            for r in connected_components(
                pairs,
                max_iterations=cap,
                persisted_frames=frames,
                stats=stats,
                local_max_edges=local_max_edges,
            ).collect()
        }
    finally:
        for f in frames:
            f.unpersist()


def test_transitive_chain_collapses(spark):
    # A~B, B~C but A!~C: near-duplication is not pairwise-transitive, the
    # closure must still treat the chain as ONE group
    comp = _components(spark, [(1, 2), (2, 3)])
    assert comp == {1: 1, 2: 1, 3: 1}


def test_multiple_components_and_min_representative(spark):
    comp = _components(spark, [(5, 9), (9, 2), (7, 8), (11, 12), (12, 11)])
    assert comp[5] == comp[9] == comp[2] == 2
    assert comp[7] == comp[8] == 7
    assert comp[11] == comp[12] == 11


def test_long_path_converges_via_pointer_jumping(spark):
    # a 33-vertex path graph: diameter 32, so plain neighbor-min would need
    # 32 rounds; pointer jumping must converge well inside max_iterations=10
    n = 33
    comp = _components(spark, [(i, i + 1) for i in range(n - 1)], cap=10)
    assert set(comp.values()) == {0}
    assert len(comp) == n


def test_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_drop_near_duplicates_keeps_one_per_component(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"] for r in drop_near_duplicates(df, pairs).collect()
    )
    # {1,2,3} -> keep 1; {5,6} -> keep 5; 4 and 7 untouched
    assert kept == [1, 4, 5, 7]


def test_closure_over_real_minhash_pairs(spark):
    # end-to-end: dup-heavy corpus -> LSH candidate pairs -> closure drops
    # every non-representative; each surviving doc's fingerprint group is
    # fully represented
    docs = [
        (i, "the quick brown fox jumps over the lazy dog " * 5 + str(i % 3))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = minhash_lsh_candidates(df, jaccard_threshold=0.5, n_hashes=16, bands=8)
    frames = []
    kept = drop_near_duplicates(df, pairs, persisted_frames=frames)
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    # docs agree on text except a 1-char suffix over a ~225-char body:
    # jaccard is ~1 within each of the 3 suffix classes and high across, so
    # at threshold 0.5 all 30 collapse into few components; representatives
    # must be component minima and no two kept docs may share a pair
    assert 0 in kept_ids
    assert len(kept_ids) <= 3
    pair_rows = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for a in kept_ids:
        for b in kept_ids:
            assert (a, b) not in pair_rows
    for f in frames:
        f.unpersist()


def test_no_leaked_persists_after_cleanup(spark):
    # against a baseline: other tests in the session may hold their own
    # cache entries; the closure itself must add nothing once cleaned up
    base = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    frames = []
    connected_components(pairs, persisted_frames=frames).count()
    for f in frames:
        f.unpersist()
    # <=: the async ContextCleaner may concurrently release OTHER tests'
    # GC'd checkpoint blocks, so the count can drop below the baseline —
    # the closure itself must just not ADD anything
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= base


def test_drop_near_duplicates_keep_best(spark):
    df = spark.createDataFrame(
        [
            (1, "short"),
            (2, "the much longer variant of this document"),
            (3, "mid length text"),
            (4, "unpaired"),
            (5, "tie a"),
            (6, "tie b"),  # equal length -> tie-break keeps smaller id 5
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    scored = df.withColumn("__len", F.length("text"))
    kept = sorted(
        r["doc_id"]
        for r in drop_near_duplicates(
            scored, pairs, keep="best", score_col="__len"
        ).collect()
    )
    assert kept == [2, 4, 5]  # longest of {1,2,3}; 4 untouched; tie -> 5
    # NULL score must never win: struct ordering sorts NULL-first, so the
    # guard flag has to demote unscored members below every real score
    df_null = spark.createDataFrame(
        [(1, None), (2, 900), (3, 5)], "doc_id long, quality long"
    )
    kept_null = sorted(
        r["doc_id"]
        for r in drop_near_duplicates(
            df_null,
            spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long"),
            keep="best",
            score_col="quality",
        ).collect()
    )
    assert kept_null == [2]  # highest real score, not the NULL
    with pytest.raises(ValueError, match="score_col"):
        drop_near_duplicates(df, pairs, keep="best")
    with pytest.raises(ValueError, match="unknown keep"):
        drop_near_duplicates(df, pairs, keep="newest")


def test_path_graph_10k_depth_bound(spark):
    """Adversarial-depth pin (VERDICT r04 item 7): a 10^4-vertex PATH graph
    — diameter 9,999, the worst case for label propagation — must converge
    in O(log2(diameter)) rounds thanks to pointer jumping, far under the
    default iteration budget (no large-star/small-star needed), and with
    no driver OOM (per-round localCheckpoint keeps every plan O(1))."""
    import math

    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    stats = {}
    frames = []
    comp = connected_components(
        pairs, persisted_frames=frames, stats=stats, local_max_edges=0
    )
    rows = comp.groupBy("component").count().collect()
    assert stats["converged"] and stats["last_changed"] == 0
    assert stats["rounds"] <= math.ceil(math.log2(n - 1)) + 6  # = 20
    assert len(rows) == 1 and rows[0]["component"] == 0
    assert rows[0]["count"] == n
    for f in frames:
        f.unpersist()


def test_unconverged_closure_warns(spark):
    # exhausting max_iterations must NOT silently return under-merged
    # labels: RuntimeWarning + stats.converged False
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    stats = {}
    with pytest.warns(RuntimeWarning, match="UNDER-MERGED"):
        connected_components(
            pairs, max_iterations=2, stats=stats, local_max_edges=0
        ).count()
    assert stats["converged"] is False and stats["rounds"] == 2
    assert stats["last_changed"] > 0


def test_keep_best_all_null_component_falls_back_to_min_id(spark):
    # a component whose members ALL have NULL scores keeps its smallest id
    # (documented fallback) instead of dropping the whole component
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (7, 4)],
        "doc_id long, quality long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"]
        for r in drop_near_duplicates(
            df, pairs, keep="best", score_col="quality"
        ).collect()
    )
    assert kept == [1, 7]


def test_minhash_stage_to_table_cache(spark, tmp_path):
    """cache="table:<path>" stages signatures as parquet: the candidate
    plan's leaf is a file scan of the staged table and NO CacheManager
    entry is added — the 10^9-doc path where signature frames exceed
    executor cache memory."""
    docs = [
        (i, "the quick brown fox jumps over the lazy dog " * 5 + str(i % 3))
        for i in range(24)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    staged = str(tmp_path / "sigs")
    base = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    pairs = minhash_lsh_candidates(
        df,
        jaccard_threshold=0.5,
        n_hashes=16,
        bands=8,
        cache=f"table:{staged}",
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["est_jaccard"]) for r in pairs.collect()
    )
    # <=: the async ContextCleaner may concurrently release OTHER tests'
    # blocks (see test_no_leaked_persists_after_cleanup) — table mode
    # itself must just not ADD a cache entry
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= base
    assert "sigs" in pairs._jdf.queryExecution().executedPlan().toString()
    # staged parquet is a real re-usable signature table
    sig = spark.read.parquet(staged)
    assert sig.columns == ["id", "sig"] and sig.count() == 24
    # identical pairs to the default persist path
    frames = []
    expect = sorted(
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_lsh_candidates(
            df,
            jaccard_threshold=0.5,
            n_hashes=16,
            bands=8,
            persisted_frames=frames,
        ).collect()
    )
    assert got == expect
    for f in frames:
        f.unpersist(blocking=True)  # blocking: the RDD count below must not race
    # ngram shingle staging shares the same helper
    from dq_suite_amsterdam_spark.operators.dedup import ngram_jaccard_pairs

    staged2 = str(tmp_path / "shingles")
    out = ngram_jaccard_pairs(df, threshold=0.9, cache=f"table:{staged2}")
    assert out.count() >= 1
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= base
    assert spark.read.parquet(staged2).columns == ["id", "sh"]
    with pytest.raises(ValueError, match="unknown cache mode"):
        minhash_lsh_candidates(df, cache="memcached:foo").count()


def test_near_duplicate_components_sizes(spark):
    from dq_suite_amsterdam_spark.operators.dedup import (
        near_duplicate_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    out = {
        r["component"]: r["n_members"]
        for r in near_duplicate_components(pairs).collect()
    }
    assert out == {1: 3, 5: 2}


def test_dedup_near_duplicates_one_call(spark):
    from dq_suite_amsterdam_spark.operators.dedup import dedup_near_duplicates

    docs = [
        (i, "the quick brown fox jumps over the lazy dog " * 5 + str(i % 3))
        for i in range(24)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    frames = []
    kept = dedup_near_duplicates(
        df,
        method="minhash",
        jaccard_threshold=0.5,
        n_hashes=16,
        bands=8,
        persisted_frames=frames,
    )
    n = kept.count()
    assert 1 <= n <= 3  # 3 near-identical suffix classes collapse
    assert kept.columns == ["doc_id", "text"]
    for f in frames:
        f.unpersist()
    with pytest.raises(ValueError, match="unknown method"):
        dedup_near_duplicates(df, method="embedding")


# -- distributed pointer-jumping loop ----------------------------------------


def test_jump_hub_graph_collapse(spark):
    # a 200-spoke hub: the high-degree shape, forced onto the distributed
    # loop — the whole neighborhood must land on the hub's min id
    stats = {}
    comp = _components(
        spark, [(100, 1000 + i) for i in range(200)], stats=stats,
        local_max_edges=0,
    )
    assert set(comp.values()) == {100}
    assert len(comp) == 201
    assert stats["converged"]


def test_jump_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(pairs, local_max_edges=0)
    assert out.count() == 0 and out.columns == ["id", "component"]


# -- driver-local fast path ---------------------------------------------------


def test_local_fast_path_matches_distributed(spark):
    import random

    random.seed(23)
    rows = [(i, i + 1) for i in range(40)]
    rows += [(random.randint(100, 140), random.randint(100, 140)) for _ in range(60)]
    rows = [(a, b) for a, b in rows]
    # jump: identical output local vs distributed (incl. self-loop vertices)
    rows_with_self = rows + [(999, 999)]
    local = _components(spark, rows_with_self)
    dist = _components(spark, rows_with_self, local_max_edges=0)
    assert local == dist
    assert local[999] == 999  # jump keeps self-loop-only vertices


def test_local_fast_path_stats_and_empty(spark):
    stats = {}
    comp = _components(spark, [(1, 2), (2, 3)], cap=50)
    assert comp == {1: 1, 2: 1, 3: 1}
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(pairs, stats=stats)
    assert out.count() == 0 and out.columns == ["id", "component"]
    assert stats["converged"] is True and stats["rounds"] == 0


def test_local_fast_path_null_ids_fall_back(spark):
    # NULL ids decline the local path; the distributed loop's NULL
    # semantics are preserved (no crash, NULL never joins)
    pairs = spark.createDataFrame(
        [(1, 2), (None, 3)], "id_a long, id_b long"
    )
    out = connected_components(pairs).collect()
    got = {r["id"]: r["component"] for r in out if r["id"] is not None}
    assert got[1] == 1 and got[2] == 1
