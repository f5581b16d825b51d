"""The shared pin() helper and the reliable_checkpoint threading
(VERDICT r10 item 2): every iterative/pinning hot path must offer the
fault-tolerant reliable-checkpoint escape hatch, produce IDENTICAL
results in both modes, and actually write checkpoint files when
reliable=True."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from skoltexter_by_ai_spark.operators import dedup
from skoltexter_by_ai_spark.operators.pinning import pin


def _ckpt_files(root: str) -> list[str]:
    return [
        name
        for r, _, files in os.walk(root)
        for name in files
        if name.startswith("part-")
    ]


@pytest.fixture()
def ckpt_dir(spark, tmp_path):
    d = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(d)
    return d


def test_pin_local_default_matches_input(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = pin(df)
    assert sorted(r.v for r in out.collect()) == sorted(r.v for r in df.collect())


def test_pin_reliable_requires_checkpoint_dir(spark, monkeypatch):
    # The guard must raise OUR actionable message when no checkpoint
    # dir is configured (session-scoped fixture may have one from an
    # earlier test, so simulate the unset state).
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "getCheckpointDir", lambda self: None)
    with pytest.raises(ValueError, match="setCheckpointDir"):
        pin(spark.range(10), reliable=True)


def test_pin_reliable_writes_files_and_matches(spark, ckpt_dir):
    df = spark.range(1000).withColumn("v", F.xxhash64("id"))
    out = pin(df, reliable=True)
    assert sorted(r.v for r in out.collect()) == sorted(r.v for r in df.collect())
    assert _ckpt_files(ckpt_dir), "reliable pin produced no checkpoint files"


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "spark engines process completely different text"),
        (6, "a lone document"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_clusters_reliable_parity(spark, ckpt_dir):
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"])
    want = {r.doc_id: r.cluster for r in dedup.dedup_clusters(ids, pairs, "doc_id").collect()}
    got = {
        r.doc_id: r.cluster
        for r in dedup.dedup_clusters(
            ids, pairs, "doc_id", reliable_checkpoint=True
        ).collect()
    }
    assert got == want == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    assert _ckpt_files(ckpt_dir)


def test_ngram_jaccard_reliable_parity(spark, ckpt_dir):
    base = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in dedup.ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", n=2, max_df=10
        ).collect()
    )
    rel = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in dedup.ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", n=2, max_df=10, reliable_checkpoint=True
        ).collect()
    )
    assert rel == base and base


def test_robust_zscore_reliable_parity_both_paths(spark, ckpt_dir):
    from skoltexter_by_ai_spark.operators.curation import robust_zscore

    rows = [(g, float(v)) for g in ("a", "b") for v in range(1, 30)] + [
        ("a", 1000.0),
        ("c", 5.0),
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    for fused in (True, False):
        want = sorted(
            (r.g, r.v, r.grp_median, r.grp_mad, r.robust_z)
            for r in robust_zscore(df, "v", "g", fused=fused).collect()
        )
        got = sorted(
            (r.g, r.v, r.grp_median, r.grp_mad, r.robust_z)
            for r in robust_zscore(
                df, "v", "g", fused=fused, reliable_checkpoint=True
            ).collect()
        )
        assert got == want and want


def test_winsorize_reliable_parity(spark, ckpt_dir):
    from skoltexter_by_ai_spark.operators.curation import winsorize

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 50)] + [("b", 9.0), ("b", 99.0)], ["g", "v"]
    )
    want = sorted(
        (r.g, r.v, r.v_w, r.v_lo, r.v_hi) for r in winsorize(df, "v", "g").collect()
    )
    got = sorted(
        (r.g, r.v, r.v_w, r.v_lo, r.v_hi)
        for r in winsorize(df, "v", "g", reliable_checkpoint=True).collect()
    )
    assert got == want and want


def test_token_vocabulary_and_divergence_reliable_parity(spark, ckpt_dir):
    from skoltexter_by_ai_spark.operators.text_analysis import (
        source_token_divergence,
        token_vocabulary,
    )

    df = _docs(spark).withColumn("src", F.when(F.col("doc_id") <= 3, "x").otherwise("y"))
    want = sorted(map(tuple, token_vocabulary(df, "doc_id", "text").collect()))
    got = sorted(
        map(
            tuple,
            token_vocabulary(df, "doc_id", "text", reliable_checkpoint=True).collect(),
        )
    )
    assert got == want and want
    dwant = sorted(map(tuple, source_token_divergence(df, "src", "text").collect()))
    dgot = sorted(
        map(
            tuple,
            source_token_divergence(
                df, "src", "text", reliable_checkpoint=True
            ).collect(),
        )
    )
    assert dgot == dwant and dwant


def test_learn_bpe_merges_reliable_parity(spark, ckpt_dir):
    from skoltexter_by_ai_spark.operators.text_analysis import learn_bpe_merges

    df = _docs(spark)
    want = learn_bpe_merges(df, "text", 6, checkpoint_every=2)
    got = learn_bpe_merges(df, "text", 6, checkpoint_every=2, reliable_checkpoint=True)
    assert got == want and len(want) == 6


def test_distributed_prefix_sum_reliable_parity(spark, ckpt_dir):
    from skoltexter_by_ai_spark.operators.skew import distributed_prefix_sum

    df = spark.range(200).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    want = sorted(
        (r.k, r.running_total)
        for r in distributed_prefix_sum(df, ["k"], "v").collect()
    )
    got = sorted(
        (r.k, r.running_total)
        for r in distributed_prefix_sum(
            df, ["k"], "v", reliable_checkpoint=True
        ).collect()
    )
    assert got == want and want


def test_release_candidate_cache_via_explicit_handle(spark):
    """ADVICE r10: a TRANSFORMED incremental_near_dups result no longer
    carries the _sg_persisted attribute; the explicit handle from
    return_cache_handle=True must still release the cache."""
    existing = _docs(spark)
    incoming = spark.createDataFrame(
        [(11, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    out, handle = dedup.incremental_near_dups(
        existing, incoming, "doc_id", "text", return_cache_handle=True
    )
    transformed = out.filter(F.col("jaccard") >= 0.9).select("new_id", "existing_id")
    assert transformed.count() >= 1
    # the transformed frame lost the attribute -> attribute path no-ops
    assert dedup.release_candidate_cache(transformed) is False
    assert handle.storageLevel.useMemory or handle.storageLevel.useDisk
    assert dedup.release_candidate_cache(handle=handle) is True
    lvl = handle.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("reliable", [False, True])
def test_scoped_pin_releases_its_entry_on_exit(spark, ckpt_dir, reliable):
    """A build-scoped pin leaves nothing in the CacheManager, in either
    mode: a leaked entry could be served to the next identical plan."""
    from skoltexter_by_ai_spark.operators.pinning import scoped_pin

    spark.catalog.clearCache()
    df = spark.range(100).withColumn("v", F.col("id") * 3)
    with scoped_pin(df, reliable=reliable) as pinned:
        assert pinned.count() == 100
        assert not _cache_manager_empty(spark)
    assert _cache_manager_empty(spark)


def test_scoped_pin_releases_its_entry_on_exception(spark):
    from skoltexter_by_ai_spark.operators.pinning import scoped_pin

    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="mid-build"):
        with scoped_pin(spark.range(10)) as pinned:
            pinned.count()
            raise RuntimeError("mid-build")
    assert _cache_manager_empty(spark)


@pytest.mark.parametrize("fused", [True, False])
def test_robust_zscore_guard_failure_leaves_no_cache_entry(spark, fused):
    """An off-grid value fails the grid guard mid-action; the narrow
    projection robust_zscore cached for its two rounds must still be
    released."""
    from skoltexter_by_ai_spark.operators.curation import robust_zscore

    spark.catalog.clearCache()
    df = spark.createDataFrame(
        [("a", 0.123456), ("a", 1.0), ("b", 2.0)], "g string, v double"
    )
    with pytest.raises(Exception, match="grid"):
        robust_zscore(df, "v", "g", scale=100, fused=fused).collect()
    assert _cache_manager_empty(spark)
