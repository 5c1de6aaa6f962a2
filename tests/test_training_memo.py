"""Session-scoped training memo (queries/similarity._memo_train):
coverage of the bench's explicit warm-up and the bit-identical
contract a memo hit promises."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deep_field_spark.catalog import spread, table
from deep_field_spark.operators import memo
from deep_field_spark.queries import load_registry
from deep_field_spark.queries import similarity as S

REGISTRY = load_registry()


def _train_keys() -> set:
    return {k for k in memo._ENTRIES if k[1] == "train"}


@pytest.mark.slow
def test_warm_covers_every_training_family(spark, sf_dir):
    """warm_training_memo must train EVERY family the registered
    queries consume — a consumer training a key the warm-up missed
    would silently reintroduce order-dependent bench timings. Proven
    by running the full consumer surface after the warm and asserting
    the memo gained no entries."""
    for k in _train_keys():
        del memo._ENTRIES[k]
    rows = S.warm_training_memo(spark, sf_dir)
    assert set(rows) == {
        "train.lloyd_full", "train.lloyd_prefix", "train.lloyd_sem_aug",
        "train.lloyd_super",
        "train.pq_raw", "train.pq_norm", "train.pq_norm_prefix",
        "train.cell_asg", "train.rcent", "train.pq_resid",
    }
    warmed = _train_keys()
    consumers = [
        "ann_ivf_kmeans", "ann_ivf_recall", "ann_ivf_filtered",
        "ann_filtered_recall", "ann_ivfpq_recall", "ann_ivfpq_search",
        "ann_incremental_ivf", "ann_ivfpq_incremental", "dedup_semantic",
        "embedding_pq_codes", "ann_pq_adc_search",
        "ann_ivfpq_residual_recall",
        "ann_train_autocap", "ann_hier_assign",
    ]
    for name in consumers:
        REGISTRY[name].fn(spark, sf_dir).count()
        assert _train_keys() == warmed, (
            f"{name} trained a family warm_training_memo missed: "
            f"{_train_keys() - warmed}"
        )


def test_memo_result_bit_identical_to_direct_training(spark, sf_dir):
    """A memo hit must return the exact rows a rebuild would — the
    determinism claim the zero-oracle-change argument rests on."""
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    direct = {
        (r.cid, tuple(r.c_emb))
        for r in S._lloyd_centroids(emb, k=16).collect()
    }
    memo = {
        (r.cid, tuple(r.c_emb))
        for r in S._memo_train(
            spark, ("lloyd_full", sf_dir), lambda: S._lloyd_centroids(emb, k=16)
        ).collect()
    }
    assert memo == direct


def test_memo_survives_catalog_clear_cache(spark, sf_dir):
    """The bench's hermetic min-of-2 rerun calls
    spark.catalog.clearCache() — the memo's localCheckpoint is
    RDD-level storage, not a CacheManager entry, so it must survive
    (the deliberate production-amortization exception)."""
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    df = S._memo_train(
        spark, ("lloyd_full", sf_dir), lambda: S._lloyd_centroids(emb, k=16)
    )
    before = df.count()
    spark.catalog.clearCache()
    assert S._memo_train(
        spark,
        ("lloyd_full", sf_dir),
        lambda: (_ for _ in ()).throw(AssertionError("retrained")),
    ).count() == before
