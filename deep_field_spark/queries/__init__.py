"""Named query registry.

Every implemented operator from SURVEY.md §2 (plus the training-data
pipeline operators) registers here as a ``Query``: a Spark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a DuckDB
oracle SQL string over the same parquet tables. The driver contract
(``__spark_entry__.py``) is a thin view over this registry.

Column-name discipline: the Spark DataFrame and the oracle SQL must
produce identical column names (the driver sorts columns by name before
value-hashing) — alias everything on both sides.

Float discipline: aggregates over doubles are rounded (2 dp for money,
4-6 dp for ratios) on BOTH sides so summation-order ulp differences
between Spark and DuckDB cannot flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "Query"] = {}


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for non-SQL-expressible ops
    doc: str = ""


def _materialize_ctes(sql: str) -> str:
    """Rewrite every ``name AS (`` CTE head to ``name AS MATERIALIZED
    (`` — a DuckDB-only evaluation hint (identical results, pinned by
    the same oracle sweep that pins everything else). Without it
    DuckDB re-INLINES a CTE at every reference, so an oracle whose
    final SELECT reads a deep chain (the Lloyd/PQ trainers, the
    recall pivots) re-runs the whole upstream pipeline once per
    scalar subquery — ann_ivfpq_residual_recall measured 14.7 s -> 1.0
    s and ann_cell_split 37 s -> 0.3 s at sf0.01 from this one hint.
    Applied centrally so every oracle (and every future one) gets the
    linear-evaluation behavior the Spark side already has; heads
    already written MATERIALIZED are left untouched. The body
    lookahead (SELECT/VALUES/FROM/WITH) is what distinguishes a CTE
    head from a named-WINDOW definition (``WINDOW w AS (PARTITION
    ...)``), which must NOT take the keyword."""
    import re

    return re.sub(
        r"\b([A-Za-z_][A-Za-z0-9_]*\s+AS)\s+\(\s*(?=SELECT|VALUES|FROM|WITH)",
        r"\1 MATERIALIZED (",
        sql,
        flags=re.IGNORECASE,
    )


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=None if oracle is None else _materialize_ctes(oracle),
            doc=doc or (fn.__doc__ or ""),
        )
        return fn

    return deco


_LOADED = False

# Evaluation order. A driver walks queries() in dict order under a time
# budget, so the highest-information queries come first: oracle-checked
# queries with the least green driver evidence, then the no-oracle
# scrape fixtures. Unlisted names follow in import order.
_PRIORITY = [
    "scrape_core_resolved_plays", "events_anomaly_mad",
    "dedup_containment", "corpus_weighted_sample",
    "multimodal_video_luma", "corpus_split_dedup_aware",
    "dedup_incremental_minhash", "ann_ivfpq_search",
    "multimodal_audio_rms", "corpus_perplexity_buckets_approx",
    "embedding_hard_negatives", "ann_ivf_recall", "ann_ivf_filtered",
    "ann_filtered_recall", "ann_ivfpq_recall", "streaming_drift_psi",
    "ann_ivfpq_incremental", "streaming_ann_serve",
    "dq_distribution_drift_approx", "ann_ivfpq_residual_recall",
    "dedup_minhash_recall_sample", "join_skew_salted", "ann_ivf_autok",
    "dedup_minhash_autok", "ann_train_autocap", "ann_hier_assign",
    "decontam_bloom", "ann_hier_recall", "ann_cell_split",
    "ann_cell_merge", "ann_ivf_kmeans", "ann_lsh_bucket",
    "ann_lsh_multiprobe", "ann_recall_report", "dedup_semantic",
    "decontam_embedding", "embedding_pq_codes", "ann_pq_adc_search",
    "corpus_split_leakage", "curation_quality_train", "graph_pagerank",
    "corpus_novelty_profile", "ann_incremental_ivf",
    "text_vocab_coverage", "retrieval_rrf_fusion",
    "retrieval_eval_ndcg", "dedup_tfidf_allpairs",
    "decontam_union_report", "streaming_dedup_ingest",
    "ann_mips_reduction", "scrape_star_plays", "scrape_star_games",
    "scrape_player_dim", "multimodal_feature_extract",
]


def load_registry() -> dict[str, Query]:
    """Import all query modules (side effect: populate REGISTRY)."""
    global _LOADED
    if not _LOADED:
        from . import relational  # noqa: F401
        from . import text  # noqa: F401
        from . import curation  # noqa: F401
        from . import dedup  # noqa: F401
        from . import similarity  # noqa: F401
        from . import events  # noqa: F401
        from . import graph  # noqa: F401
        from . import multimodal  # noqa: F401
        from . import scrape  # noqa: F401
        from . import udfs  # noqa: F401
        ordered = {n: REGISTRY[n] for n in _PRIORITY if n in REGISTRY}
        ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
        REGISTRY.clear()
        REGISTRY.update(ordered)
        _LOADED = True
    return REGISTRY
