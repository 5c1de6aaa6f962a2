"""Corpus-size-derived index parameters (the k ∝ √n discipline).

An IVF/LSH index built for a 500-row test corpus and an index built for
a 10¹²-row production corpus differ in exactly one place: the handful of
integer knobs that size the structure (coarse cell count, hyperplane
count, MinHash band ladder). Pinning those at test scale makes the
candidate volume grow superlinearly with data — the round-9 sf1 replica
measured ann_incremental_ivf at ×13 wall on ×10 data from exactly this.
This module turns the "k grows with √n" comments into code: one
deterministic integer derivation per knob, with a DuckDB-SQL twin so
every oracle replays the SAME derivation the engine ran
(tests/test_scaling.py pins Python == DuckDB over a wide sweep of n).

Reference parity note: the reference engine (longoodr/deep-field) has no
ANN surface — these knobs exist for the training-data-pipeline operators
the brief adds on top. The derivations follow FAISS guidance (nlist ≈
√n; codebook size per subquantizer FIXED at 2^nbits regardless of corpus
— so PQ_K is deliberately NOT derived here) and the standard MinHash
S-curve t ≈ (1/b)^(1/r), held at 0.5 by keeping b = 2^r as r grows.

Derivations are floor-log2-based so they are exact integer arithmetic in
Python and exactly replayable in SQL: DuckDB's floor(log2(n)) equals
bit_length(n)-1 for every attainable corpus count (log2 of a power of
two is exact in IEEE double; a non-power's log2 is ≥2^-52 relative away
from the next integer for n < 2^52, so floor can never round across it).
"""

from __future__ import annotations

# Floors (the current test-scale constants): derivation never goes
# BELOW the pinned value, so every scale factor whose corpus is small
# enough resolves to the historical constant and existing oracle
# results are unchanged there (sf0.001/sf0.01: 500 embeddings -> 16
# cells / 6 planes / (b=4, r=2), byte-identical to rounds 1-9).
MIN_CELLS = 16
MIN_PLANES = 6
# per-bucket occupancy target for sign-LSH: buckets ≈ n / 2**PLANES_LOG_OFFSET
PLANES_LOG_OFFSET = 3


def floor_log2(n: int) -> int:
    """⌊log2 n⌋ as exact integer arithmetic (n ≥ 1)."""
    if n < 1:
        raise ValueError(f"corpus count must be >= 1, got {n}")
    return n.bit_length() - 1


def n_cells(n: int) -> int:
    """IVF coarse-cell count for an n-row corpus: the largest power of
    two ≤ √n, floored at MIN_CELLS — FAISS's nlist ≈ √n rule quantized
    to powers of two so the derivation is branch-free integer math.
    Cell size and probed-candidate volume both track √n, so per-query
    serve cost is O(nprobe·√n) at every scale instead of O(nprobe·n/16).
    500 → 16, 2 000 → 32, 20 000 → 128, 10⁹ → 16 384."""
    return max(MIN_CELLS, 1 << (floor_log2(n) // 2))


def n_planes(n: int) -> int:
    """Sign-LSH hyperplane count: buckets 2^p ≈ n/8 (expected bucket
    occupancy ~2³), floored at MIN_PLANES. Within-bucket brute force is
    then O(n·occupancy) total — linear in n — instead of O(n²/2^p) with
    p pinned. Recall per bucket drops as p grows; multi-probe (already
    implemented) is the standard counter-knob. 500 → 6, 2 000 → 7,
    20 000 → 11."""
    return max(MIN_PLANES, floor_log2(n) - PLANES_LOG_OFFSET)


# MinHash ladder: (bands, rows) with b = 2^r so the S-curve threshold
# (1/b)^(1/r) stays exactly 0.5 at every rung; escalating r sharpens
# the curve and cuts random band-collisions as the corpus grows.
_MINHASH_LADDER = (
    (1 << 14, (4, 2)),   # n < 16 384  -> 8 hashes  (the test-scale pin)
    (1 << 20, (8, 3)),   # n < 1 048 576 -> 24 hashes
    (None, (16, 4)),     # beyond      -> 64 hashes
)


def minhash_params(n: int) -> tuple[int, int]:
    """(bands, rows_per_band) for an n-document corpus. num_hashes =
    bands*rows. 500 → (4, 2) unchanged from rounds 1-9; 50 000 → (8, 3);
    10⁷ → (16, 4)."""
    for cutoff, br in _MINHASH_LADDER:
        if cutoff is None or n < cutoff:
            return br
    raise AssertionError("unreachable")


# --- DuckDB twins ------------------------------------------------------
# Each returns a scalar-subquery SQL fragment deriving the SAME integer
# from count(*) of the given relation. floor(log2(count)) == bit_length-1
# (see module docstring), // is DuckDB integer division.
#
# Form note: the WHOLE derivation lives inside ONE uncorrelated scalar
# subquery — ``(SELECT greatest(...) FROM src)`` — not an expression
# wrapping an inner ``(SELECT count(*) ...)``. The two are
# value-identical, but DuckDB executes the single-subquery form once
# per query while the wrapped form re-evaluates per row wherever the
# fragment is embedded in a per-row context (the _bucket_sql plane
# gates measured 6.5 s -> 2.5 s at sf0.01 from this one change; values
# pinned identical by tests/test_scaling.py's cross-engine sweep).

def _floor_log2_count_sql() -> str:
    """floor(log2(count(*))) as an aggregate-context expression — for
    use INSIDE a single-scalar-subquery twin (see form note)."""
    return "CAST(floor(log2(CAST(count(*) AS DOUBLE))) AS BIGINT)"


def n_cells_sql(count_src: str = "embeddings") -> str:
    return (
        f"(SELECT greatest({MIN_CELLS}, "
        f"CAST(pow(2, {_floor_log2_count_sql()} // 2) AS BIGINT)) "
        f"FROM {count_src})"
    )


def n_planes_sql(count_src: str = "embeddings") -> str:
    return (
        f"(SELECT greatest({MIN_PLANES}, {_floor_log2_count_sql()} "
        f"- {PLANES_LOG_OFFSET}) FROM {count_src})"
    )


def _ladder_case_sql(count_src: str, idx: int) -> str:
    # branches generated FROM _MINHASH_LADDER (single definition — a
    # rung edit cannot leave the SQL twins stale; review finding);
    # single-scalar-subquery form (see form note above)
    branches = " ".join(
        f"WHEN count(*) < {cutoff} THEN {br[idx]}"
        for cutoff, br in _MINHASH_LADDER
        if cutoff is not None
    )
    return (
        f"(SELECT CASE {branches} "
        f"ELSE {_MINHASH_LADDER[-1][1][idx]} END FROM {count_src})"
    )


def minhash_bands_sql(count_src: str = "documents") -> str:
    return _ladder_case_sql(count_src, 0)


def minhash_rows_sql(count_src: str = "documents") -> str:
    return _ladder_case_sql(count_src, 1)


# --- hierarchical coarse assignment --------------------------------------
# The full-corpus ASSIGNMENT pass is O(n·k) against the flat centroid
# table; with k ≈ √n that is O(n^1.5) total multiply-adds. The standard
# counter (FAISS's hierarchical / ANN coarse quantizers) is two-level:
# score the vector against g ≈ √k SUPER-centroids, then exactly against
# only the winning super-cell's child centroids — O(g + k/g) ≈ O(√k)
# per vector. g is the largest power of two ≤ √k (16 → 4, 128 → 8,
# 16 384 → 128); at the 16-cell test floor the split saves little by
# construction, which is why exact flat assignment stays the serving
# default and the hier path is the measured alternative a large build
# flips to (ann_hier_assign charts the agreement/cost trade).


def n_super(k: int) -> int:
    """Super-centroid count for a k-cell coarse quantizer."""
    return 1 << (floor_log2(k) // 2)


def n_super_sql(k_sql: str) -> str:
    # k is a power of two by construction (n_cells), so log2 is exact
    return (
        f"CAST(pow(2, CAST(floor(log2(CAST(({k_sql}) AS DOUBLE))) "
        f"AS BIGINT) // 2) AS BIGINT)"
    )


# --- bounded deterministic training sample ------------------------------
# Lloyd/PQ TRAINING cost was the last O(n·k) full-corpus pass
# (r10 verdict: at n=10⁹ / k=16 384 that is ~10¹³ multiply-adds per
# iteration). Standard practice (FAISS Clustering.max_points_per_
# centroid) trains on a bounded per-centroid sample and only ASSIGNS
# the full corpus. The sample here is deterministic and exactly
# replayable cross-engine: keep a vector iff
#
#     u32(md5(tag:vec_id)) * n_src  <  cap * 2^32     (all BIGINT)
#
# — a scan-level filter (no global sort, no shuffle, pushdown-able;
# the md5-top-N alternative would funnel cap rows through one
# TakeOrderedAndProject node at every scale) — OR the vector is a
# first-k seed (vec_id < k), so the deterministic init never loses a
# centroid to sampling. Expected sample size ≈ cap. When n_src <= cap
# the inequality holds for EVERY u32 < 2^32 (n·(2^32−1) < cap·2^32 ⟸
# n <= cap), so the predicate keeps the whole relation and results are
# byte-identical to the unsampled form — every gate-scale corpus
# resolves there, exactly the MIN_CELLS-floor discipline.
# Overflow audit: u32 < 2^32 and n_src < 2^31 keep both products
# < 2^63.
TRAIN_PER_CELL = 64    # coarse-quantizer vectors per centroid (FAISS
#                        guidance: 39–256; 64 keeps the sf1 replica on
#                        the binding branch so the bound is TESTED, not
#                        just derived)
TRAIN_PER_CODE = 256   # PQ-codebook vectors per codeword (FAISS
#                        ProductQuantizer default)
_U32_SCALE = 1 << 32


def train_cap(k: int, per: int = TRAIN_PER_CELL) -> int:
    """Training-sample target size for a k-centroid quantizer."""
    return per * k


def train_cap_sql(k_sql: str, per: int = TRAIN_PER_CELL) -> str:
    return f"({per} * ({k_sql}))"


def _u32_from_hex_sql(hex_expr: str) -> str:
    """BIGINT from the first 8 hex chars of ``hex_expr`` — DuckDB has
    no base-16 conv(), so decode digit-by-digit (the curation
    _BUCKET_FROM_H_SQL idiom, widened to 32 bits)."""
    terms = " + ".join(
        f"CAST(strpos('0123456789abcdef', substring({hex_expr}, {i + 1}, 1))"
        f" - 1 AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"


def train_sample_pred_sql(
    tag: str,
    count_src: str,
    cap_sql: str,
    id_expr: str = "vec_id",
    seed_lt_sql: str | None = None,
) -> str:
    """SQL predicate replaying the Python training-sample membership
    test for row id ``id_expr`` of a relation with count(*) =
    ``count_src``'s count. ``seed_lt_sql``: the first-k seed override
    (``id < k`` rows are always kept)."""
    h = f"md5('{tag}:' || CAST({id_expr} AS VARCHAR))"
    pred = (
        f"{_u32_from_hex_sql(h)} * (SELECT count(*) FROM {count_src}) "
        f"< CAST({cap_sql} AS BIGINT) * {_U32_SCALE}"
    )
    if seed_lt_sql is not None:
        pred = f"({id_expr} < {seed_lt_sql} OR {pred})"
    return pred


def train_sample_u32(tag: str, vec_id: int) -> int:
    """Python replay of the hash leg (for tests / driver-free checks)."""
    import hashlib

    h = hashlib.md5(f"{tag}:{vec_id}".encode()).hexdigest()
    return int(h[:8], 16)


# --- state-table bucket layout -----------------------------------------
# Bucketed state tables (ivf_state / lsh_state) target ~2^20 rows per
# bucket: enough to keep per-bucket files in the 100 MB class at
# production row widths, few enough that the one-file-per-bucket
# compaction contract stays manageable. Pure layout knob — bucket
# count never changes query RESULTS (both engines are blind to it), so
# there is no SQL twin; the persisted _bucket_spec.json remains the
# source of truth for attach/ingest/compact after build.
MIN_STATE_BUCKETS = 8
STATE_ROWS_PER_BUCKET_LOG = 20


def n_state_buckets(n: int) -> int:
    """Bucket count for an n-row state table: n / 2^20 quantized to a
    power of two, floored at MIN_STATE_BUCKETS (every test scale factor
    resolves to the floor; 10^9 rows -> 512 buckets)."""
    return max(
        MIN_STATE_BUCKETS,
        1 << max(0, floor_log2(n) - STATE_ROWS_PER_BUCKET_LOG),
    )


# --- corpus count ----------------------------------------------------
def corpus_count(spark, sf_dir: str, tbl: str = "embeddings") -> int:
    """Row count of one input table, once per session: a metadata-scale
    count at index-build time (when a real index builder sizes nlist),
    memoized so the registry's many per-query plan builds don't
    re-count."""
    from ..catalog import table as _table
    from ..operators import memo

    return memo.get(
        spark,
        ("corpus_count", sf_dir, tbl),
        lambda: _table(spark, sf_dir, tbl).count(),
    )


# --- iterative-loop layout ----------------------------------------------
# Partition count for a loop's pinned state/edge layout (PageRank-style
# rounds re-join the same table every iteration). A constant tuned for
# either local mode or a cluster is wrong at the other end: 32 partitions
# of a 23 MB edge table cost ~6 scheduled stages x 32 tasks per round in
# pure overhead (measured: the sf0.1 PageRank loop ran ~40% faster at 5
# partitions than at 32), while one partition of a 10 TB edge table is a
# single-task straggler. Derive from the data: enough partitions to give
# every core ~LOOP_MIN_ROWS_PER_TASK rows while the data is small, and at
# least one partition per LOOP_TARGET_PARTITION_BYTES once it is big.
LOOP_TARGET_PARTITION_BYTES = 64 * 1024 * 1024
LOOP_MIN_ROWS_PER_TASK = 250_000


def loop_partitions(spark, n_rows: int, row_bytes: int) -> int:
    """Scale-adaptive partition count for an iterative loop's pinned
    layout: max(rows-per-core floor capped at the core count, bytes /
    64 MB). ``n_rows`` may be a cheap upper bound (e.g. a parquet
    metadata count of the pre-join input); partitioning affects only
    cost, never results."""
    cores = spark.sparkContext.defaultParallelism
    by_rows = min(cores, -(-n_rows // LOOP_MIN_ROWS_PER_TASK))
    by_bytes = -(-(n_rows * row_bytes) // LOOP_TARGET_PARTITION_BYTES)
    return max(1, by_rows, by_bytes)


# --- build-assignment plan (flat vs two-level) --------------------------
# The round-12 serving-recall measurement (SCALE.md, ann_hier_recall):
# a hier p=2 build serves at ZERO recall@5 loss for nprobe >= 2 on the
# worst-case (near-uniform) corpus, while two-level assignment scores
# (1+p)·√k centroids per vector instead of k. The saving factor is
# (1+p)/√k — real at every k but only WORTH the second quantizer (a
# super-table artifact, a persisted probe-width spec, a childless-super
# guard) once it is large: at the k=1024 threshold p=2 cuts >= 90% of
# build-assignment comparisons; below it flat assignment is cheap,
# exact, and artifact-free. Serving is unaffected either way — the
# persisted cell layout is identical; only cell MEMBERSHIP near
# boundaries differs, which nprobe >= 2 absorbs (the measured zero).
HIER_MIN_CELLS = 1024
HIER_SUPER_PROBES = 2


def assign_super_probes(k: int) -> int:
    """Level-1 multi-probe width a k-cell build should assign with:
    0 = flat exact assignment (the small-k default), else the
    super_probes knob for ivf_state.build(supers=..., super_probes=p).
    Single-probe hier (p=1) is never recommended — it measured a
    −0.125 recall@5 cost even at nprobe 4 (ann_hier_recall)."""
    return HIER_SUPER_PROBES if k >= HIER_MIN_CELLS else 0


def assign_super_probes_sql(k_sql: str) -> str:
    return (
        f"(CASE WHEN ({k_sql}) >= {HIER_MIN_CELLS} "
        f"THEN {HIER_SUPER_PROBES} ELSE 0 END)"
    )
