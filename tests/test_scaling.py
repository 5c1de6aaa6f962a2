"""Python/DuckDB parity of the corpus-size-derived index parameters
(functions/scaling.py) — the derivation every autok oracle replays —
plus the monotone-growth contracts the √n story depends on."""

from __future__ import annotations

import duckdb
import pytest

from deep_field_spark.functions import scaling as SC

# log sweep + power-of-two boundaries (the floor(log2) edge the module
# docstring argues about) + ladder cutoffs ± 1
_SWEEP = sorted(
    {
        *(int(1.7**k) for k in range(1, 40)),
        *(1 << k for k in range(0, 41)),
        *((1 << k) - 1 for k in range(1, 41)),
        *((1 << k) + 1 for k in range(1, 41)),
        (1 << 14) - 1, 1 << 14, (1 << 14) + 1,
        (1 << 20) - 1, 1 << 20, (1 << 20) + 1,
        500, 2000, 5000, 20000, 50000,
    }
)


def test_python_matches_duckdb_over_sweep():
    """The arithmetic of the SQL twins, with the count scalar-subquery
    textually replaced by each sweep literal (materializing range(2^40)
    just to count it is not the point — the subquery plumbing itself is
    covered by the small-n view test below)."""
    con = duckdb.connect()
    for n in _SWEEP:
        cells, planes, bands, rows = con.execute(
            "SELECT "
            + ", ".join(
                # the twins are single scalar subqueries over the
                # counted relation (see scaling.py form note): swap the
                # aggregate for the sweep literal and drop the FROM
                frag.replace("count(*)", str(n)).replace(
                    " FROM corpus)", ")"
                )
                for frag in (
                    SC.n_cells_sql("corpus"),
                    SC.n_planes_sql("corpus"),
                    SC.minhash_bands_sql("corpus"),
                    SC.minhash_rows_sql("corpus"),
                )
            )
        ).fetchone()
        b, r = SC.minhash_params(n)
        assert cells == SC.n_cells(n), f"n_cells diverges at n={n}"
        assert planes == SC.n_planes(n), f"n_planes diverges at n={n}"
        assert (bands, rows) == (b, r), f"minhash ladder diverges at n={n}"


def test_scalar_subquery_form_on_real_relation():
    con = duckdb.connect()
    for n in (500, 2000, 20000):
        con.execute("CREATE OR REPLACE VIEW corpus AS "
                    f"SELECT * FROM range({n})")
        cells, planes = con.execute(
            f"SELECT {SC.n_cells_sql('corpus')}, {SC.n_planes_sql('corpus')}"
        ).fetchone()
        assert cells == SC.n_cells(n)
        assert planes == SC.n_planes(n)


def test_floors_hold_at_gate_scale_factors():
    """sf0.001/sf0.01 corpora (500 rows) must resolve to the historical
    constants so the rounds-1-9 oracle results are unchanged there."""
    assert SC.n_cells(500) == 16
    assert SC.n_planes(500) == 6
    assert SC.minhash_params(500) == (4, 2)
    # and the documented growth points
    assert SC.n_cells(2000) == 32
    assert SC.n_cells(20000) == 128
    assert SC.n_planes(20000) == 11
    assert SC.minhash_params(50000) == (8, 3)


def test_monotone_and_sqrt_tracking():
    prev_c = prev_p = 0
    for n in _SWEEP:
        c, p = SC.n_cells(n), SC.n_planes(n)
        assert c >= prev_c and p >= prev_p, f"non-monotone at n={n}"
        prev_c, prev_p = c, p
        if n >= 1024:
            # power-of-two quantized sqrt: within [sqrt(n)/2, sqrt(n)]
            assert c * c <= n < (2 * c) * (2 * c)
    # MinHash S-curve threshold (1/b)^(1/r) == 0.5 at every rung
    for _, (b, r) in SC._MINHASH_LADDER:
        assert (1 / b) ** (1 / r) == pytest.approx(0.5)


def test_count_memo_is_session_scoped(spark, sf_dir):
    from deep_field_spark.operators import memo

    key = (spark.sparkContext.applicationId, "corpus_count", sf_dir,
           "embeddings")
    memo._ENTRIES.pop(key, None)
    n1 = SC.corpus_count(spark, sf_dir, "embeddings")
    assert n1 > 0
    assert memo._ENTRIES[key] == n1
    memo._ENTRIES[key] = -7  # poison: a second call must be a memo hit
    assert SC.corpus_count(spark, sf_dir, "embeddings") == -7
    del memo._ENTRIES[key]
    assert SC.corpus_count(spark, sf_dir, "embeddings") == n1


def test_state_bucket_layout_derivation():
    """Pure layout knob (no SQL twin — bucket count never changes
    results): ~2^20 rows per bucket, power-of-two, floored at 8."""
    assert SC.n_state_buckets(1) == 8
    assert SC.n_state_buckets(500) == 8
    assert SC.n_state_buckets(20_000) == 8
    assert SC.n_state_buckets(1 << 23) == 8
    assert SC.n_state_buckets(1 << 24) == 16
    assert SC.n_state_buckets(10**9) == 512
    prev = 0
    for n in _SWEEP:
        b = SC.n_state_buckets(n)
        assert b >= prev and b & (b - 1) == 0
        prev = b


def test_loop_partitions_scale_adaptive(spark):
    """Pure layout knob (no SQL twin — partition count never changes
    results): fills the cores at a 250k-row floor per task while data
    is small, grows with bytes/64MB once data is big, never below 1."""
    cores = spark.sparkContext.defaultParallelism
    # tiny loop state: one partition, not one per core
    assert SC.loop_partitions(spark, 1_000, 24) == 1
    # the sf0.1 PageRank shape: ~1.2M edge rows -> a handful of tasks
    assert SC.loop_partitions(spark, 1_200_000, 24) == min(cores, 5)
    # big data: bytes term dominates and exceeds the core count
    big = 10**10  # 10B rows x 24B = 240 GB -> 3750 partitions
    assert SC.loop_partitions(spark, big, 24) == -(
        -(big * 24) // SC.LOOP_TARGET_PARTITION_BYTES
    )
    assert SC.loop_partitions(spark, big, 24) > cores


def test_n_super_python_matches_duckdb():
    """Two-level assignment's g = 2^(floor(log2 k)//2): Python ==
    DuckDB over every attainable k (n_cells outputs are powers of two,
    but pin non-powers too in case a caller ever passes one)."""
    con = duckdb.connect()
    ks = sorted({SC.n_cells(n) for n in _SWEEP} | {5, 24, 100, 1000})
    for k in ks:
        got = con.execute(
            f"SELECT {SC.n_super_sql(str(k))}"
        ).fetchone()[0]
        assert got == SC.n_super(k), f"n_super diverges at k={k}"
        assert SC.n_super(k) ** 2 <= k < (2 * SC.n_super(k)) ** 2


def test_train_cap_binds_exactly_where_documented():
    """The coarse sample bound must NOT bind at any driver gate scale
    (byte-identical trainers there) and MUST bind at the sf1 replica
    (the branch pytest -m sf1 exercises)."""
    for n in (500, 2000):  # sf0.001/0.01 and sf0.1 embeddings counts
        assert n <= SC.train_cap(SC.n_cells(n))
    n_sf1 = 20_000
    assert n_sf1 > SC.train_cap(SC.n_cells(n_sf1))


def test_assign_super_probes_rule_and_sql_twin():
    """The round-12 build-assignment decision rule: flat (0) below
    HIER_MIN_CELLS, hier p=2 at/above — and the SQL twin replays the
    identical CASE for every k n_cells can produce."""
    con = duckdb.connect()
    assert SC.assign_super_probes(16) == 0
    assert SC.assign_super_probes(512) == 0
    assert SC.assign_super_probes(1024) == 2
    assert SC.assign_super_probes(16384) == 2
    for k in (16, 32, 128, 512, 1024, 4096, 16384):
        (got,) = con.execute(
            f"SELECT {SC.assign_super_probes_sql(str(k))}"
        ).fetchone()
        assert got == SC.assign_super_probes(k), k
