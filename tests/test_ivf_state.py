"""Persisted IVF state (operators/ivf_state): the day-2 ANN artifact —
build once, attach tomorrow, ingest batches against frozen centroids,
search exchange-free on the corpus side."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from deep_field_spark.catalog import table
from deep_field_spark.operators import ivf_state
from deep_field_spark.queries.similarity import (
    EMB_INCR_MIN,
    IVF_STATE_K,
    IVF_STATE_NPROBE,
    _lloyd_centroids,
)


@pytest.fixture()
def state_name(spark):
    name = f"ivfst_{uuid.uuid4().hex[:8]}"
    yield name
    ivf_state.drop(spark, name)


def _built(spark, sf_dir, name):
    emb = table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < EMB_INCR_MIN).select("vec_id", "embedding")
    ivf_state.build(base, _lloyd_centroids(base, k=16), name)
    return emb


def test_ingest_is_exactly_once_and_search_sees_new_vectors(
    spark, sf_dir, state_name
):
    emb = _built(spark, sf_dir, state_name)
    batch = emb.filter(
        (F.col("vec_id") >= EMB_INCR_MIN) & (F.col("vec_id") < EMB_INCR_MIN + 50)
    ).select("vec_id", "embedding")
    r1 = ivf_state.ingest(spark, state_name, batch)
    assert r1.count() == 50
    # replay: all ids already absorbed -> empty report, no double rows
    assert ivf_state.ingest(spark, state_name, batch).count() == 0
    cells = spark.table(f"{state_name}_cells")
    assert cells.count() == EMB_INCR_MIN + 50
    assert cells.groupBy("vec_id").count().filter(F.col("count") > 1).count() == 0

    # a query near an ingested vector must be able to retrieve it:
    # query WITH the ingested vector itself (self excluded) — its
    # top-k comes from the probed cells including batch members
    q = emb.filter(F.col("vec_id") == EMB_INCR_MIN).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    res = ivf_state.search(
        spark, state_name, q, k=IVF_STATE_K, nprobe=IVF_STATE_NPROBE
    )
    rows = res.collect()
    assert len(rows) == IVF_STATE_K
    assert all(r.neighbor_id != EMB_INCR_MIN for r in rows)


def test_attach_reregisters_and_search_matches(spark, sf_dir, state_name):
    emb = _built(spark, sf_dir, state_name)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    expect = {
        (r.qid, r.rnk, r.neighbor_id, r.cos_sim)
        for r in ivf_state.search(
            spark, state_name, q, k=IVF_STATE_K, nprobe=IVF_STATE_NPROBE
        ).collect()
    }
    for t in (f"{state_name}_cells", f"{state_name}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    ivf_state.attach(spark, state_name)
    got = {
        (r.qid, r.rnk, r.neighbor_id, r.cos_sim)
        for r in ivf_state.search(
            spark, state_name, q, k=IVF_STATE_K, nprobe=IVF_STATE_NPROBE
        ).collect()
    }
    assert got == expect


def test_search_reads_cells_exchange_free(spark, sf_dir, state_name):
    """The probe join's corpus side must be served by the bucket
    layout: no Exchange directly above the cell-table scan."""
    emb = _built(spark, sf_dir, state_name)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            ivf_state.search(
                spark, state_name, q, k=IVF_STATE_K, nprobe=IVF_STATE_NPROBE
            )
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    lines = plan.splitlines()
    scans = [
        i for i, l in enumerate(lines)
        if "FileScan" in l and f"{state_name}_cells" in l
    ]
    assert scans, plan
    for i in scans:
        above = "\n".join(lines[max(0, i - 2): i])
        assert "Exchange" not in above, plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan


def test_streaming_ingest_foreach_batch(spark, sf_dir, state_name, tmp_path):
    """Streaming vector arrival: micro-batches assign against frozen
    centroids and absorb; per-batch reports land batch-id-keyed; a
    second availableNow pass over the same files ingests nothing new
    and leaves the original reports intact."""
    import os

    emb = _built(spark, sf_dir, state_name)
    vecs = emb.select("vec_id", "embedding")
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    vecs.filter(
        (F.col("vec_id") >= EMB_INCR_MIN) & (F.col("vec_id") < EMB_INCR_MIN + 60)
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
    reports = str(tmp_path / "reports")
    ckpt = str(tmp_path / "ckpt")

    stream = spark.readStream.schema(vecs.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{src}/*")
    q = ivf_state.foreach_batch_ingest(stream, state_name, reports, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(reports)
    assert got.count() == 60
    cells = spark.table(f"{state_name}_cells")
    assert cells.count() == EMB_INCR_MIN + 60
    assert cells.groupBy("vec_id").count().filter(F.col("count") > 1).count() == 0

    # replay pass over the same files: nothing new, no duplicates
    stream2 = spark.readStream.schema(vecs.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{src}/*")
    q2 = ivf_state.foreach_batch_ingest(stream2, state_name, reports, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(reports).count() == 60
    assert spark.table(f"{state_name}_cells").count() == EMB_INCR_MIN + 60


def test_ivfpq_payload_state_roundtrip(spark, sf_dir, state_name):
    """The IVFPQ posture: the cell table carries integer code payload
    and NO raw vector (store_vec=False), the codebook persists beside
    the state as an aux artifact, attach() re-registers both, and
    ingest() absorbs id+codes with the schema taken from the cell
    table (the batch's embedding is used for assignment, then
    dropped)."""
    emb = table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < EMB_INCR_MIN).select(
        "vec_id", "embedding", (F.col("vec_id") % 8).cast("int").alias("code0")
    )
    codebook = spark.range(8).select(
        F.col("id").cast("int").alias("cid"), (F.col("id") * 2).alias("c0")
    )
    ivf_state.build(
        base,
        _lloyd_centroids(base.select("vec_id", "embedding"), k=16),
        state_name,
        store_vec=False,
        aux_tables={"pq": codebook},
    )
    cells = spark.table(f"{state_name}_cells")
    assert set(cells.columns) == {"cid", "vec_id", "code0"}
    assert spark.table(f"{state_name}_pq").count() == 8

    batch = emb.filter(
        (F.col("vec_id") >= EMB_INCR_MIN) & (F.col("vec_id") < EMB_INCR_MIN + 20)
    ).select("vec_id", "embedding", F.lit(7).cast("int").alias("code0"))
    assert ivf_state.ingest(spark, state_name, batch).count() == 20
    cells = spark.table(f"{state_name}_cells")
    assert cells.count() == EMB_INCR_MIN + 20
    assert set(cells.columns) == {"cid", "vec_id", "code0"}
    assert (
        cells.filter(
            (F.col("vec_id") >= EMB_INCR_MIN) & (F.col("code0") == 7)
        ).count()
        == 20
    )

    for t in (f"{state_name}_cells", f"{state_name}_centroids",
              f"{state_name}_pq"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    ivf_state.attach(spark, state_name, aux=("pq",))
    assert spark.table(f"{state_name}_pq").count() == 8
    assert spark.table(f"{state_name}_cells").count() == EMB_INCR_MIN + 20
    ivf_state.drop(spark, state_name, aux=("pq",))


def test_property_search_matches_python_reference(spark, tmp_path):
    """Property: on arbitrary small integer vector sets (ties likely by
    construction), ivf_state build+search returns EXACTLY what a
    literal Python reference computes — same frozen-centroid
    assignment, same probe selection, same (cos desc, id) ranking and
    tie-breaks, self excluded."""
    import uuid as _uuid

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    DIMS = 4
    K, NPROBE, NCENT = 3, 2, 3

    vec = st.lists(
        st.integers(min_value=-3, max_value=3), min_size=DIMS, max_size=DIMS
    ).filter(lambda v: any(x != 0 for x in v))

    def _cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        na = sum(float(x) * float(x) for x in a) ** 0.5
        nb = sum(float(x) * float(x) for x in b) ** 0.5
        return dot / (na * nb)

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(vecs=st.lists(vec, min_size=6, max_size=16))
    def run(vecs):
        name = f"ivfprop_{_uuid.uuid4().hex[:8]}"
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cent_rows = rows[:NCENT]
        cent = spark.createDataFrame(
            [(i, v) for i, v in cent_rows], "cid long, c_emb array<double>"
        )
        try:
            ivf_state.build(df, cent.selectExpr("cid", "c_emb"), name)
            qids = [r[0] for r in rows[: min(3, len(rows))]]
            q = spark.createDataFrame(
                [(i, v) for i, v in rows if i in qids],
                "qid long, q_emb array<double>",
            )
            got = {
                (r.qid, r.rnk, r.neighbor_id)
                for r in ivf_state.search(
                    spark, name, q, k=K, nprobe=NPROBE
                ).collect()
            }
        finally:
            ivf_state.drop(spark, name)

        # literal reference
        assign = {}
        for i, v in rows:
            best = min(
                range(NCENT), key=lambda c: (-_cos(v, cent_rows[c][1]), c)
            )
            assign[i] = best
        want = set()
        for qid in qids:
            qv = dict(rows)[qid]
            probes = sorted(
                range(NCENT), key=lambda c: (-_cos(qv, cent_rows[c][1]), c)
            )[:NPROBE]
            cands = [
                i for i, _ in rows if assign[i] in probes and i != qid
            ]
            ranked = sorted(
                cands, key=lambda i: (-_cos(qv, dict(rows)[i]), i)
            )[:K]
            for rk, nid in enumerate(ranked, start=1):
                want.add((qid, rk, nid))
        assert got == want

    run()


def test_ivfpq_day2_ingest_with_frozen_codebooks(spark, sf_dir, state_name):
    """The day-2 IVFPQ posture end-to-end: the code-only state built on
    the base corpus absorbs a NEW batch encoded against the FROZEN PQ
    codebooks (read back from the aux artifact) and assigned to the
    FROZEN coarse centroids; a query near an ingested vector retrieves
    it through the ADC serving path — codes only, no raw vectors in
    the state."""
    from deep_field_spark.queries.similarity import (
        ADC_K,
        IVFPQ_K,
        IVFPQ_M,
        IVFPQ_NPROBE,
        _ivfpq_serve_state,
        _l2_normalized,
        _lloyd_centroids,
        _pq_assign,
        _pq_codebooks,
        _pq_subvectors,
    )

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < EMB_INCR_MIN)
    coarse = _lloyd_centroids(base, k=16)
    sv = _pq_subvectors(_l2_normalized(base), m=IVFPQ_M)
    pq = _pq_codebooks(sv, k=IVFPQ_K)

    def encode(vecs):
        s = _pq_subvectors(_l2_normalized(vecs), m=IVFPQ_M)
        return (
            _pq_assign(s, pq)
            .groupBy("vec_id")
            .agg(
                F.sort_array(F.collect_list(F.struct("sub", "cid"))).alias("sc")
            )
            .select(
                "vec_id", F.col("sc.cid").cast("array<int>").alias("codes")
            )
        )

    ivf_state.build(
        base.join(encode(base), "vec_id"),
        coarse,
        state_name,
        store_vec=False,
        aux_tables={"pq": pq},
    )

    batch = emb.filter(
        (F.col("vec_id") >= EMB_INCR_MIN) & (F.col("vec_id") < EMB_INCR_MIN + 30)
    )
    # encode against the PERSISTED (frozen) codebooks, not the local pq
    frozen_pq = spark.table(f"{state_name}_pq")
    s2 = _pq_subvectors(_l2_normalized(batch), m=IVFPQ_M)
    codes2 = (
        _pq_assign(s2, frozen_pq)
        .groupBy("vec_id")
        .agg(F.sort_array(F.collect_list(F.struct("sub", "cid"))).alias("sc"))
        .select("vec_id", F.col("sc.cid").cast("array<int>").alias("codes"))
    )
    report = ivf_state.ingest(
        spark, state_name, batch.join(codes2, "vec_id")
    )
    assert report.count() == 30
    cells = spark.table(f"{state_name}_cells")
    assert set(cells.columns) == {"cid", "vec_id", "codes"}
    assert cells.count() == EMB_INCR_MIN + 30

    # a query vector IDENTICAL to an ingested one must retrieve it via
    # ADC: same codes => ADC distance 0, rank 1 (self not excluded —
    # the query id is synthetic and differs from every corpus id)
    target = EMB_INCR_MIN + 7
    q = batch.filter(F.col("vec_id") == target).select(
        F.lit(10_000_000).cast("long").alias("qid"),
        F.col("embedding").alias("q_emb"),
    )
    res = _ivfpq_serve_state(spark, state_name, q, k=ADC_K)
    rows = res.collect()
    assert rows, "ADC serve returned nothing"
    assert rows[0].neighbor_id == target, rows[:3]


def test_streaming_lifecycle_ingest_compact_serve(
    spark, sf_dir, state_name, tmp_path
):
    """The FULL day-2 streaming lifecycle on ONE IVFPQ state: vectors
    arrive as a stream (foreach_batch_ingest, frozen-codebook codes as
    payload), the cell table is compacted, and a QUERY stream is then
    served from the compacted state (foreach_batch_ann_serve) — the
    composition none of the per-piece tests exercises. The served
    top-k must equal the batch serve over the same state, and an
    ingested vector must be retrievable by a nearby query."""
    from deep_field_spark.queries.similarity import (
        ADC_K,
        IVFPQ_K,
        IVFPQ_M,
        IVFPQ_NPROBE,
        _ivfpq_codes,
        _ivfpq_serve_state,
        _l2_normalized,
        _pq_codebooks,
        _pq_subvectors,
    )
    from deep_field_spark.streaming import ann_serve

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < EMB_INCR_MIN)
    coarse = _lloyd_centroids(base, k=16)
    pq = _pq_codebooks(_pq_subvectors(_l2_normalized(base), m=IVFPQ_M),
                       k=IVFPQ_K)
    ivf_state.build(
        base.join(_ivfpq_codes(base, pq), "vec_id"),
        coarse,
        state_name,
        store_vec=False,
        aux_tables={"pq": pq},
    )

    # --- vectors arrive as a 2-file stream, encoded with frozen codes
    frozen_pq = spark.table(f"{state_name}_pq")
    batch = emb.filter(
        (F.col("vec_id") >= EMB_INCR_MIN)
        & (F.col("vec_id") < EMB_INCR_MIN + 40)
    ).join(_ivfpq_codes(
        emb.filter(
            (F.col("vec_id") >= EMB_INCR_MIN)
            & (F.col("vec_id") < EMB_INCR_MIN + 40)
        ),
        frozen_pq,
    ), "vec_id")
    vsrc = str(tmp_path / "vec_arrivals")
    batch.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        f"{vsrc}/f1"
    )
    batch.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        f"{vsrc}/f2"
    )
    vstream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{vsrc}/*")
    q = ivf_state.foreach_batch_ingest(
        vstream, state_name,
        str(tmp_path / "ingest_reports"), str(tmp_path / "ingest_ckpt"),
    )
    assert q.awaitTermination(120), "ingest stream did not drain"
    assert (
        spark.table(f"{state_name}_cells").count() == EMB_INCR_MIN + 40
    )

    # --- compact the appended state (spec-resolved bucket count)
    stats = ivf_state.compact(spark, state_name)
    assert stats["files_after"] < stats["files_before"]

    # --- queries arrive as a stream, served from the compacted state
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    want = {
        (r.qid, r.rnk, r.neighbor_id, r.adc_dist)
        for r in _ivfpq_serve_state(
            spark, state_name, queries, k=ADC_K, nprobe=IVFPQ_NPROBE
        ).collect()
    }
    qsrc = str(tmp_path / "query_arrivals")
    queries.coalesce(1).write.parquet(f"{qsrc}/all")
    qstream = spark.readStream.schema(queries.schema).parquet(f"{qsrc}/*")
    sq = ann_serve.foreach_batch_ann_serve(
        qstream, state_name,
        str(tmp_path / "serve_reports"), str(tmp_path / "serve_ckpt"),
        k=ADC_K,
    )
    assert sq.awaitTermination(120), "serve stream did not drain"
    got = {
        (r.qid, r.rnk, r.neighbor_id, r.adc_dist)
        for r in spark.read.option(
            "basePath", str(tmp_path / "serve_reports")
        ).parquet(str(tmp_path / "serve_reports")).select(
            "qid", "rnk", "neighbor_id", "adc_dist"
        ).collect()
    }
    assert got == want
    # the streamed-in vectors are live in the serving index
    served_ids = {r[2] for r in got}
    assert served_ids & set(range(EMB_INCR_MIN, EMB_INCR_MIN + 40)), (
        "no ingested vector ever retrieved — lifecycle broken"
    )


def test_ivfpq_build_memo_is_session_scoped(spark, sf_dir, monkeypatch):
    """Within one session every read-only consumer serves the SAME
    persisted IVFPQ state: a second _ivfpq_build for the same sf_dir
    must be a memo hit (no rebuild — production publishes one index to
    every serving surface), and the memo must never outlive its
    application id."""
    from deep_field_spark.operators import memo
    from deep_field_spark.queries import similarity as S

    key = (spark.sparkContext.applicationId, "ivfpq", sf_dir)
    memo._ENTRIES.pop(key, None)
    name = S._ivfpq_build(spark, sf_dir)
    assert spark.catalog.tableExists(f"{name}_cells")
    monkeypatch.setattr(
        ivf_state, "build",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("rebuilt")),
    )
    assert S._ivfpq_build(spark, sf_dir) == name
    # a stale entry from a dead app id is evicted, not served
    del memo._ENTRIES[key]
    memo._ENTRIES[("dead-app", "ivfpq", sf_dir)] = name
    with pytest.raises(AssertionError, match="rebuilt"):
        S._ivfpq_build(spark, sf_dir)
    assert ("dead-app", "ivfpq", sf_dir) not in memo._ENTRIES


def test_hier_assign_build_and_search(spark, sf_dir, state_name):
    """build(..., supers=...) — the two-level O(n·√k) assignment path
    (r11): the persisted layout must be identical in shape to the flat
    build, the cell column must equal assign_hier's output exactly,
    agreement with the flat assign must match the ann_hier_assign
    chart's accounting, and search must serve from the hier-built
    state."""
    from deep_field_spark.queries.similarity import (
        _lloyd_centroids,
        _training_sample,  # noqa: F401 — import guards the module path
    )

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = _lloyd_centroids(emb, k=16)
    centv = cent.select(
        F.col("cid").alias("vec_id"), F.col("c_emb").alias("embedding")
    )
    sup = _lloyd_centroids(centv, k=4)

    ivf_state.build(emb, cent, state_name, supers=sup)
    cells = spark.table(f"{state_name}_cells")
    assert cells.count() == emb.count()
    assert set(cells.columns) >= {"cid", "vec_id", "embedding"}
    assert "scid" not in cells.columns  # scid is probe metadata, not state

    direct = {
        r.vec_id: r.cid
        for r in ivf_state.assign_hier(emb, cent, sup).collect()
    }
    persisted = {r.vec_id: r.cid for r in cells.select("vec_id", "cid").collect()}
    assert persisted == direct

    flat = {r.vec_id: r.cid for r in ivf_state.assign(emb, cent).collect()}
    agree = sum(1 for v, c in direct.items() if flat[v] == c)
    # the gate-floor chart value (ann_hier_assign: 357/500) — exact,
    # both paths are deterministic
    assert agree / len(direct) > 0.5

    q = emb.limit(3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    res = ivf_state.search(spark, state_name, q, k=5, nprobe=4)
    got = res.groupBy("qid").count().collect()
    assert len(got) == 3 and all(r["count"] == 5 for r in got)


def test_hier_state_ingests_hier(spark, sf_dir, state_name):
    """A state built with supers must route day-2 ingest through the
    same frozen two-level quantizer — batch assignments equal to
    assign_hier against the persisted centroids+supers, exactly-once
    on replay."""
    from deep_field_spark.queries.similarity import _lloyd_centroids

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < EMB_INCR_MIN)
    cent = _lloyd_centroids(base, k=16)
    centv = cent.select(
        F.col("cid").alias("vec_id"), F.col("c_emb").alias("embedding")
    )
    sup = _lloyd_centroids(centv, k=4)
    ivf_state.build(base, cent, state_name, supers=sup)

    batch = emb.filter(
        (F.col("vec_id") >= EMB_INCR_MIN)
        & (F.col("vec_id") < EMB_INCR_MIN + 40)
    )
    report = ivf_state.ingest(spark, state_name, batch)
    assert report.count() == 40
    assert ivf_state.ingest(spark, state_name, batch).count() == 0  # replay

    want = {
        r.vec_id: r.cid
        for r in ivf_state.assign_hier(
            batch,
            spark.table(f"{state_name}_centroids").select(
                "cid", F.col("c_emb")
            ),
            spark.table(f"{state_name}_supers"),
        ).collect()
    }
    got = {
        r.vec_id: r.cid
        for r in spark.table(f"{state_name}_cells")
        .filter(F.col("vec_id") >= EMB_INCR_MIN)
        .select("vec_id", "cid")
        .collect()
    }
    assert got == want

    # cross-session day-2: attach re-registers the supers aux and the
    # NEXT ingest still routes hier
    for t in (f"{state_name}_cells", f"{state_name}_centroids",
              f"{state_name}_supers"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    ivf_state.attach(spark, state_name, aux=("supers",))
    b2 = emb.filter(
        (F.col("vec_id") >= EMB_INCR_MIN + 40)
        & (F.col("vec_id") < EMB_INCR_MIN + 60)
    )
    assert ivf_state.ingest(spark, state_name, b2).count() == 20


@pytest.mark.slow
def test_hier_multiprobe_probes_all_supers_equals_flat(spark, sf_dir):
    """The multi-probe contract's boundary invariant: probing EVERY
    super (super_probes >= g) makes the level-2 candidate set the full
    centroid table (each centroid is exactly one super's child), so
    assign_hier must reproduce the flat assignment bit-for-bit. Also
    pins monotonicity of the probe set itself (super_probe at p=2 is a
    superset of p=1, p rows per vector)."""
    from deep_field_spark.queries.similarity import _lloyd_centroids

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = _lloyd_centroids(emb, k=16)
    centv = cent.select(
        F.col("cid").alias("vec_id"), F.col("c_emb").alias("embedding")
    )
    sup = _lloyd_centroids(centv, k=4)

    flat = {r.vec_id: r.cid for r in ivf_state.assign(emb, cent).collect()}
    full = {
        r.vec_id: r.cid
        for r in ivf_state.assign_hier(
            emb, cent, sup, super_probes=4
        ).collect()
    }
    assert full == flat

    p1 = {
        (r.vec_id, r.scid)
        for r in ivf_state.super_probe(emb, sup, probes=1).collect()
    }
    p2 = {
        (r.vec_id, r.scid)
        for r in ivf_state.super_probe(emb, sup, probes=2).collect()
    }
    assert p1 < p2 and len(p2) == 2 * len(flat)

    # agreement with flat is monotone in p on this corpus (the chart's
    # probe-rung story): every vector's p=1 candidate set is contained
    # in its p=2 set, and the flat winner can only enter, never leave
    a1 = {
        r.vec_id: r.cid
        for r in ivf_state.assign_hier(
            emb, cent, sup, super_probes=1
        ).collect()
    }
    a2 = {
        r.vec_id: r.cid
        for r in ivf_state.assign_hier(
            emb, cent, sup, super_probes=2
        ).collect()
    }
    n1 = sum(1 for v, c in a1.items() if flat[v] == c)
    n2 = sum(1 for v, c in a2.items() if flat[v] == c)
    assert n2 >= n1


def test_hier_build_childless_super_fails_loudly_and_tears_down(
    spark, state_name
):
    """A vector whose every probed super is childless must fail the
    build LOUDLY (post-write footer-count verify — the pre-write form
    computed the whole assignment twice), and the partial state must
    be torn down. Probing one more super rescues exactly this
    geometry, so the same fixtures build clean at super_probes=2."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.95, 0.05])],
        "cid long, c_emb array<double>",
    )
    # both centroids map to super 0; super 1 is childless, and vector 2
    # (pure e2) picks super 1 at p=1 — no level-2 candidates
    sup = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cid long, c_emb array<double>",
    )
    with pytest.raises(ValueError, match="childless"):
        ivf_state.build(emb, cent, state_name, supers=sup)
    assert not spark.catalog.tableExists(f"{state_name}_cells")
    assert not spark.catalog.tableExists(f"{state_name}_supers")

    ivf_state.build(emb, cent, state_name, supers=sup, super_probes=2)
    assert spark.table(f"{state_name}_cells").count() == 3


def test_hier_build_persists_probe_width_and_ingest_replays(
    spark, sf_dir, state_name
):
    """build(..., super_probes=2) persists the level-1 width beside the
    super table (_hier_spec.json, the _bucket_spec discipline) and
    day-2 ingest replays the SAME width — assignments equal
    assign_hier(super_probes=2) against the frozen quantizer."""
    from deep_field_spark.operators.lsh_state import _location
    from deep_field_spark.queries.similarity import _lloyd_centroids

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < EMB_INCR_MIN)
    cent = _lloyd_centroids(base, k=16)
    centv = cent.select(
        F.col("cid").alias("vec_id"), F.col("c_emb").alias("embedding")
    )
    sup = _lloyd_centroids(centv, k=4)
    ivf_state.build(base, cent, state_name, supers=sup, super_probes=2)

    spec = ivf_state.read_hier_spec(
        _location(spark, f"{state_name}_supers")
    )
    assert spec == {"super_probes": 2}

    # the build itself assigned at width 2
    want_base = {
        r.vec_id: r.cid
        for r in ivf_state.assign_hier(
            base, cent, sup, super_probes=2
        ).collect()
    }
    got_base = {
        r.vec_id: r.cid
        for r in spark.table(f"{state_name}_cells")
        .select("vec_id", "cid")
        .collect()
    }
    assert got_base == want_base

    batch = emb.filter(
        (F.col("vec_id") >= EMB_INCR_MIN)
        & (F.col("vec_id") < EMB_INCR_MIN + 40)
    )
    ivf_state.ingest(spark, state_name, batch)
    want = {
        r.vec_id: r.cid
        for r in ivf_state.assign_hier(
            batch,
            spark.table(f"{state_name}_centroids"),
            spark.table(f"{state_name}_supers"),
            super_probes=2,
        ).collect()
    }
    got = {
        r.vec_id: r.cid
        for r in spark.table(f"{state_name}_cells")
        .filter(F.col("vec_id") >= EMB_INCR_MIN)
        .select("vec_id", "cid")
        .collect()
    }
    assert got == want


def _skewed_state(spark, state_name, *, n_hot=40, n_cold=6):
    """A deliberately skewed 3-cell state: centroids at e0/e1/e2,
    n_hot vectors piled on the e0 cell (two sub-clusters hugging
    +e0±e3 so a 2-means split has real structure), n_cold on each of
    the others. Returns (vectors df, hot cid)."""
    dim = 8

    def vec(i, hot):
        v = [0.0] * dim
        if hot:
            v[0] = 1.0
            v[3] = 0.4 if i % 2 == 0 else -0.4
            v[4] = 0.01 * (i % 5)  # small within-cluster scatter
        else:
            v[1 if i % 2 == 0 else 2] = 1.0
        return v

    rows = [(i, vec(i, True)) for i in range(n_hot)] + [
        (i, vec(i, False)) for i in range(n_hot, n_hot + 2 * n_cold)
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = [[0.0] * dim for _ in range(3)]
    cents[0][0] = 1.0
    cents[1][1] = 1.0
    cents[2][2] = 1.0
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cid long, c_emb array<double>",
    )
    ivf_state.build(vecs, cent, state_name, num_buckets=4)
    return vecs, 0


def test_split_oversized_rebalances_and_reclaims(spark, state_name):
    vecs, hot = _skewed_state(spark, state_name)
    n_total = vecs.count()
    cells = spark.table(f"{state_name}_cells")
    pre_ids = {r.vec_id for r in cells.select("vec_id").collect()}
    pre_hot = cells.filter(F.col("cid") == hot).count()
    assert pre_hot == 40

    rep = ivf_state.split_oversized(spark, state_name, cap=20)
    assert rep["cells_split"] == 1
    assert rep["rows_moved"] == 40
    assert rep["cells_added"] == 2
    assert rep["cells_live_before"] == 3
    assert rep["cells_live_after"] == 4

    cent = spark.table(f"{state_name}_centroids")
    live_cids = {r.cid for r in cent.select("cid").collect()}
    # old hot cid retired; fresh cids start past every cid ever used
    assert hot not in live_cids
    assert live_cids == {1, 2, 3, 4}
    post = spark.table(f"{state_name}_cells")
    live = post.join(F.broadcast(cent.select("cid")), "cid", "left_semi")
    # membership preserved exactly; tombstones = the moved originals
    assert {r.vec_id for r in live.select("vec_id").collect()} == pre_ids
    assert post.count() - live.count() == 40
    # the 2-means found the ±e3 sub-structure: both new cells non-empty
    # and the max live cell is now below the old hot size
    new_sizes = {
        r.cid: r["count"]
        for r in live.groupBy("cid").count().collect()
        if r.cid >= 3
    }
    assert set(new_sizes) == {3, 4} and all(v > 0 for v in new_sizes.values())
    assert max(new_sizes.values()) < pre_hot

    # serving invariance at full probe: every vector still retrievable
    q = vecs.limit(5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    res = ivf_state.search(spark, state_name, q, k=3, nprobe=4)
    assert res.groupBy("qid").count().filter(F.col("count") != 3).count() == 0

    # reclaim drops the tombstones physically; answers unchanged
    before = {(r.qid, r.rnk, r.neighbor_id) for r in res.collect()}
    rep2 = ivf_state.compact(spark, state_name, reclaim=True)
    assert rep2["files_after"] <= rep2["files_before"]
    assert spark.table(f"{state_name}_cells").count() == n_total
    res2 = ivf_state.search(spark, state_name, q, k=3, nprobe=4)
    assert {(r.qid, r.rnk, r.neighbor_id) for r in res2.collect()} == before

    # idempotence: nothing left over the cap -> loud no-op
    rep3 = ivf_state.split_oversized(spark, state_name, cap=20)
    assert rep3["cells_split"] == 0
    assert rep3["cells_live_after"] == 4


def test_split_crash_replay_is_idempotent(spark, state_name):
    """Crash-sim: the appended new-cid rows landed but the centroid
    swap (the commit point) did not. Serving still probes the OLD
    cells (new rows are dead — no live centroid points at them), and
    re-running split completes the job without duplicating rows."""
    vecs, hot = _skewed_state(spark, state_name)
    rep = ivf_state.split_oversized(spark, state_name, cap=20)
    # reconstruct the pre-commit state: re-point the centroid table at
    # the ORIGINAL centroids (old hot cid live again, new cids dead)
    cent = spark.table(f"{state_name}_centroids")
    old = cent.filter(F.col("cid").isin(1, 2)).unionByName(
        spark.createDataFrame(
            [(0, [1.0] + [0.0] * 7)], "cid long, c_emb array<double>"
        )
    ).coalesce(1).localCheckpoint(eager=True)
    ivf_state._swap_table(spark, f"{state_name}_centroids", old)

    # pre-commit serving: the old hot cell answers (dead rows invisible)
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    res = ivf_state.search(spark, state_name, q, k=3, nprobe=1)
    assert res.count() == 3

    n_rows_mid = spark.table(f"{state_name}_cells").count()
    rep2 = ivf_state.split_oversized(spark, state_name, cap=20)
    # same split recomputed, but the anti-join found every row already
    # appended: nothing moved twice
    assert rep2["cells_split"] == 1
    assert rep2["rows_moved"] == 0
    assert spark.table(f"{state_name}_cells").count() == n_rows_mid
    post = spark.table(f"{state_name}_cells")
    live = post.join(
        F.broadcast(spark.table(f"{state_name}_centroids").select("cid")),
        "cid",
        "left_semi",
    )
    assert (
        live.groupBy("vec_id").count().filter(F.col("count") > 1).count()
        == 0
    )
    assert rep["cells_live_after"] == rep2["cells_live_after"] == 4


def test_split_requires_stored_vectors(spark, state_name):
    vecs, _ = _skewed_state(spark, state_name)
    # rebuild code-only (store_vec=False): split must refuse, loudly
    cent = spark.table(f"{state_name}_centroids").localCheckpoint(eager=True)
    ivf_state.build(
        vecs.withColumn("codes", F.array(F.lit(1))),
        cent,
        state_name,
        num_buckets=4,
        store_vec=False,
    )
    with pytest.raises(ValueError, match="store_vec"):
        ivf_state.split_oversized(spark, state_name, cap=5)


def test_split_on_hier_built_state_routes_new_cells_through_supers(
    spark, state_name
):
    """Splitting a hier-built state: the new sub-centroids join the
    live centroid table, and day-2 hier ingest (super_children derived
    from the LIVE table on every batch) routes a vector into a NEW
    cell — the split integrates with the frozen two-level quantizer
    without retraining supers."""
    vecs, hot = _skewed_state(spark, state_name)
    # rebuild the same state hier: one super per axis-ish — 2 supers
    # trained as the e0 and (e1+e2)/2 directions
    dim = 8
    s0, s1 = [0.0] * dim, [0.0] * dim
    s0[0] = 1.0
    s1[1] = s1[2] = 0.7
    sup = spark.createDataFrame(
        [(0, s0), (1, s1)], "cid long, c_emb array<double>"
    )
    cent = spark.table(f"{state_name}_centroids").localCheckpoint(eager=True)
    ivf_state.build(vecs, cent, state_name, num_buckets=4, supers=sup)
    rep = ivf_state.split_oversized(spark, state_name, cap=20)
    assert rep["cells_split"] == 1 and rep["cells_added"] == 2

    # a fresh hot-cluster vector must absorb into one of the NEW cells
    v = [0.0] * dim
    v[0] = 1.0
    v[3] = 0.4
    batch = spark.createDataFrame(
        [(999, v)], "vec_id long, embedding array<double>"
    )
    r = ivf_state.ingest(spark, state_name, batch)
    row = r.collect()[0]
    assert row.cid in (3, 4), row


def test_merge_undersized_retires_cold_cells_and_reclaims(
    spark, state_name
):
    vecs, hot = _skewed_state(spark, state_name)  # 40 hot, 6+6 cold
    n_total = vecs.count()
    pre_ids = {
        r.vec_id
        for r in spark.table(f"{state_name}_cells").select("vec_id").collect()
    }

    rep = ivf_state.merge_undersized(spark, state_name, floor=10)
    assert rep["cells_merged"] == 2
    assert rep["merge_targets"] == 1
    # both cold cells AND their target re-label -> all rows moved
    assert rep["rows_moved"] == n_total
    assert rep["cells_live_before"] == 3
    assert rep["cells_live_after"] == 1

    cent = spark.table(f"{state_name}_centroids")
    assert {r.cid for r in cent.collect()} == {3}
    post = spark.table(f"{state_name}_cells")
    live = post.join(F.broadcast(cent.select("cid")), "cid", "left_semi")
    assert {r.vec_id for r in live.select("vec_id").collect()} == pre_ids
    assert post.count() - live.count() == n_total  # tombstones

    # full-probe serving still answers over the single union cell
    q = vecs.limit(4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    res = ivf_state.search(spark, state_name, q, k=3, nprobe=1)
    before = {(r.qid, r.rnk, r.neighbor_id) for r in res.collect()}
    assert len(before) == 12

    ivf_state.compact(spark, state_name, reclaim=True)
    assert spark.table(f"{state_name}_cells").count() == n_total
    res2 = ivf_state.search(spark, state_name, q, k=3, nprobe=1)
    assert {(r.qid, r.rnk, r.neighbor_id) for r in res2.collect()} == before

    # idempotence: the union is comfortably above the floor
    rep2 = ivf_state.merge_undersized(spark, state_name, floor=10)
    assert rep2["cells_merged"] == 0


def test_merge_crash_replay_is_idempotent(spark, state_name):
    """Crash-sim: merged rows appended, centroid swap (the commit)
    lost. Pre-commit the OLD cells still serve (new rows dead — no
    live centroid at cid >= base); the replay moves 0 rows and the
    commit revives the crashed append."""
    vecs, _ = _skewed_state(spark, state_name)
    ivf_state.merge_undersized(spark, state_name, floor=10)
    # reconstruct pre-commit: original 3-centroid table live again
    dim = 8
    cents = [[0.0] * dim for _ in range(3)]
    cents[0][0] = 1.0
    cents[1][1] = 1.0
    cents[2][2] = 1.0
    old = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cid long, c_emb array<double>",
    ).coalesce(1).localCheckpoint(eager=True)
    ivf_state._swap_table(spark, f"{state_name}_centroids", old)

    q = vecs.filter(F.col("vec_id") == 45).select(  # a cold vector
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    assert ivf_state.search(spark, state_name, q, k=2, nprobe=1).count() == 2

    n_mid = spark.table(f"{state_name}_cells").count()
    rep2 = ivf_state.merge_undersized(spark, state_name, floor=10)
    assert rep2["cells_merged"] == 2
    assert rep2["rows_moved"] == 0
    assert spark.table(f"{state_name}_cells").count() == n_mid
    live = spark.table(f"{state_name}_cells").join(
        F.broadcast(
            spark.table(f"{state_name}_centroids").select("cid")
        ),
        "cid",
        "left_semi",
    )
    assert (
        live.groupBy("vec_id").count().filter(F.col("count") > 1).count()
        == 0
    )


def test_merge_refuses_when_no_cell_reaches_floor(spark, state_name):
    _skewed_state(spark, state_name)
    with pytest.raises(ValueError, match="floor"):
        ivf_state.merge_undersized(spark, state_name, floor=1000)


def test_clone_is_byte_identical_and_independent(spark, sf_dir, state_name):
    """clone (the day-1 fan-out path behind the flat-state session
    memo) must (a) return exactly the source's rows under the new
    name with the same bucket layout, and (b) stay fully independent:
    mutating the clone never changes the source."""
    emb = _built(spark, sf_dir, state_name)
    dst = f"{state_name}_c"
    try:
        ivf_state.clone(spark, state_name, dst)
        src_cells = spark.table(f"{state_name}_cells")
        dst_cells = spark.table(f"{dst}_cells")
        assert src_cells.exceptAll(dst_cells).count() == 0
        assert dst_cells.exceptAll(src_cells).count() == 0
        assert (
            spark.table(f"{state_name}_centroids")
            .exceptAll(spark.table(f"{dst}_centroids"))
            .count()
            == 0
        )
        # same persisted bucket spec -> attach registered the same layout
        from deep_field_spark import sinks
        from deep_field_spark.operators.lsh_state import _location

        nb_src = sinks.resolve_num_buckets(
            _location(spark, f"{state_name}_cells"), None, 0
        )
        nb_dst = sinks.resolve_num_buckets(
            _location(spark, f"{dst}_cells"), None, 0
        )
        assert nb_src == nb_dst
        # mutate the clone: ingest a batch; the source must not move
        n_src = src_cells.count()
        batch = emb.filter(
            (F.col("vec_id") >= EMB_INCR_MIN)
            & (F.col("vec_id") < EMB_INCR_MIN + 20)
        ).select("vec_id", "embedding")
        assert ivf_state.ingest(spark, dst, batch).count() == 20
        assert spark.table(f"{dst}_cells").count() == n_src + 20
        assert spark.table(f"{state_name}_cells").count() == n_src
    finally:
        ivf_state.drop(spark, dst)


def test_clone_replaces_prior_dst_state(spark, sf_dir, state_name):
    """Cloning onto an existing name must fully replace it (the
    hermetic queries rebuild their state per run — a stale dst row
    surviving a re-clone would corrupt the maintenance charts)."""
    emb = _built(spark, sf_dir, state_name)
    dst = f"{state_name}_c"
    try:
        ivf_state.clone(spark, state_name, dst)
        batch = emb.filter(
            (F.col("vec_id") >= EMB_INCR_MIN)
            & (F.col("vec_id") < EMB_INCR_MIN + 20)
        ).select("vec_id", "embedding")
        ivf_state.ingest(spark, dst, batch)
        ivf_state.clone(spark, state_name, dst)  # re-clone over mutated dst
        assert (
            spark.table(f"{dst}_cells").count()
            == spark.table(f"{state_name}_cells").count()
        )
    finally:
        ivf_state.drop(spark, dst)
