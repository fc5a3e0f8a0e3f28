"""ANN quality: LSH and IVF candidates must actually find neighbors.

A bucketing scheme that returns rows but misses the true neighbors is
worse than useless at 100 TB (it silently degrades training-data
quality), so both approximate paths are held to a measured recall
floor against the exact brute-force top-k on the fixtures.
"""

from __future__ import annotations

from motorway_spark.queries import QUERIES

from tests.conftest import SF_CORRECT as SF


def _top3(df, id_col="query_id", n_col="neighbor_id"):
    out: dict[int, set[int]] = {}
    for row in df.collect():
        if row["rank"] <= 3:
            out.setdefault(row[id_col], set()).add(row[n_col])
    return out


def _recall(approx: dict[int, set[int]], exact: dict[int, set[int]]) -> float:
    hits = sum(len(approx.get(q, set()) & n) for q, n in exact.items())
    total = sum(len(n) for n in exact.values())
    return hits / total


def test_ann_recall_floor(spark):
    exact = _top3(QUERIES["sim_knn_cosine"](spark, SF))
    assert len(exact) == 20 and all(len(v) == 3 for v in exact.values())

    lsh_recall = _recall(_top3(QUERIES["sim_ann_lsh"](spark, SF)), exact)
    ivf_recall = _recall(_top3(QUERIES["sim_ann_ivf"](spark, SF)), exact)

    # floors measured on the fixture (deterministic: fixed hyperplanes /
    # fixed KMeans seed — measured 0.73 / 0.60); a regression below
    # these means the bucketing broke, not that the corpus changed.
    # For calibration: the original single-table 8-bit LSH measured
    # 0.02 here — this test exists to keep that from coming back.
    assert lsh_recall >= 0.60, f"LSH recall collapsed: {lsh_recall:.2f}"
    assert ivf_recall >= 0.50, f"IVF recall collapsed: {ivf_recall:.2f}"


def test_pq_adc_recall_floor(spark):
    """PQ compresses 64 float dims to 8 4-bit codes — a 32x memory cut
    that must still FIND the neighbors after the exact rerank. Floor
    measured on the fixture (deterministic: fixed codebook + integer
    ADC); below it means the encoding or table lookup broke."""
    exact = _top3(QUERIES["sim_knn_cosine"](spark, SF))
    pq_recall = _recall(_top3(QUERIES["sim_ann_pq_adc"](spark, SF)), exact)
    # measured 0.65 on the fixture (normalized PQ, 16 codes/subspace,
    # 50-candidate rerank); unnormalized L2 ADC measured 0.27 — the
    # floor keeps the normalize-before-encode design from regressing
    assert pq_recall >= 0.55, f"PQ-ADC recall collapsed: {pq_recall:.2f}"


def test_pq_lloyd_training_improves_recall(spark):
    """The per-subspace Lloyd iteration must EARN its cost: trained
    codebooks measured 0.75 recall vs 0.65 fixed on the fixture. Floor
    at 0.65 — trained PQ falling to the untrained level means the
    centroid update broke."""
    exact = _top3(QUERIES["sim_knn_cosine"](spark, SF))
    pq_recall = _recall(_top3(QUERIES["sim_ann_pq_lloyd"](spark, SF)), exact)
    assert pq_recall >= 0.65, f"trained-PQ recall collapsed: {pq_recall:.2f}"


def test_kmeans_converged_trace_invariants(spark):
    """cluster_kmeans_converged: the trace must show Lloyd actually
    descending and stopping by its own criterion — iterations are
    1..k contiguous, inertia never increases after iteration 1 (Lloyd
    monotonicity holds up to the micro-grid quantization; give it one
    grid step of slack), exactly the last row may be converged, and if
    the cap wasn't hit the last row IS converged."""
    from motorway_spark.queries.similarity import KM_MAX_ITERS, KM_TOL_MICRO

    rows = QUERIES["cluster_kmeans_converged"](spark, SF).collect()
    assert [r["iter"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(not r["converged"] for r in rows[:-1])
    last = rows[-1]
    assert last["converged"] == (last["movement_micro"] <= KM_TOL_MICRO)
    if last["iter"] < KM_MAX_ITERS:
        assert last["converged"], "early exit without meeting the criterion"
    inert = [r["inertia"] for r in rows]
    for a, b in zip(inert, inert[1:]):
        assert b <= a + 1e-3, f"inertia rose: {a} -> {b}"


def test_ivfpq_composed_recall_floor(spark):
    """IVF-PQ composed: recall is roughly the PRODUCT of the stage
    recalls — round 9's knee search (coarse iters x nprobe x codebook
    grid at similarity.IVFPQ_PROBE) lifted it 0.50 -> 0.72 measured by
    swapping the fixed PQ codebook for the TRAINED one and probe 4 -> 6.
    Floor keeps the composition from silently degrading below its
    measured level (margin for fixture regeneration)."""
    exact = _top3(QUERIES["sim_knn_cosine"](spark, SF))
    r = _recall(_top3(QUERIES["sim_ann_ivfpq"](spark, SF)), exact)
    assert r >= 0.60, f"IVF-PQ recall collapsed: {r:.2f}"


def test_rrf_fusion_consensus_and_recall(spark):
    """sim_rank_fusion_rrf: (1) every fused neighbor must come from at
    least one branch (RRF invents nothing); (2) a neighbor BOTH
    branches rank in their top 3 must out-score one only a single
    branch returned at its worst rank (the consensus property —
    2/(k+3) > 1/(k+1) for k=60); (3) fused recall must not collapse
    below the weaker branch's floor (measured fused 0.70 vs LSH 0.73 /
    IVF 0.60 — consensus beats the weaker branch and approaches the
    stronger, the RRF selling point)."""
    fused_rows = QUERIES["sim_rank_fusion_rrf"](spark, SF).collect()
    lsh = _top3(QUERIES["sim_ann_lsh"](spark, SF))
    ivf = _top3(QUERIES["sim_ann_ivf_fixed"](spark, SF))
    for r in fused_rows:
        q, n = r["query_id"], r["neighbor_id"]
        assert n in lsh.get(q, set()) | ivf.get(q, set()), (q, n)
        both = r["lsh_rank"] is not None and r["ivf_rank"] is not None
        if both:
            assert r["rrf_score"] > 1.0 / 61.0
    exact = _top3(QUERIES["sim_knn_cosine"](spark, SF))
    fused = {}
    for r in fused_rows:
        fused.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert _recall(fused, exact) >= 0.50


def test_stream_ann_ingest_is_multi_batch(spark):
    """The ingest must be a REAL incremental build: the registry's
    manifest records one committed batch per arriving shard (4-file
    split x maxFilesPerTrigger=1), not a single-batch replay — and the
    drained search equals the batch operator (the oracle covers that;
    this pins the multi-batch mechanics the oracle can't see)."""
    from motorway_spark.sinks.upsert import UpsertParquetSink
    from motorway_spark.streaming.runner import _SCRATCH_DIRS

    df = QUERIES["stream_ann_ingest"](spark, SF)
    assert df.count() > 0
    root = _SCRATCH_DIRS["stream_ann_ingest"]
    sink = UpsertParquetSink(
        spark, f"{root}/codes", key_cols=["vec_id"], num_buckets=8
    )
    batches = sink._processed_batches()
    assert len(batches) >= 2, f"single-batch drain: {batches}"


def test_embedding_drift_calibrated_null(spark):
    """dq_embedding_drift's parity split is the null hypothesis: two
    halves of the SAME distribution must sit under the threshold for
    every label (measured noise 0.070-0.125 vs threshold 0.2) — a
    monitor that fires on its own calibration split is useless. Also
    pins that every label got both halves (no degenerate split)."""
    rows = QUERIES["dq_embedding_drift"](spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["n_ref"] > 0 and r["n_cand"] > 0
        assert not r["drifted"], (r["label"], r["drift_micro"])


def test_reservoir_sample_is_deterministic_and_bounded(spark):
    """stream_sample_reservoir: the sample is a pure function of the
    corpus — two full drains must return IDENTICAL rows (no RNG, no
    order dependence), size exactly k on any corpus with >= k docs."""
    from motorway_spark.queries.streaming_queries import _RESERVOIR_K

    a = [tuple(r) for r in QUERIES["stream_sample_reservoir"](spark, SF).collect()]
    b = [tuple(r) for r in QUERIES["stream_sample_reservoir"](spark, SF).collect()]
    assert a == b
    assert len(a) == _RESERVOIR_K


def test_ivfpq_residual_recall_floor_and_lower_nprobe_claim(spark):
    """sim_ann_ivfpq_residual: residual encoding on normalized-space
    cells must EARN its rung — measured 0.817 recall@3 at probe 4
    (round-12 ship point coarse6/rerank200; grid at
    similarity.IVFPQ_RES_PROBE; the r10/r11 ship coarse4/rerank100
    measured 0.767), above the raw-encoding operator's 0.717 at probe
    6. Floor at 0.78 keeps the ship point from silently degrading
    (margin for fixture regeneration); the >= raw assertion pins the
    lower-nprobe claim the operator exists for."""
    exact = _top3(QUERIES["sim_knn_cosine"](spark, SF))
    res = _recall(_top3(QUERIES["sim_ann_ivfpq_residual"](spark, SF)), exact)
    assert res >= 0.78, f"residual IVFPQ recall collapsed: {res:.2f}"
    raw = _recall(_top3(QUERIES["sim_ann_ivfpq"](spark, SF)), exact)
    assert res >= raw - 0.02, (
        f"residual@probe4 ({res:.2f}) fell below raw@probe6 ({raw:.2f}) - "
        "the lower-nprobe claim no longer holds"
    )
