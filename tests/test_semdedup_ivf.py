"""SemDeDup two-level (IVF) assignment — the large-K handoff.

BASELINE.md's r11 probe showed the assignment leg is the only SemDeDup
stage that grows with K (the pair leg is flat per row at fixed n/K).
`_semdedup_assign_ivf_arrow` closes that: coarse-quantize the K
centroids into √(nprobe·K) cells driver-side, probe the top-nprobe
cells per vector, refine only against their members — per-row dot
count 2·√(nprobe·K) instead of K. These tests pin the quality and
safety contract; the speed claim lives in
scripts/semdedup_scale_probe.py + BASELINE.md.
"""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pytest

from iceberg_catalog_bench_spark.operators.dedup import (
    _list_matrix,
    _semdedup_assign_arrow,
    _semdedup_assign_ivf_arrow,
    semdedup_centroids,
    semdedup_report_arrow,
)

N_VECS = 20_000
K = 256
DIM = 16


def _clustered_emb(spark, n=N_VECS, k=K, dim=DIM):
    """Deterministic mixture corpus: k modes, vectors scattered around
    them — the shape a k-means-trained centroid table implies (real
    embedding corpora cluster; uniform-random is IVF's adversarial
    worst case and is covered by the agreement-floor test)."""
    rng = np.random.default_rng(11)
    mu = rng.normal(size=(k, dim)) * 3.0
    lbl = rng.integers(0, k, n)
    v = mu[lbl] + rng.normal(size=(n, dim)) * 0.4
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_ivf_assign_agreement_clustered(spark):
    emb = _clustered_emb(spark)
    cents = semdedup_centroids(spark, emb, K, method="kmeans", iters=1)
    flat = {r["vec_id"]: r["cid"]
            for r in _semdedup_assign_arrow(emb, cents).collect()}
    ivf = {r["vec_id"]: r["cid"]
           for r in _semdedup_assign_ivf_arrow(emb, cents).collect()}
    # safety: every vector assigned exactly once, to a real centroid
    assert set(ivf) == set(flat) and len(ivf) == N_VECS
    cids = {r["cid"] for r in cents.collect()}
    assert set(ivf.values()) <= cids
    # quality: ≥98% agreement with the exact flat assignment on a
    # clustered corpus (measured 0.9867 with these 1-Lloyd centroids;
    # 1.000 at nprobe=8 in the numpy harness once centroids sit at the
    # true modes — partially-converged centroids leave more vectors on
    # cell boundaries, which is the gap this floor absorbs)
    agree = sum(flat[i] == ivf[i] for i in flat) / len(flat)
    assert agree >= 0.98, agree
    # determinism: coarse training is seeded by cid order, no RNG
    again = {r["vec_id"]: r["cid"]
             for r in _semdedup_assign_ivf_arrow(emb, cents).collect()}
    assert again == ivf


def test_ivf_assign_agreement_floor_uniform(spark):
    """Adversarially-uniform vectors (near-equidistant centroids) are
    IVF's worst case — pin the measured floor so a regression in the
    coarse training or probe logic shows up as a drop, not silence."""
    rng = np.random.default_rng(3)
    v = rng.random((N_VECS, DIM))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v[i]]) for i in range(N_VECS)],
        "vec_id bigint, embedding array<double>")
    cents = semdedup_centroids(spark, emb, K, method="first")
    flat = {r["vec_id"]: r["cid"]
            for r in _semdedup_assign_arrow(emb, cents).collect()}
    ivf = {r["vec_id"]: r["cid"]
           for r in _semdedup_assign_ivf_arrow(emb, cents).collect()}
    agree = sum(flat[i] == ivf[i] for i in flat) / len(flat)
    # numpy harness measured 0.91 at K=256/nprobe=8 on uniform data;
    # 0.80 is the regression floor, not the quality claim
    assert agree >= 0.80, agree


def test_ivf_small_k_falls_back_to_flat(spark):
    """K below _IVF_ASSIGN_MIN_K: two probe passes cost more than one
    small matmul, so the IVF entry point must defer to the flat twin —
    byte-identical output (the driver corpus, K=8, lives here)."""
    emb = _clustered_emb(spark, n=2_000, k=8)
    cents = semdedup_centroids(spark, emb, 8, method="first")
    flat = sorted(map(tuple, _semdedup_assign_arrow(emb, cents).collect()))
    ivf = sorted(map(tuple, _semdedup_assign_ivf_arrow(emb, cents).collect()))
    assert flat == ivf


def test_report_arrow_ivf_same_stages(spark):
    """semdedup_report_arrow(assign="ivf") — every stage downstream of
    the assignment is unchanged: same schema, Window-free plan, one
    shuffle on cluster id, per-cluster matmul; accounting covers the
    whole corpus exactly once."""
    emb = _clustered_emb(spark, n=5_000, k=64)
    cents = semdedup_centroids(spark, emb, 64, method="kmeans", iters=1)
    df = semdedup_report_arrow(emb, cents, 0.9, assign="ivf")
    rows = df.collect()
    assert df.columns == ["cluster_id", "n_vectors", "n_dropped", "max_cos"]
    assert sum(r["n_vectors"] for r in rows) == 5_000
    assert all(r["n_dropped"] <= r["n_vectors"] for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "FlatMapGroupsInArrow" in final      # per-cluster matmul
    assert "MapInArrow" in final                # IVF assignment


def test_ivf_assign_duplicate_heavy_centroids_no_phantom_cid(spark):
    """Regression: duplicate-heavy centroid tables (a dedup corpus head
    under method="first" can repeat embeddings) collapse the coarse
    Lloyd so most cells own nothing — probing an empty cell used to be
    able to leave a vector with NO real candidate, leaking the
    int64-max sentinel out as a phantom cluster id. Empty cells are
    now dropped before probing, so every emitted cid must be a real
    centroid id."""
    rng = np.random.default_rng(5)
    k, dim = 256, 16
    base = rng.normal(size=(k, dim))
    base[50:250] = base[0]            # 200 duplicate centroids
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in base[i]]) for i in range(k)],
        "cid bigint, cv array<double>")
    v = rng.random((5_000, dim))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v[i]]) for i in range(5_000)],
        "vec_id bigint, embedding array<double>")
    out = _semdedup_assign_ivf_arrow(emb, cents).collect()
    assert len(out) == 5_000
    assert {r["cid"] for r in out} <= set(range(k)), \
        "phantom cluster id leaked"


def test_list_matrix_rejects_ragged_and_null_rows():
    """A batch whose total length divides its row count must not
    reshape into a misaligned matrix: rows of d-1 and d+1 values (and
    a null row) raise instead."""
    d = 4
    ok = pa.array([[1.0] * d, [2.0] * d])
    assert _list_matrix(ok).shape == (2, d)
    assert _list_matrix(ok.slice(1)).tolist() == [[2.0] * d]
    with pytest.raises(ValueError, match="not a fixed-width matrix"):
        _list_matrix(pa.array([[1.0] * (d - 1), [2.0] * (d + 1)]))
    with pytest.raises(ValueError, match="null row"):
        _list_matrix(pa.array([[1.0] * d, None, [2.0] * d]))
