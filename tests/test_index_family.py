"""Index-family chooser (index/family): the r11 measured decision
rule — SQ8 whenever 1 byte/dim fits (measured 0.933 recall at 1M vs
PQ+refine 0.842 at more bytes), PQ-alone only sub-byte/dim (with the
near-dup-dense warning), PQ+SQ8-refine only on explicit ADC-narrowing
request — plus build/open dispatch and the budgeted drift-rebuild
wiring."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from shotit_worker_spark.index import ivf
from shotit_worker_spark.index.family import (
    build_planned,
    open_index,
    plan_index_family,
)
from shotit_worker_spark.index.pq import IVFPQIndex
from shotit_worker_spark.plans import maintenance as MNT


def _vecs(spark, n, dim=8, seed=5, id_base=0, centers=None):
    rng = np.random.RandomState(seed)
    if centers is None:
        centers = rng.randn(4, dim) * 3.0
    rows = []
    for i in range(n):
        v = centers[i % len(centers)] + rng.randn(dim) * 0.05
        rows.append((id_base + i, [float(x) for x in v]))
    return centers, spark.createDataFrame(
        rows, "vec_id long, vector array<double>"
    )


def test_decision_rule():
    d, n = 64, 100_000
    # unconstrained -> raw vectors (array<double>: 8 bytes/dim)
    p = plan_index_family(d, n)
    assert p["family"] == "ivf_flat" and p["bytes_per_vec"] == 8 * d
    assert p["warning"] is None
    # a budget that fits float32 but NOT array<double> must get SQ8,
    # not a flat plan it cannot store
    p = plan_index_family(d, n, byte_budget_per_vec=4 * d)
    assert p["family"] == "ivf_sq8"
    # sub-1-byte budgets are unsatisfiable and say so
    p = plan_index_family(d, n, byte_budget_per_vec=0.5)
    assert p["family"] == "ivf_pq" and p["m"] == 1
    assert any("OVER" in s for s in p["notes"])
    # 1 byte/dim fits -> SQ8 (the measured default), NOT PQ+refine
    p = plan_index_family(d, n, byte_budget_per_vec=d)
    assert p["family"] == "ivf_sq8" and p["bytes_per_vec"] == d
    p = plan_index_family(d, n, byte_budget_per_vec=2 * d)
    assert p["family"] == "ivf_sq8"
    # sub-byte/dim -> PQ alone, m within budget and dividing dim
    p = plan_index_family(d, n, byte_budget_per_vec=10)
    assert p["family"] == "ivf_pq"
    assert p["m"] <= 10 and d % p["m"] == 0 and p["refine"] is None
    # ...and the near-dup-dense warning fires exactly there
    assert plan_index_family(d, n, 10, near_dup_dense=True)["warning"]
    assert plan_index_family(d, n, d, near_dup_dense=True)["warning"] is None
    # the IVFPQR byte-bounded-refine pointer is recorded in the notes
    assert any("IVFPQR" in s for s in p["notes"])
    # ADC narrowing is an explicit opt-in costing m+dim bytes...
    p = plan_index_family(d, n, want_adc_narrowing=True)
    assert p["family"] == "ivf_pq_refine"
    assert p["refine"] == "sq8" and p["bytes_per_vec"] == p["m"] + d
    # ...and falls back to SQ8 when its payload busts the budget
    p = plan_index_family(d, n, byte_budget_per_vec=d + 1,
                          want_adc_narrowing=True)
    assert p["family"] == "ivf_sq8"
    # sizing comes from plan_ivf
    assert p["nlist"] == ivf.plan_ivf(n)["nlist"]
    with pytest.raises(ValueError, match="byte_budget"):
        plan_index_family(d, n, byte_budget_per_vec=0)


@pytest.mark.parametrize("budget,family,cls", [
    (None, "ivf_flat", ivf.IVFIndex),
    (8, "ivf_sq8", ivf.IVFIndex),
    (4, "ivf_pq", IVFPQIndex),
])
def test_build_planned_and_open_dispatch(spark, tmp_path, budget,
                                         family, cls):
    _, df = _vecs(spark, 400)
    plan = plan_index_family(8, 400, byte_budget_per_vec=budget)
    assert plan["family"] == family
    path = str(tmp_path / f"fam_{family}")
    built = build_planned(df, path, plan, vec_col="vector")
    assert isinstance(built, cls)
    reopened = open_index(spark, path)
    assert isinstance(reopened, cls)
    # self-retrieval through the family-dispatched open: top-1 of a
    # corpus vector is a cluster-mate (unnormalized IP)
    vdf = reopened._with_vectors(reopened.load(spark))
    q = np.array(vdf.filter(F.col("vec_id") == 5).first()["vector"])
    top = reopened.search(spark, q, k=3, nprobe=plan["nlist"],
                          id_col="vec_id", tie_col=None).first()
    assert top is not None


def test_serve_open_dispatches_pq(spark, tmp_path):
    from shotit_worker_spark.plans.serve import ResidentSearcher

    _, df = _vecs(spark, 300)
    plan = plan_index_family(8, 300, byte_budget_per_vec=4)
    path = str(tmp_path / "fam_serve")
    build_planned(df, path, plan, vec_col="vector")
    srv = ResidentSearcher.open(spark, path, id_col="vec_id",
                                tie_col=None)
    try:
        assert isinstance(srv.index, IVFPQIndex)
        assert srv.warm() == 300
        q = np.array(df.filter(F.col("vec_id") == 7).first()["vector"])
        assert srv.search(q, k=3, nprobe=plan["nlist"]).count() == 3
    finally:
        srv.close()


def test_budgeted_drift_rebuild_rechooses_family(spark, tmp_path):
    centers, df = _vecs(spark, 400)
    path = str(tmp_path / "fam_rebuild")
    idx = ivf.build_ivf(df, path, nlist=4)  # flat build
    MNT.record_ivf_baseline(spark, idx)
    far = np.ones((1, 8)) * 25.0
    _, batch = _vecs(spark, 200, seed=7, id_base=20_000, centers=far)
    idx.add(batch)
    # kwargs valid on the non-budget path must not crash the budgeted
    # one (the plan owns layout/family there): vec_col is passed
    # explicitly inside, sq8_mode is IVF-only
    new_idx, rep = MNT.rebuild_if_drifted(
        spark, idx, byte_budget_per_vec=8,  # 1 byte/dim -> SQ8
        vec_col="vector", sq8_mode="global",
    )
    assert rep.get("rebuilt")
    assert rep["plan"]["family"] == "ivf_sq8"
    # the rebuilt index IS the chosen family (SQ8 codes present)...
    assert new_idx.mins is not None
    assert new_idx.load(spark).count() == 600
    # ...sized to the corpus as it is now, and drift cleared
    assert len(new_idx.centroids) == rep["plan"]["nlist"]
    assert not MNT.ivf_drift(spark, new_idx)["needs_rebuild"]
