"""Streaming IVF ingestion fold (streaming/indexfold.IndexFolder):
bootstrap-on-first-trigger through the family chooser, replay-
idempotent adds (dynamic partition overwrite, not append), full-probe
exactness over base ∪ adds, epoch-guarded drift rebuild, and adds
compaction."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from shotit_worker_spark.streaming.indexfold import IndexFolder

DIM = 8


def _batch(spark, n, seed, id_base, centers=None, spread=0.05):
    rng = np.random.RandomState(seed)
    if centers is None:
        centers = rng.randn(4, DIM) * 3.0
    rows = []
    for i in range(n):
        v = centers[i % len(centers)] + rng.randn(DIM) * spread
        rows.append((id_base + i, [float(x) for x in v]))
    return centers, spark.createDataFrame(
        rows, "vec_id long, vector array<double>"
    )


def _exact_topk(rows, q, k):
    scored = sorted(
        ((float(np.dot(np.asarray(v), q)), i) for i, v in rows),
        reverse=True,
    )
    return [i for _, i in scored[:k]]


def _assert_search_matches_view(spark, folder, queries, nprobe):
    """IndexFolder.search returns, per query, the hits of the folded
    view's search_batch: ids exact, scores within 1e-9."""
    from tests.test_ivf import assert_same_hits

    kw = dict(k=5, nprobe=nprobe, id_col="vec_id", tie_col="vec_id")
    got = {}
    for r in folder.view().search_batch(spark, queries, **kw).collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    for qid, q in queries:
        want = [(r["vec_id"], r["score"])
                for r in folder.search(q, **kw).collect()]
        assert_same_hits(got[qid], want, f"query {qid}")


def _fold_three(spark, tmp_root, name, budget=None):
    centers, b0 = _batch(spark, 200, seed=1, id_base=0)
    _, b1 = _batch(spark, 100, seed=2, id_base=1000, centers=centers)
    _, b2 = _batch(spark, 100, seed=3, id_base=2000, centers=centers)
    folder = IndexFolder(
        spark, str(tmp_root / name), byte_budget_per_vec=budget
    )
    for i, b in enumerate((b0, b1, b2)):
        folder.foreach_batch(b, i)
    allrows = [
        (int(r["vec_id"]), list(r["vector"]))
        for df in (b0, b1, b2)
        for r in df.collect()
    ]
    return folder, centers, allrows


def test_bootstrap_ingest_and_fullprobe_exact(spark, tmp_root):
    folder, _, allrows = _fold_three(spark, tmp_root, "ix_exact")
    assert folder.table().count() == 400
    index = folder._index()
    assert index.mins is None  # unconstrained budget -> flat family
    nlist = len(index.centroids)
    for qid in (5, 1003, 2007):
        q = np.asarray(dict(allrows)[qid])
        got = [
            r["vec_id"]
            for r in folder.search(q, k=5, nprobe=nlist).collect()
        ]
        # flat base + flat adds at full probe is EXACT
        assert got == _exact_topk(allrows, q, 5), qid


def test_replay_idempotent(spark, tmp_root):
    folder, centers, _ = _fold_three(spark, tmp_root, "ix_rp")
    snap = folder.table().count()
    q = np.asarray(
        folder.table().filter(F.col("vec_id") == 1003)
        .first()["vector"]
    )
    nlist = len(folder._index().centroids)
    before = [(r["vec_id"], round(r["score"], 9))
              for r in folder.search(q, k=5, nprobe=nlist).collect()]
    # replay the BOOTSTRAP trigger and a middle adds trigger
    _, b0 = _batch(spark, 200, seed=1, id_base=0, centers=centers)
    _, b1 = _batch(spark, 100, seed=2, id_base=1000, centers=centers)
    folder.foreach_batch(b0, 0)
    folder.foreach_batch(b1, 1)
    assert folder.table().count() == snap
    after = [(r["vec_id"], round(r["score"], 9))
             for r in folder.search(q, k=5, nprobe=nlist).collect()]
    assert after == before


def test_compact_adds(spark, tmp_root):
    folder, _, allrows = _fold_three(spark, tmp_root, "ix_cmp")
    rep = folder.compact_adds(3)
    assert rep["archived_rows"] == 200  # both add batches
    assert rep["partitions_after"] == 1
    assert folder.table().count() == 400
    q = np.asarray(dict(allrows)[2007])
    nlist = len(folder._index().centroids)
    got = [r["vec_id"]
           for r in folder.search(q, k=5, nprobe=nlist).collect()]
    assert got == _exact_topk(allrows, q, 5)


def test_drift_rebuild_bumps_epoch_and_ignores_stale_adds(
    spark, tmp_root, pinned
):
    folder, _, allrows = _fold_three(spark, tmp_root, "ix_drift")
    # in-distribution: no rebuild
    rep = folder.rebuild_if_drifted()
    assert not rep["needs_rebuild"]
    # out-of-distribution batch the bootstrap centroids never saw
    far = np.ones((1, DIM)) * 25.0
    _, ood = _batch(spark, 150, seed=9, id_base=5000, centers=far)
    folder.foreach_batch(ood, 3)
    allrows += [
        (int(r["vec_id"]), list(r["vector"])) for r in ood.collect()
    ]
    before = pinned()
    rep = folder.rebuild_if_drifted()
    assert rep.get("rebuilt") and rep["plan"]["family"] == "ivf_flat"
    assert pinned() == before  # the union checkpoint is released
    index = folder._index()
    assert folder._epoch(index) == 1
    # every row survived into the new base; stale epoch-0 adds are
    # excluded from every read
    assert folder.table().count() == 550
    assert index.load(spark).count() == 550
    # drift cleared and the fold continues into the NEW epoch
    assert not folder.rebuild_if_drifted()["needs_rebuild"]
    _, b4 = _batch(spark, 50, seed=11, id_base=7000, centers=far)
    folder.foreach_batch(b4, 4)
    allrows += [
        (int(r["vec_id"]), list(r["vector"])) for r in b4.collect()
    ]
    assert folder.table().count() == 600
    q = np.asarray(dict(allrows)[5003])
    nlist = len(index.centroids)
    got = [r["vec_id"]
           for r in folder.search(q, k=5, nprobe=nlist).collect()]
    assert got == _exact_topk(allrows, q, 5)
    assert folder.vacuum_stale_adds() == 1


def test_floor_rebuild_carries_uncommitted_batches(spark, tmp_root,
                                                   pinned):
    # the checkpoint-floor contract: a trigger delivered but NOT yet
    # committed when the rebuild runs must not be folded into the new
    # base — its later replay would re-ingest the same rows under the
    # new epoch and duplicate them. With floor_batch_id set, batches
    # >= floor are CARRIED (re-encoded into the new epoch), so the
    # replay lands as a dynamic-overwrite no-op.
    folder, _, allrows = _fold_three(spark, tmp_root, "ix_floor")
    far = np.ones((1, DIM)) * 25.0
    _, ood = _batch(spark, 150, seed=9, id_base=5000, centers=far)
    folder.foreach_batch(ood, 3)  # delivered, NOT committed
    before = pinned()
    rep = folder.rebuild_if_drifted(floor_batch_id=3)
    assert rep.get("rebuilt") and rep.get("carried_rows") == 150
    assert pinned() == before  # both checkpoints are released
    index = folder._index()
    assert folder._epoch(index) == 1
    # base holds only the committed 400; the carried batch lives in
    # the NEW epoch's adds under its own batch_id
    assert index.load(spark).count() == 400
    assert folder.table().count() == 550
    # the checkpoint replay of trigger 3 is a no-op, NOT a duplicate
    folder.foreach_batch(ood, 3)
    assert folder.table().count() == 550
    # and the fold continues normally after it
    _, b4 = _batch(spark, 50, seed=11, id_base=7000, centers=far)
    folder.foreach_batch(b4, 4)
    assert folder.table().count() == 600


def test_rebuild_releases_pins_when_a_step_raises(spark, tmp_root, pinned,
                                                 monkeypatch):
    """A rebuild whose build write fails leaves no checkpoint pinned and
    the live base untouched."""
    from pyspark.sql.readwriter import DataFrameWriter

    folder, _, _ = _fold_three(spark, tmp_root, "ix_raise")
    far = np.ones((1, DIM)) * 25.0
    _, ood = _batch(spark, 150, seed=9, id_base=5000, centers=far)
    folder.foreach_batch(ood, 3)

    def failing_write(self, *args, **kwargs):
        raise RuntimeError("injected write failure")

    before = pinned()
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        folder.rebuild_if_drifted(floor_batch_id=3)
    assert pinned() == before
    monkeypatch.undo()
    assert folder._epoch(folder._index()) == 0
    assert folder.table().count() == 550


def test_vacuum_removes_orphan_build_dirs(spark, tmp_root):
    import os

    folder, _, _ = _fold_three(spark, tmp_root, "ix_vac")
    orphan = os.path.join(folder.state_path, "base.boot-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"junk")
    orphan2 = os.path.join(folder.state_path, "adds.compact-feedface")
    os.makedirs(orphan2)
    assert folder.vacuum_stale_adds() == 2
    assert not os.path.exists(orphan)
    assert not os.path.exists(orphan2)
    assert folder.table().count() == 400  # live state untouched


def test_sq8_budget_flows_through_chooser(spark, tmp_root):
    folder, _, allrows = _fold_three(
        spark, tmp_root, "ix_sq8", budget=DIM
    )
    index = folder._index()
    assert index.mins is not None  # SQ8 family chosen
    assert index._fold_meta["plan"]["family"] == "ivf_sq8"
    # SQ8 adds quantize with the BASE params: full-probe top-5 must
    # track the float-exact top-5 within quantization tolerance
    # (unnormalized IP has no self-retrieval guarantee even exact, so
    # the pin is set overlap, not identity)
    q = np.asarray(dict(allrows)[1003])
    got = {
        int(r["vec_id"])
        for r in folder.search(
            q, k=5, nprobe=len(index.centroids)
        ).collect()
    }
    want = set(_exact_topk(allrows, q, 5))
    assert len(got & want) >= 3, (got, want)
    _assert_search_matches_view(
        spark, folder, [(1003, q), (5, np.asarray(dict(allrows)[5]))],
        nprobe=2,
    )


def test_pq_budget_folds_and_serves(spark, tmp_root):
    # a sub-byte/dim budget chooses PQ-alone; the fold bootstraps it,
    # ingests through IVFPQIndex._encode_new_rows, and serves ADC —
    # invariants that are EXACT for PQ: layout bytes, counts, replay
    # and compaction no-ops (ADC scoring is deterministic)
    from shotit_worker_spark.index.pq import IVFPQIndex

    folder, _, allrows = _fold_three(
        spark, tmp_root, "ix_pq", budget=2
    )
    index = folder._index()
    assert isinstance(index, IVFPQIndex)
    assert index._fold_meta["plan"]["family"] == "ivf_pq"
    assert folder.table().count() == 400
    row = folder.table().first()
    assert len(row["pq_code"]) == index.m <= 2
    q = np.asarray(dict(allrows)[1003])
    nlist = len(index.centroids)
    before = [(r["vec_id"], round(r["score"], 9))
              for r in folder.search(q, k=5, nprobe=nlist).collect()]
    assert len(before) == 5
    # compaction leaves ADC results identical
    rep = folder.compact_adds(3)
    assert rep["archived_rows"] == 200
    after = [(r["vec_id"], round(r["score"], 9))
             for r in folder.search(q, k=5, nprobe=nlist).collect()]
    assert after == before
    _assert_search_matches_view(
        spark, folder, [(1003, q), (5, np.asarray(dict(allrows)[5]))],
        nprobe=2,
    )


def test_view_serves_batch_and_resident(spark, tmp_root):
    # the folded view IS an index object: search_batch and the
    # serving tier work over base ∪ adds unchanged
    from shotit_worker_spark.plans.serve import ResidentSearcher

    folder, _, allrows = _fold_three(spark, tmp_root, "ix_view")
    view = folder.view()
    nlist = len(view.centroids)
    qs = [(5, np.asarray(dict(allrows)[5])),
          (1003, np.asarray(dict(allrows)[1003]))]
    got = view.search_batch(
        spark, qs, k=5, nprobe=nlist, id_col="vec_id", tie_col="vec_id"
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(int(r["query_id"]), []).append(int(r["vec_id"]))
    for qid, q in qs:
        assert by_q[qid] == _exact_topk(allrows, q, 5), qid
    _assert_search_matches_view(spark, folder, qs, nprobe=2)
    srv = ResidentSearcher(spark, view, id_col="vec_id", tie_col=None)
    try:
        assert srv.warm() == 400
        got1 = [int(r["vec_id"])
                for r in srv.search(qs[0][1], k=5, nprobe=nlist).collect()]
        assert got1 == _exact_topk(allrows, qs[0][1], 5)
    finally:
        srv.close()


def test_state_read_honesty(spark, tmp_root):
    # missing sidecar (crash mid-bootstrap) = 'no base yet' by
    # LISTING; a corrupt sidecar = real read failure that PROPAGATES
    # (never re-bootstrap over live state on a store hiccup)
    import os

    from shotit_worker_spark.index.ivf import META_FILE

    _, b0 = _batch(spark, 80, seed=1, id_base=0)
    folder = IndexFolder(spark, str(tmp_root / "ix_honest"))
    folder.foreach_batch(b0, 0)
    meta_path = os.path.join(folder.base_path, META_FILE)
    # crash-mid-build simulation: data present, sidecar gone
    os.rename(meta_path, meta_path + ".bak")
    assert folder._index() is None
    os.rename(meta_path + ".bak", meta_path)
    assert folder._index() is not None
    # corrupt sidecar: must raise, not read as cold start
    with open(meta_path, "w") as f:
        f.write("{not json")
    with pytest.raises(Exception):
        folder._index()


def test_guards(spark, tmp_root):
    folder = IndexFolder(spark, str(tmp_root / "ix_none"))
    with pytest.raises(ValueError, match="no batches"):
        folder.table()
    _, b0 = _batch(spark, 100, seed=1, id_base=0)
    # an empty first trigger trains nothing and poisons nothing
    folder.foreach_batch(b0.limit(0), 0)
    with pytest.raises(ValueError, match="no batches"):
        folder.table()
    folder.foreach_batch(b0, 1)
    assert folder.table().count() == 100
