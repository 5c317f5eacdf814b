"""Streaming MinHash-LSH near-dup dedup fold (streaming/lshfold):
id-ordered chunked folds must equal the single-batch fold exactly
(same keep-first greedy over the same order), verbatim copies always
drop against the manifest, within-batch greedy chains resolve exactly
(A~B, B~C, A!~C keeps A and C), replay of a trigger is idempotent,
and band-less (empty/short) documents are always kept."""

from __future__ import annotations

import pytest

from shotit_worker_spark.streaming.lshfold import LshDedupFolder


def _corpus(spark, n=120, seed=13):
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(220)]
    rows = []
    for i in range(n):
        k = int(rng.integers(6, 18))
        rows.append(
            (i, " ".join(vocab[int(j)]
                         for j in rng.integers(0, len(vocab), k)))
        )
    # verbatim copies of the first 15 docs, landing at high ids
    for i in range(15):
        rows.append((100000 + i, rows[i][1]))
    # near-verbatim: one appended token (high but sub-1.0 jaccard)
    for i in range(15, 25):
        rows.append((100000 + i, rows[i][1] + " w0 w1"))
    # empty + too-short: no shingles, never collide, always kept
    rows.append((200000, ""))
    rows.append((200001, "w1 w2"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _kept(folder):
    return sorted(r["doc_id"] for r in folder.kept().collect())


def _fold(spark, df, root, chunks, **kw):
    import pyspark.sql.functions as F

    folder = LshDedupFolder(spark, root, **kw)
    bounds = [0, 40, 80, 100000, 10**9][: chunks + 1] if chunks == 4 \
        else None
    if bounds is None:
        folder.foreach_batch(df, 0)
    else:
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            folder.foreach_batch(
                df.where((F.col("doc_id") >= lo)
                         & (F.col("doc_id") < hi)), i)
    return folder


def test_stream_fold_equals_single_batch(spark, tmp_root):
    df = _corpus(spark)
    chunked = _fold(spark, df, str(tmp_root / "lsh_c"), 4)
    single = _fold(spark, df, str(tmp_root / "lsh_s"), 1)
    got, want = _kept(chunked), _kept(single)
    assert got == want
    # verbatim copies (identical signature => every band collides)
    # all dropped; their originals kept
    assert all(100000 + i not in got for i in range(15))
    assert all(i in got for i in range(15))
    # band-less docs always kept
    assert 200000 in got and 200001 in got
    # sanity: some docs were actually deduped, most kept
    assert 120 <= len(got) < 147


def test_within_batch_greedy_chain(spark, tmp_root):
    # A~B and B~C by construction, A!~C: greedy keeps A, drops B
    # (collides kept A), keeps C (B was not kept; C shares no band
    # with A) — the rule a drop-any-collider implementation gets wrong
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = a + " iota kappa lambda mu nu xi omicron pi"
    c = "iota kappa lambda mu nu xi omicron pi rho sigma tau phi"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    folder = LshDedupFolder(
        spark, str(tmp_root / "lsh_chain"), num_hashes=32, num_bands=16,
    )
    folder.foreach_batch(df, 0)
    kept = _kept(folder)
    assert 1 in kept
    if kept == [1, 3]:
        # the intended chain shape: B collided both ways
        assert 2 not in kept
    else:
        # banding is probabilistic for non-verbatim text: whatever it
        # decided, it must match the single-batch greedy semantics,
        # which a 3-doc oracle can state directly — recompute edges
        from shotit_worker_spark.operators.dedup import (
            minhash_band_table,
            minhash_signatures,
        )

        bands = minhash_band_table(
            minhash_signatures(df, num_hashes=32, shingle_n=3), 16,
        )
        rows = bands.collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], set()).add(
                (r["band_id"], r["band_hash"]))
        kept_hashes, want = set(), []
        for did in (1, 2, 3):
            if by_doc.get(did, set()) & kept_hashes:
                continue
            kept_hashes |= by_doc.get(did, set())
            want.append(did)
        assert kept == want


def test_replay_idempotent(spark, tmp_root):
    import pyspark.sql.functions as F

    df = _corpus(spark, seed=29)
    folder = LshDedupFolder(spark, str(tmp_root / "lsh_rp"))
    parts = [
        df.where(F.col("doc_id") < 50),
        df.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 100000)),
        df.where(F.col("doc_id") >= 100000),
    ]
    folder.foreach_batch(parts[0], 0)
    folder.foreach_batch(parts[1], 1)
    snap = _kept(folder)
    folder.foreach_batch(parts[1], 1)  # checkpoint replay
    assert _kept(folder) == snap
    folder.foreach_batch(parts[2], 2)
    final = _kept(folder)
    # copies of docs kept in earlier triggers must drop cross-batch
    kept_set = set(final)
    for i in range(15):
        if i in kept_set:
            assert 100000 + i not in kept_set


def test_bucketed_fold_equals_unbucketed(spark, tmp_root):
    # the manifest bucketing is a pure layout/pruning change: kept
    # sets must be EXACTLY the unbucketed (and single-batch) result
    df = _corpus(spark, seed=31)
    bucketed = _fold(spark, df, str(tmp_root / "lsh_b"), 4,
                     n_buckets=16)
    plain = _fold(spark, df, str(tmp_root / "lsh_p"), 1)
    assert _kept(bucketed) == _kept(plain)


def test_probe_has_no_aggregate_exchange(spark, tmp_root):
    # r11 VERDICT #1: the cross-batch probe must NOT pre-distinct the
    # manifest (left_semi dedups its build side) — the only aggregate
    # in the probe plan is the final batch-id distinct (partial+final
    # pair); a manifest-side distinct would add another pair plus a
    # full-state Exchange every trigger
    from shotit_worker_spark.plans.maintenance import read_state_parquet

    df = _corpus(spark, seed=37)
    folder = LshDedupFolder(spark, str(tmp_root / "lsh_plan"))
    folder.foreach_batch(df, 0)
    seen = read_state_parquet(spark, folder.bands_path)
    # probe with MATERIALIZED frames on both sides (the manifest is
    # its own band table) so the plan shows exactly what the probe
    # ADDS: in foreach_batch the batch side is persisted, so its
    # signature-build aggregates are likewise not per-probe work
    hit = folder._probe_hits(
        seen.select("doc_id", "band_id", "band_hash"), seen
    )
    plan = hit._jdf.queryExecution().executedPlan().toString()
    n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
    assert n_aggs <= 2, plan
    # and the manifest/build side feeds the semi join from a bare
    # scan: no Exchange between the FileScan and the join other than
    # the join's own broadcast/shuffle
    assert "distinct" not in plan.lower()


def test_untouched_buckets_are_byte_stable(spark, tmp_root):
    # a trigger must neither rewrite prior batches' files nor land
    # its own partitions under buckets its bands don't hash into
    # (dynamic partition overwrite + band_hash bucketing)
    import os

    import pyspark.sql.functions as F

    from shotit_worker_spark.operators.dedup import (
        minhash_band_table,
        minhash_signatures,
    )

    df = _corpus(spark, seed=41)
    root = str(tmp_root / "lsh_stab")
    folder = LshDedupFolder(spark, root, n_buckets=32)
    big = df.where(F.col("doc_id") < 100000)
    # novel docs (nothing to dedup against): the trigger must WRITE
    small = spark.createDataFrame(
        [(500001, "zeta omega kappa lambda sigma upsilon phi chi"),
         (500002, "nova pulsar quasar nebula comet meteor aurora")],
        "doc_id long, text string",
    )
    folder.foreach_batch(big, 0)

    def _snap():
        out = {}
        for dirpath, _dirs, files in os.walk(folder.bands_path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = _snap()
    folder.foreach_batch(small, 1)
    after = _snap()
    # every pre-existing file untouched byte-for-byte
    for p, sig in before.items():
        assert after.get(p) == sig, p
    # batch 1's partitions land ONLY under its own touched buckets
    small_bands = minhash_band_table(
        minhash_signatures(small, num_hashes=folder.num_hashes,
                           shingle_n=folder.shingle_n),
        folder.num_bands,
    )
    touched = {
        r[0]
        for r in small_bands.select(
            folder.bands_state.bucket(F.col("band_hash")).alias("b")
        ).distinct().collect()
    }
    new_dirs = {
        p for p in after if p not in before and "batch_id=1" in p
    }
    assert new_dirs, "trigger 1 wrote nothing"
    for p in new_dirs:
        b = int(p.split("bucket=")[1].split("/")[0])
        assert b in touched, p
    # and a strict subset of buckets was touched (the pruning win)
    assert len(touched) < 32


def test_compact_below(spark, tmp_root):
    import pyspark.sql.functions as F

    df = _corpus(spark, seed=43)
    root = str(tmp_root / "lsh_cmp")
    folder = LshDedupFolder(spark, root, n_buckets=8)
    parts = [
        df.where(F.col("doc_id") < 40),
        df.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 100000)),
        df.where(F.col("doc_id") >= 100000),
    ]
    for i, p in enumerate(parts[:2]):
        folder.foreach_batch(p, i)
    kept_before = {r["doc_id"] for r in folder.kept().collect()}
    rep = folder.compact_below(2)
    assert rep["bands"]["archived_rows"] > 0
    assert rep["kept"]["partitions_after"] == 1  # both folded to -1
    # kept ids survive compaction (batch_id becomes the -1 archive)
    assert {r["doc_id"] for r in folder.kept().collect()} == kept_before
    # folding continues over compacted state: verbatim copies of docs
    # kept in ARCHIVED batches must still drop against the manifest
    folder.foreach_batch(parts[2], 2)
    final = {r["doc_id"] for r in folder.kept().collect()}
    for i in range(15):
        if i in final:
            assert 100000 + i not in final


def test_guards(spark, tmp_root):
    with pytest.raises(ValueError, match="num_hashes"):
        LshDedupFolder(spark, "x", num_hashes=1)
    with pytest.raises(ValueError, match="num_bands"):
        LshDedupFolder(spark, "x", num_bands=0)
    f = LshDedupFolder(spark, str(tmp_root / "lsh_none"))
    with pytest.raises(ValueError, match="no batches"):
        f.kept()


@pytest.mark.parametrize("n_buckets", [None, 16])
@pytest.mark.parametrize("cc_cap", [None, 0])
def test_distributed_tier_equals_one_collect(spark, tmp_root, monkeypatch,
                                             n_buckets, cc_cap):
    # the distributed component tier (chosen when the one collect
    # exceeds DRIVER_GREEDY_CAP) must keep exactly the one-collect
    # tier's set, chunked or not; cc_cap=0 also routes its components
    # through the distributed connected_components instead of the
    # driver union-find
    df = _corpus(spark, seed=47)
    tag = f"{n_buckets}_{cc_cap}"
    want = _kept(_fold(spark, df, str(tmp_root / f"lsh_1s_{tag}"), 1,
                       n_buckets=n_buckets))
    monkeypatch.setattr(LshDedupFolder, "DRIVER_GREEDY_CAP", 0)
    if cc_cap is not None:
        monkeypatch.setattr(LshDedupFolder, "DRIVER_CC_CAP", cc_cap)
    for chunks in (4, 1):
        got = _kept(_fold(spark, df, str(tmp_root / f"lsh_d{chunks}_{tag}"),
                          chunks, n_buckets=n_buckets))
        assert got == want, chunks
    # the corpus really exercises both drop paths
    assert all(100000 + i not in want for i in range(15))


def test_null_ids_match_distributed_tier(spark, tmp_root, monkeypatch):
    # a NULL id never matches the dropping anti-joins: both tiers keep
    # it (and do not let it drop anyone) instead of failing the walk
    text = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, text), (None, text), (2, text), (3, "iota kappa lambda mu nu"),
         (None, "iota kappa lambda mu nu xi")],
        "doc_id long, text string",
    )

    def kept(root):
        folder = LshDedupFolder(spark, str(tmp_root / root), n_buckets=4)
        folder.foreach_batch(df.where("doc_id IS NULL OR doc_id < 3"), 0)
        folder.foreach_batch(df.where("doc_id IS NULL OR doc_id >= 3"), 1)
        return sorted(folder.kept().collect(),
                      key=lambda r: (r["doc_id"] is None, r["doc_id"] or 0,
                                     r["batch_id"]))

    one = kept("lsh_null_1")
    monkeypatch.setattr(LshDedupFolder, "DRIVER_GREEDY_CAP", 0)
    assert kept("lsh_null_d") == one
    ids = [r["doc_id"] for r in one]
    assert 1 in ids and 2 not in ids
    assert ids.count(None) == 4  # both NULL docs, in both triggers
