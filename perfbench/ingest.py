"""``ingest`` workload: the hasher + loader path, video files to an index.

One operation is one pass over the seeded Y4M videos: ``binaryFile`` →
``decode_frames`` → ``embed_images`` → ``frames_to_hashes`` →
``loader_transform`` → ``build_ivf`` sized by ``plan_ivf``. A pass is
timed from the first read to the written index.
"""

from __future__ import annotations

import os

import pandas as pd

import inputs

N_VIDEOS = 4
VIDEO_SECONDS = 4.0
WARM_PASSES = 2


class Ingest:
    item = "sampled frames"
    guard = "d1_kept_ratio"  # must not move
    op_name = "ingest.pass"
    min_ops = 3
    max_ops = None

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.passes = 0

    def setup(self) -> None:
        """Write the seeded videos and ingest them ``WARM_PASSES`` times:
        the first pass starts the Python workers the kernels run in, and
        pass time keeps falling over the next ones as the JIT settles."""
        self.video_dir = os.path.join(self.work, "videos")
        os.makedirs(self.video_dir)
        videos = inputs.ingest_videos(self.seed, N_VIDEOS, VIDEO_SECONDS)
        for name, blob in videos.items():
            with open(os.path.join(self.video_dir, name), "wb") as f:
                f.write(blob)
        self.n_frames = N_VIDEOS * int(round(VIDEO_SECONDS * inputs.VIDEO_FPS))
        for _ in range(WARM_PASSES):
            self.run_op()

    def _hashes(self):
        from shotit_worker_spark.functions import media as M

        tr = self.tr
        videos = self.spark.read.format("binaryFile").load(self.video_dir)
        with tr.span("functions.decode_frames"):
            frames = M.decode_frames(videos)
            if tr.recording:  # materialize so the span holds its own work
                frames = frames.persist()
                frames.count()
        with tr.span("functions.embed_images"):
            desc = M.embed_images(frames)
            if tr.recording:
                desc = desc.persist()
                desc.count()
        with tr.span("functions.frames_to_hashes"):
            hashes = M.frames_to_hashes(desc)
        return hashes, [frames, desc]

    def run_op(self) -> int:
        """One pass; returns the number of sampled frames it ingested."""
        from shotit_worker_spark.index import ivf as IVF
        from shotit_worker_spark.plans import ingest as ING

        tr = self.tr
        hashes, cached = self._hashes()
        with tr.span("plans.loader_transform"):
            rows = ING.loader_transform(hashes).persist()
            self.n_rows = rows.count()
        with tr.span("index.plan_ivf"):
            plan = IVF.plan_ivf(self.n_rows)
        self.index_path = os.path.join(self.work, f"index-{self.passes}")
        with tr.span("index.build_ivf"):
            IVF.build_ivf(
                rows, self.index_path, nlist=plan["nlist"],
                sample_cap=plan["train_sample"],
            )
        for df in (rows, *cached):
            df.unpersist()
        self.passes += 1
        return self.n_frames

    def items_per_s(self, items: int, busy: float) -> float:
        return items / busy if busy else 0.0

    def details(self) -> dict:
        files = sum(len(fs) for _, _, fs in os.walk(self.index_path))
        return {
            "index_rows": self.n_rows,
            "state_files": files,
            "d1_kept_ratio": getattr(self, "d1_kept_ratio", None),
        }

    def check(self) -> list[str]:
        """The kept (file, time) set equals the pure-pandas reference loop
        (D1 per file, then the D2 primary-key rule), and the index holds
        exactly the loader's rows."""
        from shotit_worker_spark.operators import dedup as D

        problems = []
        hashes, _ = self._hashes()
        src = hashes.select("file", "time", "hi").toPandas()
        if len(src) != self.n_frames:
            problems.append(f"decoded {len(src)} frames, expected {self.n_frames}")
        kept = pd.concat(
            [D.sequential_dedup_pandas(g) for _, g in src.groupby("file", sort=False)]
        )
        self.d1_kept_ratio = len(kept) / max(1, len(src))
        kept["primary_key"] = kept["hi"].map(lambda h: sum(ord(c) for c in h))
        kept["hash_id"] = [f"{f}/{t:.2f}" for f, t in zip(kept["file"], kept["time"])]
        d2 = kept.sort_values(["time", "hash_id"], kind="mergesort").drop_duplicates(
            "primary_key", keep="first"
        )
        reference = {(f, round(float(t), 6)) for f, t in zip(d2["file"], d2["time"])}
        index = self.spark.read.parquet(self.index_path).select("file", "time").collect()
        engine = {(r["file"], round(float(r["time"]), 6)) for r in index}
        if engine != reference:
            problems.append(
                f"kept set differs from the reference loop: {len(engine ^ reference)} rows"
            )
        if len(index) != self.n_rows:
            problems.append(f"index has {len(index)} rows, loader output {self.n_rows}")
        return problems

    def close(self) -> None:
        pass
