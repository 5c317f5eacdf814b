"""``search`` workload: the searcher path, a screenshot to its top-15.

Set-up builds a resident index over a seeded hash-token corpus, whose
first scenes are headed by the hashes of half the query images, with
``build_ivf`` sized by
``plan_ivf``, calibrates nprobe to recall 0.9 with ``calibrate_nprobe``
and serves it through ``ResidentSearcher`` behind ``SearchHTTPServer``.
One operation is one request of a closed loop with a single client:
POST a JPEG to ``/search`` (k=15) and parse the response.
"""

from __future__ import annotations

import http.client
import json
import os

import numpy as np
import pandas as pd

import inputs

N_SCENES = 125
SCENE_ROWS = 40  # 5,000 corpus rows
N_PLANTED = 8  # planted query images; as many perturbed copies
K = 15
TARGET_RECALL = 0.9
WARM_REQUESTS = 24


def exact_top(vectors: np.ndarray, q: np.ndarray, k: int) -> list[int]:
    """Exact top-k row numbers by score, ties to the lower row (the
    index's primary_key tie rule; primary_key is the row number)."""
    scores = vectors @ q
    return [int(i) for i in np.lexsort((np.arange(len(scores)), -scores))[:k]]


class Search:
    item = "requests"
    guard = "recall_at_15"  # must not move
    op_name = "search.request"
    min_ops = 2 * N_PLANTED  # one shuffle queries every image
    max_ops = None

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.server = None
        self.searcher = None
        self.statuses: dict[int, int] = {}
        self.rank1_misses = 0
        self.recall: dict[int, float] = {}
        self._restore = []

    def setup(self) -> None:
        from shotit_worker_spark.functions import vector as V
        from shotit_worker_spark.functions.media import embed_query_image, image_ha_tokens
        from shotit_worker_spark.index import ivf as IVF
        from shotit_worker_spark.plans.http_api import SearchHTTPServer
        from shotit_worker_spark.plans.serve import ResidentSearcher

        tr = self.tr
        self.images = inputs.query_images(self.seed, N_PLANTED)
        planted = [image_ha_tokens(img) for is_planted, img in self.images if is_planted]
        tokens = inputs.search_corpus(
            self.seed, N_SCENES, SCENE_ROWS, inputs.ha_tokens(planted)
        )
        n = len(tokens)
        path = os.path.join(self.work, "corpus.parquet")
        ids = np.arange(n, dtype=np.int64)
        pd.DataFrame(
            {"hash_id": ids, "primary_key": ids, "ha": inputs.ha_strings(tokens)}
        ).to_parquet(path)

        # driver-side ground truth: the same decode -> normalize
        vecs = tokens / np.linalg.norm(tokens, axis=1, keepdims=True)
        qvecs = [embed_query_image(img) for _, img in self.images]
        self.truth = [exact_top(vecs, q, K) for q in qvecs]
        # planted image j heads scene j
        self.planted_id = {
            i: SCENE_ROWS * j
            for j, i in enumerate(i for i, (p, _) in enumerate(self.images) if p)
        }

        rows = self.spark.read.parquet(path).select(
            "hash_id", "primary_key", V.decoded_padded_normalized("ha", 100).alias("vector")
        )
        with tr.span("index.plan_ivf"):
            plan = IVF.plan_ivf(n)
        with tr.span("index.build_ivf"):
            index = IVF.build_ivf(
                rows, os.path.join(self.work, "index"),
                nlist=plan["nlist"], sample_cap=plan["train_sample"],
            )
        # calibrate on the query images themselves: recall is held on the
        # traffic the server sees
        queries = list(enumerate(qvecs))
        exact = {i: set(t) for i, t in enumerate(self.truth)}
        with tr.span("index.calibrate_nprobe"):
            self.calibration = IVF.calibrate_nprobe(
                self.spark, index, queries, exact, k=K,
                target_recall=TARGET_RECALL, start_nprobe=plan["nprobe0"],
            )
        with tr.span("plans.warm"):
            self.searcher = ResidentSearcher(self.spark, index)
            # the server's constructor warms the resident cache
            self.server = SearchHTTPServer(
                self.searcher, k=K, nprobe=self.calibration["nprobe"]
            )
        self.server.start()
        self.plan = plan
        if tr.active:
            self._trace_calls()
        # the JVM's JIT speeds the query path up over the first requests;
        # time only the settled server
        for i in range(WARM_REQUESTS):
            self._request(i % len(self.images))
        self.order = np.random.default_rng([self.seed, 6])
        self.queue: list[int] = []

    def _trace_calls(self) -> None:
        """Span the handler's calls into the engine, from outside it."""
        from shotit_worker_spark.plans import http_api

        tr, sc = self.tr, self.spark.sparkContext
        embed = http_api.embed_query_image
        search = self.searcher.search
        probe = self.searcher.index.probe_ids

        def traced_embed(*a, **kw):
            with tr.span("functions.embed_query_image"):
                return embed(*a, **kw)

        def traced_probe(*a, **kw):
            with tr.span("index.probe_ids"):
                return probe(*a, **kw)

        class _Collect:
            def __init__(self, df):
                self.df = df

            def collect(self):
                with tr.span("plans.collect"):
                    return self.df.collect()

        def traced_search(*a, **kw):
            tr.join_group(sc)
            with tr.span("plans.ResidentSearcher.search"):
                return _Collect(search(*a, **kw))

        http_api.embed_query_image = traced_embed
        self.searcher.search = traced_search
        self.searcher.index.probe_ids = traced_probe
        self._restore = [(http_api, "embed_query_image", embed)]

    def _request(self, i: int) -> dict | None:
        conn = http.client.HTTPConnection("127.0.0.1", self.server.port, timeout=120)
        try:
            conn.request("POST", "/search", body=self.images[i][1])
            resp = conn.getresponse()
            body = resp.read()
        finally:
            conn.close()
        self.statuses[resp.status] = self.statuses.get(resp.status, 0) + 1
        return json.loads(body) if resp.status == 200 else None

    def run_op(self) -> int:
        """One request for the next image of a seeded shuffle; returns 1."""
        if not self.queue:
            self.queue = list(self.order.permutation(len(self.images)))
        i = int(self.queue.pop())
        got = self._request(i)
        if got is None:
            raise RuntimeError(f"/search answered {self.statuses}")
        ids = [d["hash_id"] for d in got["response"]["docs"]]
        if i in self.planted_id and (not ids or ids[0] != self.planted_id[i]):
            self.rank1_misses += 1
        self.recall.setdefault(i, len(set(ids) & set(self.truth[i])) / K)
        return 1

    def items_per_s(self, items: int, busy: float) -> float:
        return items / busy if busy else 0.0

    def details(self) -> dict:
        return {
            "recall_at_15": sum(self.recall.values()) / len(self.images),
            "images_queried": len(self.recall),
            "nprobe": self.calibration["nprobe"],
            "calibration_curve": self.calibration["curve"],
            "plan": self.plan,
            "http_statuses": self.statuses,
            "state_files": sum(
                len(fs) for _, _, fs in os.walk(os.path.join(self.work, "index"))
            ),
        }

    def check(self) -> list[str]:
        """Every planted image is its own top hit; no 501 or other error;
        the served recall@15 holds the calibration target, so latency is
        not bought with recall."""
        problems = []
        if self.rank1_misses:
            problems.append(f"{self.rank1_misses} planted queries missed rank 1")
        bad = {s: n for s, n in self.statuses.items() if s != 200}
        if bad:
            problems.append(f"non-200 responses: {bad}")
        recall = sum(self.recall.values()) / len(self.images)
        if recall < TARGET_RECALL:
            problems.append(f"served recall@15 {recall:.3f} < {TARGET_RECALL}")
        return problems

    def close(self) -> None:
        for obj, name, value in self._restore:
            setattr(obj, name, value)
        self._restore = []
        if self.server is not None:
            self.server.stop()
            self.server = None
        if self.searcher is not None:
            self.searcher.close()
            self.searcher = None
