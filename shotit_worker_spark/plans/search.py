"""The search pipeline — query payload → top-k hits (SURVEY §3.1).

Collapses the reference's four-hop query path (express → temp store →
Solr extract → Milvus search, /root/reference/searcher.js:186-237) into
one logical plan: decode the query's hash-token string with the SAME
kernel the write side uses (P9→P10→P11 — the reference splits this
between Solr and its own code only as a deployment artifact), then
score it: ``operators.similarity.exact_topk`` brute force, or the
nprobe path ``IVFIndex.search``.
"""

from __future__ import annotations

import numpy as np


def query_vector_from_ha(ha: str, dim: int) -> np.ndarray:
    """Driver-side mirror of the query embed path
    (/root/reference/searcher.js:40-60): hex decode → pad/truncate →
    L2-normalize. Single query vectors are tiny; keeping this on the
    driver avoids a one-row Spark job."""
    toks = [int(t, 16) for t in ha.split(" ") if t]
    v = np.zeros(dim, dtype=np.float64)
    n = min(dim, len(toks))
    v[:n] = toks[:n]
    norm = float(np.sqrt((v * v).sum()))
    return v / norm if norm > 0 else v


def solr_shaped_response(hits: list[dict], raw_docs_count: int) -> dict:
    """Wrap ranked hits in the reference's response shape
    (/root/reference/searcher.js:223-232) for API-parity consumers."""
    return {
        "RawDocsCount": raw_docs_count,
        "RawDocsSearchTime": 0,
        "ReRankSearchTime": 0,
        "response": {"numFound": len(hits), "start": 0, "docs": hits},
    }
