"""Index-family chooser: the r11 measured decision rule in ONE place.

The reference exposes exactly one family (`createIndex IVF_SQ8
nlist=128`, /root/reference/loader.js:329-335) because Milvus makes
the choice for it; this engine has three parquet-IVF variants
(IVF_FLAT, IVF_SQ8, IVF_PQ ± SQ8-refine) and the 1M-vector
validation (tools/ivfpq_scale_r11.py, SCALE_NOTES Round 11) measured
where each wins:

- IVF_FLAT (raw vectors; this engine stores array<double>, so
  8 bytes/dim on disk): exact per-probe scoring — recall limited
  only by nprobe. The operating point when bytes are no constraint.
- IVF_SQ8 (1 byte/dim): recall 0.933 on the near-duplicate-dense 1M
  fixture — the measured default whenever 1 byte/dim fits the
  budget.
- IVF_PQ + SQ8 refine (m + dim bytes): recall 0.842 at m=16 — it
  stores MORE than SQ8 (the refine payload is a full SQ8 copy) and
  ranks WORSE, so it only wins when ADC candidate-narrowing
  throughput matters, never on bytes. Not chosen by budget; request
  it explicitly with ``want_adc_narrowing=True``.
- IVF_PQ alone (m ≈ dim/4 bytes): the sub-byte/dim storage point —
  raw ADC recall 0.062-0.2 on near-duplicate-dense data (fine-m
  0.712-0.979 on the 50k wider-margin fixture), so the plan carries
  an explicit warning when the corpus is flagged near-dup-dense.
  If a byte-bounded refine is ever needed at this point, the noted
  follow-up is IVFPQR (a second-level PQ refinement: +m bytes
  instead of +dim — SCALE_NOTES Round 11).

`plan_index_family` returns the chosen family plus the full build
sizing (plan_ivf's nlist/nprobe0/train_sample, plan_pq's m for the
PQ families); `build_planned` executes it; `open_index` reopens any
family from its meta sidecar (what a serving tier boots with —
plans/serve.ResidentSearcher accepts either index class).
"""

from __future__ import annotations

import numpy as np  # noqa: F401  (re-export convenience for callers)

from .ivf import IVFIndex, build_ivf, plan_ivf
from .pq import IVFPQIndex, build_ivfpq, plan_pq

__all__ = ["plan_index_family", "build_planned", "open_index"]


def plan_index_family(
    dim: int,
    n: int,
    byte_budget_per_vec: float | None = None,
    near_dup_dense: bool = False,
    want_adc_narrowing: bool = False,
) -> dict:
    """Choose an index family by the measured decision rule (module
    docstring) and size it. Driver arithmetic only — no Spark job.

    ``byte_budget_per_vec`` is the storage budget for the vector
    payload itself (ids/layout excluded); None means unconstrained.
    ``near_dup_dense`` marks corpora where many vectors are close
    copies (the adversarial regime for coarse PQ codes).
    ``want_adc_narrowing`` opts into PQ+SQ8-refine when the budget
    would otherwise pick SQ8 — the only reason to pay its extra m
    bytes is ADC candidate-narrowing throughput.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if byte_budget_per_vec is not None and byte_budget_per_vec <= 0:
        raise ValueError("byte_budget_per_vec must be positive")
    ivf = plan_ivf(n)
    pq = plan_pq(dim, n)
    budget = byte_budget_per_vec
    notes: list[str] = []
    warning = None
    # flat payload accounting: the engine's vector schema is
    # array<double> end-to-end (build, adds, scoring), so raw storage
    # is 8 bytes/dim — budgets between dim and 8*dim therefore get
    # SQ8, which actually fits, not flat, which wouldn't
    if budget is None or budget >= 8 * dim:
        if want_adc_narrowing:
            family, bytes_per_vec = "ivf_pq_refine", pq["m"] + dim
            notes.append(
                "PQ+SQ8-refine chosen for ADC candidate narrowing; "
                "recall 0.842 (m=16) vs SQ8 0.933 at 1M measured — "
                "costs m bytes MORE than SQ8"
            )
        else:
            family, bytes_per_vec = "ivf_flat", 8 * dim
            notes.append("unconstrained budget: raw array<double> "
                         "vectors, exact per-probe scoring")
    elif budget >= dim:
        if want_adc_narrowing:
            family, bytes_per_vec = "ivf_pq_refine", pq["m"] + dim
            if bytes_per_vec > budget:
                family, bytes_per_vec = "ivf_sq8", dim
                notes.append(
                    "PQ+SQ8-refine needs m+dim bytes > budget; SQ8 "
                    "serves the budget with better measured recall"
                )
            else:
                notes.append(
                    "PQ+SQ8-refine chosen for ADC candidate "
                    "narrowing within budget"
                )
        else:
            family, bytes_per_vec = "ivf_sq8", dim
            notes.append(
                "1 byte/dim fits: SQ8 measured 0.933 recall at 1M "
                "on a near-duplicate-dense fixture — beats PQ+refine "
                "at fewer bytes"
            )
    else:
        # sub-byte/dim: PQ alone is the only family that fits; size m
        # to the budget (largest divisor of dim not exceeding it),
        # floored at plan_pq's fine-m recommendation when that fits
        m = min(pq["m"], max(1, int(budget)))
        while dim % m:
            m -= 1
        family, bytes_per_vec = "ivf_pq", m
        notes.append(
            "sub-byte/dim budget: PQ-alone at m="
            f"{m} ({dim // m} dims/subspace)"
        )
        if bytes_per_vec > budget:
            # m floors at 1: a sub-1-byte budget cannot be met — say
            # so instead of silently claiming to fit (the refine
            # branch reports its violations the same way)
            notes.append(
                f"budget {budget} < 1 byte/vec is unsatisfiable: "
                f"plan uses m={m} ({bytes_per_vec} bytes/vec), OVER "
                "budget"
            )
        notes.append(
            "byte-bounded refine fallback if the recall floor is "
            "unmet: IVFPQR (second-level PQ, +m bytes) — "
            "SCALE_NOTES Round 11"
        )
        if near_dup_dense:
            warning = (
                "near-duplicate-dense corpus with coarse PQ codes: "
                "raw ADC recall measured 0.062-0.2 at 1M — hold a "
                "measured recall floor or raise the budget to SQ8"
            )
    plan = {
        "family": family,
        "bytes_per_vec": bytes_per_vec,
        "nlist": ivf["nlist"],
        "nprobe0": ivf["nprobe0"],
        "train_sample": ivf["train_sample"],
        "notes": notes,
        "warning": warning,
    }
    if family.startswith("ivf_pq"):
        plan["m"] = pq["m"] if family == "ivf_pq_refine" else m
        plan["residual"] = True
        plan["refine"] = "sq8" if family == "ivf_pq_refine" else None
        plan["rerank_factor0"] = pq["rerank_factor0"]
    return plan


def build_planned(index_rows, path: str, plan: dict, **kw):
    """Build the index ``plan_index_family`` chose. Extra kwargs pass
    through to the underlying builder (seed, vec_col, fit_method...).
    Returns the built index object (IVFIndex or IVFPQIndex)."""
    fam = plan["family"]
    if fam == "ivf_flat":
        return build_ivf(
            index_rows, path, nlist=plan["nlist"],
            sample_cap=plan["train_sample"], quantize=False, **kw,
        )
    if fam == "ivf_sq8":
        return build_ivf(
            index_rows, path, nlist=plan["nlist"],
            sample_cap=plan["train_sample"], quantize=True, **kw,
        )
    if fam in ("ivf_pq", "ivf_pq_refine"):
        return build_ivfpq(
            index_rows, path, nlist=plan["nlist"], m=plan["m"],
            sample_cap=plan["train_sample"],
            residual=plan["residual"], refine=plan["refine"], **kw,
        )
    raise ValueError(f"unknown family {fam!r}")


def open_index(spark, path: str, meta: dict | None = None):
    """Reopen an index of ANY family from its meta sidecar — the
    family-dispatching boot a serving tier or a drift-rebuild cron
    uses when it did not build the index itself. The sidecar is read
    once; pass ``meta`` when the caller already holds it."""
    from .ivf import _read_meta

    if meta is None:
        meta = _read_meta(spark, path)
    if meta.get("kind") == "ivf_pq":
        return IVFPQIndex.open(spark, path, meta)
    return IVFIndex.open(spark, path, meta)
