"""Codec gates: every decoder's output hash-checked against an
independent source (the fixture encoders' own reconstruction, the
JRE's committed rasters, or the source samples of a lossless stream).
"""

from __future__ import annotations

import functools
import hashlib
import os
import sys

from pyspark.sql import DataFrame, SparkSession

from gates import _REPO_DIR, _TOOLS_DIR, _values_oracle, gate
from shotit_worker_spark.smallframe import arrow_rows as _arrow_rows


def _md5_row(img, *key) -> tuple:
    """(*key, height, width, md5) of a decoded raster."""
    return (*key, int(img.shape[0]), int(img.shape[1]),
            hashlib.md5(img.tobytes()).hexdigest())


def _pcm_row(pcm, rate, *key) -> tuple:
    """(*key, n, channels, rate, md5) of decoded PCM on an int grid."""
    return (*key, int(pcm.shape[0]), int(pcm.shape[1]), int(rate),
            hashlib.md5(pcm.astype("<i8").tobytes()).hexdigest())


def _per_case(spark: SparkSession, case_ids, case_rows, schema: str
              ) -> DataFrame:
    """One executor task per case: ``case_rows(case_id)`` decodes the
    case with the engine under test and returns its hashed rows."""
    cols = [c.split()[0] for c in schema.split(", ")]

    def run(batches):
        import pandas as pd

        for b in batches:
            yield pd.DataFrame(
                [r for cid in b["case_id"] for r in case_rows(cid)],
                columns=cols)

    df = _arrow_rows(spark, [(cid,) for cid in case_ids], "case_id string")
    return df.repartition(len(case_ids)).mapInPandas(run, schema=schema)


_JPEG_GOLD_DIR = os.path.join(_REPO_DIR, "tests", "goldens", "jpeg")

# The q72 streams, in case-id order: (case_id, family, qp, deblock,
# mbw, mbh, noise, options). What each family covers:
# - i: one IDR — deblocking on/off, the completed coeff_token deep tail
#   (QP 2 + heavy noise), per-MB QP wobble under the filter, pure i4/i16
#   plans and the default plan's PCM macroblocks; options (plan, wobble).
# - p: an IDR then n_frames-1 coded P frames, options (plan_name,
#   n_frames); the gate hashes the LAST frame, so the whole reference
#   chain (inter pred, MV prediction, P_Skip, MV-aware deblocking) must
#   be bit-exact.
# - b: decode order IDR, P, B (presentation I B P); the gate hashes the
#   B frame, so bi-prediction, both reference lists, spatial direct
#   (incl. colZeroFlag) and two-list deblock strengths must all be
#   bit-exact vs the independent encoder's reconstruction.
# - mr: multi-reference chain (x264's default activates several L0
#   refs) — I, P(1 ref), P(2 refs w/ per-partition ref_idx), B(2 L0
#   refs + per-slot indices): list construction, te(v) ref parse,
#   refIdx-aware MV prediction/direct/deblock.
# - wp: explicit weighted prediction (x264 weightp fades): I, weighted P
#   (luma+chroma weights/offsets incl. P_Skip under the table),
#   weighted-bi B.
# - iwp: implicit weighted biprediction (weighted_bipred_idc 2, x264's B
#   default) — POC-distance weights, non-equidistant on purpose.
# - rplm: ref_pic_list_modification (7.3.3.1 / 8.2.4.3) — a P slice
#   whose L0 list is REVERSED by picNum commands and a B slice whose L1
#   list is promoted, decoded from the DEFAULT initial lists.
# - td: temporal direct mode (8.4.1.2.3) — POC-scaled colocated MVs over
#   a P colocated picture mixing skip/intra/real motion.
# - ms: multi-slice pictures — I/P/B each tiled into 2 row-slices;
#   prediction availability resets per slice, deblock crosses.
# - High-profile CAVLC, scaling matrices + the 8x8 transform. hpi: one
#   IDR mixing Intra_8x8/i4/i16/PCM under the spec DEFAULT scaling lists
#   (weighted dequant on every class incl. both DC paths), deblocked
#   with the 8x8 internal-edge rules; hpp: an I(Intra_8x8) -> P chain
#   whose inter MBs mix transform_size_8x8_flag 1/0 across 16x16 / 16x8
#   / all-8x8 partitions (8x8-aware bS); cip: a constrained_intra_pred P
#   chain mixing i4/i8 intra MBs with inter neighbors — drives the
#   8.3.1.1 dcPredModePredictedFlag CIP branch.
_AVC_CASES = (
    ("a_base_qp28", "i", 28, 0, 2, 2, 16, (None, False)),
    ("b_deblock_qp36", "i", 36, 1, 3, 2, 16, (None, False)),
    ("c_tail_qp2", "i", 2, 0, 2, 2, 120, ("i4", False)),
    ("d_wobble_deblock24", "i", 24, 1, 2, 3, 16, (None, True)),
    ("e_i16_deblock_qp44", "i", 44, 1, 2, 2, 40, ("i16", False)),
    ("f_mixed_deblock30", "i", 30, 1, 3, 3, 16, (None, False)),
    ("g_pchain_deblock28", "p", 28, 1, 3, 2, 16, ("mixed", 3)),
    ("h_pfrac_qp26", "p", 26, 0, 4, 2, 20, ("frac", 2)),
    ("i_bchain_deblock27", "b", 27, 1, 4, 3, 16, ()),
    ("j_bdirect_qp31", "b", 31, 0, 3, 3, 24, ()),
    ("k_multiref_deblock26", "mr", 26, 1, 5, 3, 16, ()),
    ("l_weighted_deblock26", "wp", 26, 1, 4, 3, 16, ()),
    ("m_implicit_deblock26", "iwp", 26, 1, 4, 3, 16, ()),
    ("n_rplm_deblock26", "rplm", 26, 1, 4, 3, 16, ()),
    ("o_temporal_deblock26", "td", 26, 1, 4, 3, 16, ()),
    ("p_multislice_deblock26", "ms", 26, 1, 4, 4, 16, ()),
    ("q_high8x8_scal26", "hpi", 26, 1, 4, 3, 16, ()),
    ("r_high8x8_pchain28", "hpp", 28, 1, 4, 3, 16, ()),
    ("s_cip_high26", "cip", 26, 1, 4, 3, 16, ()),
)
_AVC_CASE_BY_ID = {c[0]: c for c in _AVC_CASES}
_AVC_CASE_IDS = tuple(c[0] for c in _AVC_CASES)


def _avc_wp_entries(case_id: str, frames, mbw):
    """Decode-order entries for the weighted-prediction gate case."""
    wp = {"d": 6, "dc": 5, "l0": [(48, 5, 28, -3, 36, 7)]}
    wb = {"d": 5, "dc": 4, "l0": [(40, -4, 12, 2, 20, 0)],
          "l1": [(24, 6, 18, 1, 14, -2)]}

    def p_plan(mbx, mby):
        k = (mbx + mby) % 3
        if k == 0:
            return {"kind": "skip"}
        if k == 1:
            return {"kind": "p16", "mv": (5, -2)}
        return {"kind": "p16x8", "mvs": [(1, 1), (-3, 2)]}

    def b_plan(mbx, mby):
        k = (mbx + mby) % 4
        if k == 0:
            return {"kind": "bskip"}
        if k == 1:
            return {"kind": "b16", "modes": ["bi"],
                    "mvs": [((2, 1), (-2, 3))]}
        if k == 2:
            return {"kind": "b16", "modes": ["l1"],
                    "mvs": [(None, (4, -1))]}
        return {"kind": "bdirect"}

    return [
        {"kind": "I", "frame": frames[0], "poc": 0},
        {"kind": "P", "frame": frames[2], "ref": 0, "poc": 4,
         "plan": p_plan, "weights": wp},
        {"kind": "B", "frame": frames[1], "ref0": 0, "ref1": 1,
         "poc": 2, "plan": b_plan, "weights": wb},
    ]


def _avc_iwp_entries(case_id: str, frames, mbw):
    """Decode-order entries for the implicit-bipred gate case: the B
    sits at POC 2 between references at POC 0 and 8, so the implicit
    table is non-trivial ((48,16) / (16,48) across the list pairs)
    and a 32/32-only implementation cannot pass."""

    def b_plan(mbx, mby):
        k = (mbx + mby * mbw) % 5
        if k == 0:
            return {"kind": "bskip"}
        if k == 1:
            return {"kind": "bdirect"}
        if k == 2:
            return {"kind": "b16", "modes": ["bi"],
                    "mvs": [((2, 1), (-2, 3))], "refs0": [0],
                    "refs1": [0]}
        if k == 3:  # bi over the swapped pair -> (16, 48) weights
            return {"kind": "b16x8", "modes": ["bi", "bi"],
                    "mvs": [((4, 0), (1, -2)), ((1, 2), (-1, 1))],
                    "refs0": [0, 1], "refs1": [0, 1]}
        return {"kind": "b16", "modes": ["l1"],
                "mvs": [(None, (4, -1))], "refs1": [0]}

    return [
        {"kind": "I", "frame": frames[0], "poc": 0},
        {"kind": "P", "frame": frames[2], "ref": 0, "poc": 8,
         "plan": lambda x, y: {"kind": "p16", "mv": (3, -1)}},
        {"kind": "B", "frame": frames[1], "refs0": [0, 1],
         "refs1": [1, 0], "poc": 2, "plan": b_plan},
    ]


def _avc_td_entries(case_id: str, frames, mbw):
    """Decode-order entries for the temporal-direct gate case: the
    colocated P mixes skip, intra and real MVs so the B's scaled
    derivation exercises every colocated branch."""

    def p_plan(mbx, mby):
        k = (mbx + mby * mbw) % 4
        if k == 0:
            return {"kind": "skip"}
        if k == 1:
            return {"kind": "i16", "qp": 26}
        if k == 2:
            return {"kind": "p16", "mv": (9, -6)}
        return {"kind": "p16x8", "mvs": [(1, 5), (-7, 2)]}

    def b_plan(mbx, mby):
        k = (mbx + mby * mbw) % 4
        if k == 0:
            return {"kind": "bskip"}
        if k == 1:
            return {"kind": "bdirect"}
        if k == 2:
            return {"kind": "b8x8",
                    "subs": ["direct", ("8x4", "l0"), "direct",
                             ("4x4", "bi")],
                    "mvs": [((0, 5), None), ((2, -2), None),
                            ((1, 1), (0, 0)), ((2, 0), (1, 1)),
                            ((0, 2), (-1, 0)), ((3, 3), (2, 2))]}
        return {"kind": "b16", "modes": ["bi"],
                "mvs": [((2, 1), (-2, 3))]}

    return [
        {"kind": "I", "frame": frames[0], "poc": 0},
        {"kind": "P", "frame": frames[2], "ref": 0, "poc": 8,
         "plan": p_plan},
        {"kind": "B", "frame": frames[1], "ref0": 0, "ref1": 1,
         "poc": 2, "plan": b_plan, "direct": "temporal"},
    ]


def _avc_ms_entries(case_id: str, frames, mbw):
    """Decode-order entries for the multi-slice gate case: I, P and
    B pictures each tiled into two row-slices."""

    def p_plan(mbx, mby):
        k = (mbx + mby * mbw) % 3
        if k == 0:
            return {"kind": "skip"}
        if k == 1:
            return {"kind": "p16", "mv": (5, -2)}
        return {"kind": "p16x8", "mvs": [(1, 1), (-3, 2)]}

    def b_plan(mbx, mby):
        k = (mbx + mby * mbw) % 4
        if k == 0:
            return {"kind": "bskip"}
        if k == 1:
            return {"kind": "bdirect"}
        if k == 2:
            return {"kind": "b16", "modes": ["bi"],
                    "mvs": [((2, 1), (-2, 3))]}
        return {"kind": "b16", "modes": ["l1"],
                "mvs": [(None, (4, -1))]}

    return [
        {"kind": "I", "frame": frames[0], "poc": 0, "slices": 2},
        {"kind": "P", "frame": frames[2], "ref": 0, "poc": 4,
         "plan": p_plan, "slices": 2},
        {"kind": "B", "frame": frames[1], "ref0": 0, "ref1": 1,
         "poc": 2, "plan": b_plan, "slices": 2},
    ]


def _avc_rplm_entries(case_id: str, frames, mbw):
    """Decode-order entries for the list-modification gate case:
    I P1 P2, a P whose L0 is reversed to [I, P1, P2] by the commands
    [(0,2),(1,0)], and a B whose L1 promotes the PAST reference."""

    def p3_plan(mbx, mby):
        k = (mbx + mby * mbw) % 4
        if k == 3:
            return {"kind": "skip"}
        return {"kind": "p16", "mv": (2 + k, -k), "refs": [k]}

    def b_plan(mbx, mby):
        k = (mbx + mby * mbw) % 4
        if k == 0:
            return {"kind": "bskip"}
        if k == 1:
            return {"kind": "b16", "modes": ["l1"],
                    "mvs": [(None, (4, -1))], "refs1": [0]}
        if k == 2:
            return {"kind": "b16", "modes": ["bi"],
                    "mvs": [((2, 1), (-2, 3))], "refs0": [0],
                    "refs1": [1]}
        return {"kind": "bdirect"}

    return [
        {"kind": "I", "frame": frames[0], "poc": 0},
        {"kind": "P", "frame": frames[1], "ref": 0, "poc": 2,
         "plan": lambda x, y: {"kind": "p16", "mv": (3, 1)}},
        {"kind": "P", "frame": frames[2], "ref": 1, "poc": 4,
         "plan": lambda x, y: {"kind": "p16", "mv": (-2, 2)}},
        {"kind": "P", "frame": frames[3], "refs": [0, 1, 2], "poc": 6,
         "rplm0": [(0, 2), (1, 0)], "plan": p3_plan},
        {"kind": "B", "frame": frames[4], "refs0": [2, 3],
         "refs1": [2, 3], "poc": 5, "rplm1": [(0, 1)],
         "plan": b_plan},
    ]


def _avc_mr_entries(case_id: str, frames, mbw):
    """Decode-order entries for the multi-ref gate case."""
    def p2_plan(mbx, mby):
        k = (mbx + mby * mbw) % 5
        if k == 0:
            return {"kind": "skip"}
        if k == 1:
            return {"kind": "p16", "mv": (4, -2), "refs": [0]}
        if k == 2:
            return {"kind": "p16", "mv": (-6, 3), "refs": [1]}
        if k == 3:
            return {"kind": "p16x8", "mvs": [(2, 2), (1, -5)],
                    "refs": [1, 0]}
        return {"kind": "p8x8", "subs": [0, 1, 2, 3],
                "refs": [0, 1, 1, 0],
                "mvs": [(1, 1), (2, 0), (0, 3), (-1, 2), (4, 4),
                        (5, -1), (2, 2), (3, 3), (0, 0)]}

    def b_plan(mbx, mby):
        k = (mbx + mby * mbw) % 6
        if k == 0:
            return {"kind": "bskip"}
        if k == 1:
            return {"kind": "bdirect"}
        if k == 2:
            return {"kind": "b16", "modes": ["l0"],
                    "mvs": [((6, -3), None)], "refs0": [1]}
        if k == 3:
            return {"kind": "b16", "modes": ["bi"],
                    "mvs": [((2, 1), (-2, 5))], "refs0": [1],
                    "refs1": [0]}
        if k == 4:
            return {"kind": "b16x8", "modes": ["l0", "bi"],
                    "mvs": [((4, 0), None), ((1, 2), (-3, -1))],
                    "refs0": [0, 1], "refs1": [0, 0]}
        return {"kind": "b8x8",
                "subs": ["direct", ("8x4", "l0"), ("4x8", "l1"),
                         ("4x4", "bi")],
                "refs0": [0, 1, 0, 1], "refs1": [0, 0, 0, 0],
                "mvs": [((3, 1), None), ((-1, 2), None),
                        (None, (0, 5)), (None, (2, -2)),
                        ((1, 1), (0, 0)), ((2, 0), (1, 1)),
                        ((0, 2), (-1, 0)), ((3, 3), (2, 2))]}

    return [
        {"kind": "I", "frame": frames[0], "poc": 0},
        {"kind": "P", "frame": frames[1], "ref": 0, "poc": 2,
         "plan": lambda x, y: {"kind": "p16", "mv": (3, 1)}},
        {"kind": "P", "frame": frames[3], "refs": [1, 0], "poc": 6,
         "plan": p2_plan},
        {"kind": "B", "frame": frames[2], "refs0": [1, 0],
         "refs1": [2], "poc": 4, "plan": b_plan},
    ]


def _avc_b_plan(case_id: str):
    """Per-MB B-frame plan for the gate cases: the deblocked chain
    walks every prediction shape; the QP-31 case leans on skip/direct
    (the spatial-direct derivation dominates)."""
    heavy_direct = case_id.startswith("j_")

    def plan(mbx, mby):
        k = (mbx + mby * 3 if heavy_direct else mbx + mby * 4) % 10
        if heavy_direct and k % 3 != 2:
            return {"kind": "bskip"} if k % 2 else {"kind": "bdirect"}
        if k == 0:
            return {"kind": "bskip"}
        if k == 1:
            return {"kind": "bdirect"}
        if k == 2:
            return {"kind": "b16", "modes": ["l0"],
                    "mvs": [((6, -3), None)]}
        if k == 3:
            return {"kind": "b16", "modes": ["l1"],
                    "mvs": [(None, (-5, 7))]}
        if k == 4:
            return {"kind": "b16", "modes": ["bi"],
                    "mvs": [((2, 1), (-2, 5))]}
        if k == 5:
            return {"kind": "b16x8", "modes": ["l0", "bi"],
                    "mvs": [((4, 0), None), ((1, 2), (-3, -1))]}
        if k == 6:
            return {"kind": "b8x16", "modes": ["bi", "l1"],
                    "mvs": [((0, 4), (5, -2)), (None, (7, 3))]}
        if k == 7:
            return {"kind": "b8x8",
                    "subs": ["direct", ("8x4", "l0"), ("4x8", "l1"),
                             ("4x4", "bi")],
                    "mvs": [((3, 1), None), ((-1, 2), None),
                            (None, (0, 5)), (None, (2, -2)),
                            ((1, 1), (0, 0)), ((2, 0), (1, 1)),
                            ((0, 2), (-1, 0)), ((3, 3), (2, 2))]}
        if k == 8:
            return {"kind": "i16", "qp": 25}
        return {"kind": "b16", "modes": ["bi"],
                "mvs": [((9, -6), (-7, 2))], "qp": 29}

    return plan


def _avc_p_plan(plan_name: str, frame_no: int):
    """Deterministic per-MB P-frame plan callables for the gate."""
    if plan_name == "mixed":
        def plan(mbx, mby):
            i = (mbx + mby + frame_no) % 4
            if i == 0:
                return {"kind": "skip"}
            if i == 1:
                return {"kind": "p16", "mv": (5, -2), "code": True}
            if i == 2:
                return {"kind": "i16"}
            return {"kind": "p16x8", "mvs": [(0, 0), (9, -5)],
                    "code": True}
        return plan

    def plan(mbx, mby):  # "frac": every quarter-pel phase + sub-8x8
        i = (mby * 4 + mbx) % 16
        if i == 15:
            return {"kind": "p8x8", "subs": [0, 1, 2, 3],
                    "mvs": [(4, 4), (1, -2), (3, 5), (-9, 1), (2, 2),
                            (0, 7), (6, -1), (5, 5), (-3, -3)],
                    "code": True}
        return {"kind": "p16", "mv": (8 + i % 4, -8 + i // 4),
                "code": True}
    return plan

def _avc_b_entries(case_id: str, frames, mbw):
    """Decode-order entries for the B-chain gate cases."""
    return [
        {"kind": "I", "frame": frames[0], "poc": 0},
        {"kind": "P", "frame": frames[2], "ref": 0, "poc": 4,
         "plan": lambda x, yb: {"kind": "p16", "mv": (5, -3)}},
        {"kind": "B", "frame": frames[1], "ref0": 0, "ref1": 1,
         "poc": 2, "plan": _avc_b_plan(case_id)},
    ]


def _avc_cip_entries(case_id: str, frames, mbw):
    """Decode-order entries for the constrained-intra High-profile
    case: an all-Intra_8x8 IDR, then a P mixing i4/i8 intra MBs with
    inter neighbors."""

    def p_plan(mbx, mby):
        k = (mbx + mby) % 4
        if k == 0:
            return {"kind": "p16", "mv": (1, 1), "t8": True}
        if k == 1:
            return {"kind": "i8"}
        if k == 2:
            return {"kind": "p16", "mv": (0, 2)}
        return {"kind": "i4"}

    return [
        {"kind": "I", "frame": frames[0],
         "plan": (lambda x, yy: "i8"), "poc": 0},
        {"kind": "P", "frame": frames[1], "plan": p_plan,
         "ref": 0, "poc": 2},
    ]


def _avc_hpp_plan(mbx, mby):
    """P-frame plan of the High-profile P chain: 8x8-transform inter
    MBs across partitions, an Intra_8x8 MB and a 4x4-transform one."""
    k = (mbx + mby) % 5
    if k == 0:
        return {"kind": "p16", "mv": (mbx % 3 - 1, 4), "t8": True}
    if k == 1:
        return {"kind": "p16x8", "mvs": [(2, 1), (-1, 0)], "t8": True}
    if k == 2:
        return {"kind": "i8"}
    if k == 3:
        return {"kind": "p8x8", "subs": [0, 0, 0, 0],
                "mvs": [(1, 0), (0, 1), (-1, 2), (2, -1)], "t8": True}
    return {"kind": "p16", "mv": (0, 0)}


# The families encoded by encode_bseq: (seed step per frame, frames,
# decode-order entries, encode options, decode order). The decode order
# gives each NAL's references — an int is one decoded picture, a list a
# reference list — and its POC context.
_AVC_BSEQ = {
    "b": (173, 3, _avc_b_entries, {},
          ({}, {"ref": 0}, {"ref": 0, "ref1": 1})),
    "mr": (211, 4, _avc_mr_entries, {},
           ({}, {"ref": 0}, {"ref": [1, 0]},
            {"ref": [1, 0], "ref1": [2]})),
    "wp": (241, 3, _avc_wp_entries, {},
           ({}, {"ref": 0}, {"ref": 0, "ref1": 1})),
    # the POC context drives the 8.4.2.3.1 weight table
    "iwp": (257, 3, _avc_iwp_entries, {"implicit_bipred": True},
            ({}, {"ref": 0},
             {"ref": [0, 1], "ref1": [1, 0], "poc": 2,
              "ref_pocs": [0, 8], "ref1_pocs": [8, 0]})),
    # the decoder gets DEFAULT initial lists and must apply the
    # commands itself to match the encoder's final lists
    "rplm": (263, 5, _avc_rplm_entries, {},
             ({}, {"ref": 0}, {"ref": 1}, {"ref": [2, 1, 0]},
              {"ref": [2, 3], "ref1": [3, 2]})),
    # the B's direct MVs are POC-scaled colocated motion
    "td": (269, 3, _avc_td_entries, {},
           ({"poc": 0}, {"ref": 0, "poc": 8, "ref_pocs": [0]},
            {"ref": 0, "ref1": 1, "poc": 2, "ref_pocs": [0],
             "ref1_pocs": [8]})),
    # each picture is a LIST of two slice NALs; decode_picture applies
    # the 6.4.8 boundary rules
    "ms": (271, 3, _avc_ms_entries, {},
           ({}, {"ref": 0}, {"ref": 0, "ref1": 1})),
    "cip": (277, 2, _avc_cip_entries,
            {"transform_8x8": True, "constrained_intra": True},
            ({}, {"ref": 0})),
}


def _avc_frames(case_id: str, n: int, step: int = 0) -> list:
    """n (y, cb, cr) source frames for a case: gradients plus uniform
    noise, frame fi seeded by the case id's character sum + step * fi."""
    import numpy as np

    _, _fam, _qp, _db, mbw, mbh, noise, _opts = _AVC_CASE_BY_ID[case_id]
    H, W = mbh * 16, mbw * 16
    yy, xx = np.mgrid[0:H, 0:W]
    frames = []
    for fi in range(n):
        rng = np.random.default_rng(
            sum(ord(ch) for ch in case_id) + step * fi)
        y = ((xx * 255 // (W - 1)) + (yy * 97 // (H - 1))
             + rng.integers(-noise, noise + 1, (H, W))).clip(0, 255)
        cb = (110 + (xx[::2, ::2] // 3) + rng.integers(
            -noise // 2, noise // 2 + 1, (H // 2, W // 2))).clip(0, 255)
        cr = (140 - (yy[::2, ::2] // 4) + rng.integers(
            -noise // 2, noise // 2 + 1, (H // 2, W // 2))).clip(0, 255)
        frames.append((y, cb, cr))
    return frames


def _avc_recon_rgb(recon, mbw: int, mbh: int):
    """The encoder's reconstructed (Y, Cb, Cr) frame, cropped and
    converted to RGB with the shared jdcolor path."""
    import numpy as np

    from shotit_worker_spark.functions.jpegcodec import (
        _upsample,
        _ycc_to_rgb,
    )

    rY, rCb, rCr = (np.asarray(p).astype(np.int32) for p in recon)
    h, w = mbh * 16, mbw * 16
    return _ycc_to_rgb(rY[:h, :w], _upsample(rCb, 2, 2, h, w),
                       _upsample(rCr, 2, 2, h, w))


def _avc_case_stream(case_id: str):
    """(sps_nal, pps_nal, idr_nal or decode-order nals,
    encoder_recon_rgb) for a case — the ORACLE side of q72: the
    independent fixture encoder's own reconstruction of the frame the
    gate hashes (the last one in decode order)."""
    if _TOOLS_DIR not in sys.path:
        sys.path.insert(0, _TOOLS_DIR)
    import gen_avc_fixture as GENC

    _, fam, qp, deblock, mbw, mbh, _noise, opts = _AVC_CASE_BY_ID[case_id]
    kw = {"qp": qp, "deblock": bool(deblock)}
    if fam in _AVC_BSEQ:
        step, n, entries, extra, _order = _AVC_BSEQ[fam]
        frames = _avc_frames(case_id, n, step)
        sps_nal, pps_nal, nals, recons, _sts = GENC.encode_bseq(
            entries(case_id, frames, mbw), **kw, **extra)
    elif fam == "p":
        plan_name, n = opts
        plans = [None] + [_avc_p_plan(plan_name, fi) for fi in range(1, n)]
        sps_nal, pps_nal, nals, recons = GENC.encode_sequence(
            _avc_frames(case_id, n, 131), plans=plans, **kw)
    elif fam == "hpp":
        sps_nal, pps_nal, nals, recons = GENC.encode_sequence(
            _avc_frames(case_id, 2, 277),
            plans=[lambda x, yy: "i8", _avc_hpp_plan],
            transform_8x8=True, **kw)
    else:  # one IDR
        if fam == "hpi":
            from shotit_worker_spark.functions import avc as AV

            mix = ("i8", "i4", "i16", "i8", "pcm")
            kw.update(
                transform_8x8=True,
                scal=[AV._DEFAULT_4x4_INTRA] * 3 + [AV._DEFAULT_4x4_INTER] * 3
                + [AV._DEFAULT_8x8_INTRA, AV._DEFAULT_8x8_INTER],
                mb_plan=lambda x, yy: mix[(x + 2 * yy) % 5])
        else:
            plan, kw["qp_wobble"] = opts
            if plan:
                kw["mb_plan"] = lambda x, yy: plan
        (y, cb, cr), = _avc_frames(case_id, 1)
        sps_nal, pps_nal, nals, recon = GENC.encode_stream(y, cb, cr, **kw)
        return sps_nal, pps_nal, nals, _avc_recon_rgb(recon, mbw, mbh)
    return sps_nal, pps_nal, nals, _avc_recon_rgb(recons[-1], mbw, mbh)


def _avc_decode_rgb(case_id: str):
    """The QUERY side of q72: parse + entropy-decode + reconstruct +
    deblock the case's bitstream with the engine decoder, in the
    family's decode order (a P chain refers to the picture before)."""
    from shotit_worker_spark.functions import avc as AV

    sps_nal, pps_nal, nals, _recon = _avc_case_stream(case_id)
    sps = AV.parse_sps(sps_nal)
    pps = AV.parse_pps(pps_nal)
    if not isinstance(nals, list):
        return AV.decode_iframe(sps, pps, nals)
    fam = _AVC_CASE_BY_ID[case_id][1]
    order = (_AVC_BSEQ[fam][4] if fam in _AVC_BSEQ
             else [{}] + [{"ref": i} for i in range(len(nals) - 1)])
    decode = AV.decode_picture if fam == "ms" else AV.decode_frame
    states = []
    for nal, ctx in zip(nals, order):
        kw = {k: ([states[i] for i in v] if isinstance(v, list)
                  else states[v]) if k in ("ref", "ref1") else v
              for k, v in ctx.items()}
        states.append(decode(sps, pps, nal, **kw))
    return AV.frame_rgb(states[-1], sps)


# r7 media constants gates: the oracle rows come from the
# INDEPENDENT side of each check (the fixture encoder's own
# reconstruction for q72; the JRE's committed rasters for q73)
@gate(lambda: _values_oracle(
    _avc_oracle_rows(), "case_id, height, width, rgb_md5"))
def q72_avc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H.264 decoder (functions/avc) constants gate: streams
    from the independent fixture encoder — deblocking on/off, the
    completed coeff_token deep tail at QP 2, per-MB QP wobble,
    i4/i16/PCM-mixed plans, (r7) IDR + P-frame chains covering every
    quarter-pel phase, partitions, P_Skip and MV-aware loop-filter
    strengths, (r7 late wave) I/P/B chains exercising bi-prediction,
    both reference lists, spatial direct incl. colZeroFlag, two-list
    deblock strengths, a MULTI-REFERENCE chain (per-partition te(v)
    ref_idx, refIdx-aware prediction/direct/deblock), a WEIGHTED
    chain (explicit pred_weight_table: weighted P fade incl. skips,
    explicit-bi B), and (r8) an IMPLICIT-weighted chain
    (weighted_bipred_idc 2, x264's B default: POC-distance 8.4.2.3.1
    weights over both list pairs), an RPLM chain
    (ref_pic_list_modification: picNum commands reversing L0 on a P
    and promoting L1[1] on a B, applied from the default initial
    lists), a TEMPORAL-direct chain (8.4.1.2.3 POC-scaled
    colocated motion over skip/intra/real colocated blocks), a
    MULTI-SLICE chain (I/P/B each tiled into two row-slices —
    prediction availability resets per slice, the loop filter
    crosses), and (r8 late wave) two HIGH-PROFILE streams — an IDR
    mixing Intra_8x8/i4/i16/PCM under the spec default scaling lists
    (weighted dequant on every residual class incl. both DC paths,
    8x8 deblock edge rules) and an I->P chain whose inter MBs mix
    transform_size_8x8_flag across partitions, plus a
    constrained-intra P chain driving the 8.3.1.1
    dcPredModePredictedFlag CIP branch — nineteen streams
    DECODED by the engine on the executors and hashed;
    the oracle states the md5 of the ENCODER's own reconstruction loop
    (spec: the two must be bit-equal). The reference pipeline trusts
    ffmpeg for this step (/root/reference/hasher.js:78-91); here both
    directions are in-repo and the driver hash-checks their
    agreement."""
    return _per_case(
        spark, _AVC_CASE_IDS,
        lambda cid: [_md5_row(_avc_decode_rgb(cid), cid)],
        "case_id string, height int, width int, rgb_md5 string",
    ).orderBy("case_id")


@functools.cache
def _avc_oracle_rows() -> list:
    """Expected q72 rows from the ENCODER side (independent of the
    decoder under test)."""
    return [_md5_row(_avc_case_stream(cid)[3], cid) for cid in _AVC_CASE_IDS]


@gate(lambda: _values_oracle(
    _jpeg_oracle_rows(), "name, height, width, raster_md5"))
def q73_progressive_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG decoder (functions/jpegcodec) constants gate: every
    committed golden .jpg — baseline AND progressive (SOF2) — decodes
    on the executors and is hashed; the oracle states the md5 of the
    JRE's own decode of the same bytes (tests/goldens/jpeg/
    java_rasters.npz, produced by javax.imageio via
    tools/gen_jpeg_goldens.py). Grayscale goldens replicate to three
    channels exactly as decode_jpeg does."""
    import glob as _glob

    rows = []
    for p in sorted(_glob.glob(os.path.join(_JPEG_GOLD_DIR, "*.jpg"))):
        with open(p, "rb") as f:
            rows.append((os.path.basename(p)[:-4], bytearray(f.read())))
    df = _arrow_rows(spark, rows, "name string, content binary")

    def run(batches):
        import hashlib

        import pandas as pd

        from shotit_worker_spark.functions.jpegcodec import decode_jpeg

        for b in batches:
            out = []
            for name, content in zip(b["name"], b["content"]):
                arr = decode_jpeg(bytes(content))
                out.append(
                    (
                        name,
                        int(arr.shape[0]),
                        int(arr.shape[1]),
                        hashlib.md5(arr.tobytes()).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                out, columns=["name", "height", "width", "raster_md5"]
            )

    return (
        df.repartition(12)
        .mapInPandas(
            run,
            schema="name string, height int, width int, raster_md5 string",
        )
        .orderBy("name")
    )


@functools.cache
def _jpeg_oracle_rows() -> list:
    """Expected q73 rows from the JRE rasters (the independent
    decoder's output, committed as goldens)."""
    import numpy as np

    z = np.load(os.path.join(_JPEG_GOLD_DIR, "java_rasters.npz"))
    rows = []
    for name in sorted(z.files):
        arr = z[name]
        if arr.shape[2] == 1:  # gray: decode_jpeg replicates
            arr = np.repeat(arr, 3, axis=2)
        rows.append(_md5_row(np.ascontiguousarray(arr), name))
    return rows


_PNG_GOLD_DIR = os.path.join(_REPO_DIR, "tests", "goldens", "png")
_TIFFBMP_GOLD_DIR = os.path.join(_REPO_DIR, "tests", "goldens", "tiffbmp")


# q75: the JRE's committed rasters (independent third decoder)
@gate(lambda: _values_oracle(
    _image_goldens_oracle_rows(),
    "name, height, width, raster_md5"))
def q75_image_goldens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-codec completeness gate for the non-JPEG still formats:
    every committed golden file — exotic PNGs (palette / Adam7 /
    filters / gray), TIFFs (LZW with the early-change rule, Deflate
    strips, PackBits, predictor, palette, bilevel, big-endian), and
    BMPs (palette widths, RLE8, top-down, 32-bit) — decodes on the
    executors through the sniff→decode_image dispatch and is hashed;
    the oracle states the md5 of the JRE's rasters (javax.imageio, an
    independent third implementation — both generators refuse to
    commit goldens unless JRE == the independent fixture encoder's
    source). Reference parity: searcher.js:151-155 sniffs png and
    trusts ImageIO; here the decode is in-engine and wider."""
    import glob as _glob

    rows = []
    for d, pat in ((_PNG_GOLD_DIR, "*.png"), (_TIFFBMP_GOLD_DIR, "*.tif"),
                   (_TIFFBMP_GOLD_DIR, "*.bmp")):
        for p in sorted(_glob.glob(os.path.join(d, pat))):
            name = os.path.basename(p)
            name = name[: name.rindex(".")]
            with open(p, "rb") as f:
                rows.append((name, bytearray(f.read())))
    df = _arrow_rows(spark, rows, "name string, content binary")

    def run(batches):
        import hashlib

        import pandas as pd

        from shotit_worker_spark.functions.imagecodec import decode_image

        for b in batches:
            out = []
            for name, content in zip(b["name"], b["content"]):
                arr = decode_image(bytes(content))
                out.append(
                    (
                        name,
                        int(arr.shape[0]),
                        int(arr.shape[1]),
                        hashlib.md5(arr.tobytes()).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                out, columns=["name", "height", "width", "raster_md5"]
            )

    return (
        df.repartition(12)
        .mapInPandas(
            run,
            schema="name string, height int, width int, raster_md5 string",
        )
        .orderBy("name")
    )


@functools.cache
def _image_goldens_oracle_rows() -> list:
    """Expected q75 rows from the JRE rasters (the independent
    decoder's committed output, both golden sets)."""
    import numpy as np

    rows = []
    for d in (_PNG_GOLD_DIR, _TIFFBMP_GOLD_DIR):
        z = np.load(os.path.join(d, "java_rasters.npz"))
        rows += [_md5_row(np.ascontiguousarray(z[name]), name)
                 for name in z.files]
    return sorted(rows)


# (case_id, encoder kwargs) — one case per FLAC bitstream feature
# family; content is the deterministic _flac_case_samples signal
_FLAC_CASES = (
    ("a_fixed2_mono", {"strategy": "fixed2", "blocksize": 256}),
    ("b_lpc8_stereo_ms", {"strategy": "lpc8", "stereo": "mid_side",
                          "blocksize": 512}),
    ("c_left_side_parts", {"strategy": "fixed3", "stereo": "left_side",
                           "part_order": 2, "blocksize": 256}),
    ("d_escape_24bit", {"strategy": "fixed1", "part_order": 1,
                        "escape_parts": (0,), "bps": 24,
                        "blocksize": 192}),
    ("e_verbatim_explicit", {"strategy": "verbatim",
                             "explicit_codes": True, "blocksize": 250,
                             "sample_rate": 11025}),
)
_FLAC_CASE_BY_ID = {c[0]: c for c in _FLAC_CASES}
_FLAC_CASE_IDS = tuple(c[0] for c in _FLAC_CASES)


def _flac_case_samples(case_id: str):
    """Deterministic source samples for a q76 case: summed sines +
    seeded noise, clipped to the case's bit depth."""
    import numpy as np

    kw = _FLAC_CASE_BY_ID[case_id][1]
    bps = kw.get("bps", 16)
    ch = 2 if kw.get("stereo") else 1
    n = 700
    rng = np.random.default_rng(sum(ord(c) for c in case_id))
    t = np.arange(n)[:, None]
    amp = (1 << (bps - 2)) - 1
    x = (
        amp * np.sin(t * 0.04 + np.arange(ch)[None, :])
        + amp / 4 * np.sin(t * 0.13)
    ).astype(np.int64) + rng.integers(
        -(1 << (bps - 6)), 1 << (bps - 6), (n, ch)
    )
    lim = (1 << (bps - 1)) - 1
    return np.clip(x, -lim - 1, lim)


def _flac_case_bytes(case_id: str) -> bytes:
    if _TOOLS_DIR not in sys.path:
        sys.path.insert(0, _TOOLS_DIR)
    import gen_flac_fixture as FENC

    kw = dict(_FLAC_CASE_BY_ID[case_id][1])
    return FENC.encode_flac(_flac_case_samples(case_id), **kw)


# q76: lossless, so the oracle rows are the SOURCE samples
@gate(lambda: _values_oracle(
    _flac_oracle_rows(), "case_id, n, channels, rate, pcm_md5"))
def q76_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC decoder constants gate: five fixture streams (fixed + LPC
    predictors, mid-side and left-side stereo, Rice partitions with an
    escape partition at 24-bit, verbatim with explicit block-size and
    sample-rate codes) are DECODED by the engine (functions/flac) on
    the executors and hashed; the oracle states the md5 of the SOURCE
    samples — lossless, so bit-equality with zero shared
    reconstruction code (encoder in tools/gen_flac_fixture.py is
    independent; the in-stream STREAMINFO MD5 is verified during
    decode as well)."""
    def case_rows(cid):
        from shotit_worker_spark.functions.flac import decode_flac

        rate, samples = decode_flac(_flac_case_bytes(cid))
        return [_pcm_row(samples, rate, cid)]

    return _per_case(
        spark, _FLAC_CASE_IDS, case_rows,
        "case_id string, n int, channels int, rate int, pcm_md5 string",
    ).orderBy("case_id")


@functools.cache
def _flac_oracle_rows() -> list:
    """Expected q76 rows straight from the SOURCE samples."""
    return [
        _pcm_row(_flac_case_samples(cid),
                 _FLAC_CASE_BY_ID[cid][1].get("sample_rate", 44100), cid)
        for cid in _FLAC_CASE_IDS
    ]


# (case_id, sample_rate, channels) — one case per wavcodec format
# branch: wide PCM, IEEE float, both G.711 laws, both ADPCMs, and the
# WAVE_FORMAT_EXTENSIBLE wrapper
_WAV_CASES = (
    ("a_pcm24_stereo", 44100, 2),
    ("b_float32_mono", 48000, 1),
    ("c_alaw_mono", 8000, 1),
    ("d_ulaw_stereo", 8000, 2),
    ("e_ima_stereo", 22050, 2),
    ("f_ms_mono", 16000, 1),
    ("g_ext_pcm16_stereo", 11025, 2),
)
_WAV_CASE_BY_ID = {c[0]: c for c in _WAV_CASES}
_WAV_CASE_IDS = tuple(c[0] for c in _WAV_CASES)
_WAV_N = 600


def _wav_case_samples(case_id: str):
    """Deterministic int16 source for a q77 case: two sines + seeded
    noise, per-channel phase offset."""
    import numpy as np

    _cid, _rate, ch = _WAV_CASE_BY_ID[case_id]
    rng = np.random.default_rng(sum(ord(c) for c in case_id))
    t = np.arange(_WAV_N)[:, None]
    x = (
        11000 * np.sin(t * 0.045 + np.arange(ch)[None, :])
        + 2500 * np.sin(t * 0.29)
        + rng.integers(-500, 500, (_WAV_N, ch))
    )
    return np.clip(x, -32768, 32767).astype(np.int16)


def _wav_case_stream(case_id: str):
    """(wav_bytes, expected int16 grid) for a q77 case. The expected
    side never touches the decoder under test: lossless branches state
    the SOURCE; G.711 expands the fixture compressor's codes through
    stdlib audioop (an independent implementation); ADPCM states the
    fixture ENCODER's own tracked reconstruction (the q72 contract)."""
    import numpy as np

    if _TOOLS_DIR not in sys.path:
        sys.path.insert(0, _TOOLS_DIR)
    import gen_wav_fixture as WV

    cid, rate, ch = _WAV_CASE_BY_ID[case_id]
    src = _wav_case_samples(case_id)
    if cid.startswith("a_"):
        return (
            WV.encode_pcm_wav(
                src.astype(np.int64) << 8, bits=24, sample_rate=rate
            ),
            src,
        )
    if cid.startswith("b_"):
        # int16/32768 is exactly representable in float32 -> lossless
        return WV.encode_float_wav(src / 32768.0, bits=32,
                                   sample_rate=rate), src
    if cid.startswith(("c_", "d_")):
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            import audioop
        law = "alaw" if cid.startswith("c_") else "ulaw"
        comp = WV.linear2alaw if law == "alaw" else WV.linear2ulaw
        expand = audioop.alaw2lin if law == "alaw" else audioop.ulaw2lin
        codes = bytes(comp(int(v)) for v in src.reshape(-1))
        expected = np.frombuffer(expand(codes, 2), "<i2").reshape(-1, ch)
        return WV.encode_g711_wav(src, law, sample_rate=rate), expected
    if cid.startswith("e_"):
        wav, recon = WV.encode_ima_wav(src, sample_rate=rate,
                                       words_per_block=4)
        return wav, recon
    if cid.startswith("f_"):
        wav, recon = WV.encode_ms_wav(src, sample_rate=rate,
                                      frames_per_block=25)
        return wav, recon
    return WV.encode_pcm_wav(src, bits=16, sample_rate=rate,
                             extensible=True), src


# q77: decoder-independent rows (source / audioop / fixture
# encoder reconstruction, per branch — see _wav_case_stream)
@gate(lambda: _values_oracle(
    _wav_oracle_rows(), "case_id, n, channels, rate, pcm_md5"))
def q77_wav_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV codec constants gate: seven fixture streams — 24-bit PCM,
    IEEE float32, G.711 A-law + mu-law, IMA ADPCM, MS ADPCM, and an
    extensible-wrapped PCM — are DECODED by the engine
    (functions/wavcodec) on the executors, canonicalized to the int16
    grid, and hashed; the oracle states md5s computed WITHOUT the
    decoder (source samples / audioop expansion / fixture-encoder
    reconstruction — see _wav_case_stream). Beyond-reference format
    coverage: the reference delegates all audio to ffmpeg
    (/root/reference/hasher.js:78-91)."""
    def case_rows(cid):
        import numpy as np

        from shotit_worker_spark.functions.wavcodec import decode_wav

        rate, y = decode_wav(_wav_case_stream(cid)[0])
        return [_pcm_row(np.rint(y * 32768.0).astype(np.int64), rate, cid)]

    return _per_case(
        spark, _WAV_CASE_IDS, case_rows,
        "case_id string, n int, channels int, rate int, pcm_md5 string",
    ).orderBy("case_id")


# (case_id,) — one animated container per case; frame content and
# animation ops are deterministic (seeded by case id)
_ANIM_CASE_IDS = ("apng_ops", "webp_ops")


def _anim_case_build(case_id: str):
    """(blob_bytes, expected composited RGB frames) from the
    INDEPENDENT fixture compositors (integer select over binary
    alpha — no float canvas shared with the decoders under test)."""
    import numpy as np

    if _TOOLS_DIR not in sys.path:
        sys.path.insert(0, _TOOLS_DIR)
    rng = np.random.default_rng(sum(ord(c) for c in case_id))

    def rgb(h, w):
        return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)

    def mask(h, w):
        return (rng.integers(0, 2, (h, w), dtype=np.uint8)) * 255

    if case_id == "apng_ops":
        import gen_apng_fixture as AE

        def rgba(h, w):
            return np.dstack([rgb(h, w), mask(h, w)])

        def opaque(h, w):
            return np.dstack([rgb(h, w), np.full((h, w), 255, np.uint8)])

        frames = [
            dict(samples=opaque(18, 24), delay=(5, 100)),
            dict(samples=rgba(8, 10), x=4, y=2, blend=1, delay=(1, 10)),
            dict(samples=rgba(6, 8), x=12, y=8, blend=0, dispose=2,
                 delay=(2, 100)),
            dict(samples=rgba(10, 12), x=2, y=6, blend=1, dispose=1,
                 delay=(7, 100)),
            dict(samples=rgba(18, 24), blend=1, delay=(3, 100)),
        ]
        return AE.encode_apng(24, 18, frames)
    import gen_webp_fixture as WE

    frames = [
        dict(rgb=rgb(20, 30), x=0, y=0, duration_ms=50,
             enc={"subtract_green": True}),
        dict(rgb=rgb(10, 14), alpha=mask(10, 14), x=4, y=2,
             duration_ms=100, blend=True, enc={"lz77": True}),
        dict(rgb=rgb(8, 10), x=10, y=6, duration_ms=30, blend=False,
             dispose=True),
        dict(rgb=rgb(10, 14), alpha=mask(10, 14), x=16, y=8,
             duration_ms=70, blend=True, enc={"cache_bits": 4}),
    ]
    return WE.encode_animated_webp(30, 20, frames)


# q78: the fixture compositors' frames (independent integer
# compositing over binary alpha)
@gate(lambda: _values_oracle(
    _anim_oracle_rows(),
    "case_id, frame_no, height, width, rgb_md5"))
def q78_animated_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-image compositor gate: an APNG exercising all three
    dispose ops + both blend ops, and an animated WebP exercising
    blend/no-blend + dispose-to-background with frame offsets, are
    DECODED and composited by the engine (functions/apng,
    functions/webp) on the executors; every output frame is hashed.
    The oracle states the INDEPENDENT fixture compositors' frames
    (integer select over binary alpha — tools/gen_apng_fixture.py,
    tools/gen_webp_fixture.py). Beyond-reference coverage: the
    reference plays animations through ffmpeg
    (/root/reference/hasher.js:78-91)."""
    def case_rows(cid):
        from shotit_worker_spark.functions.apng import iter_apng_frames
        from shotit_worker_spark.functions.webp import iter_webp_anim_frames

        blob, _expected = _anim_case_build(cid)
        frames = (iter_apng_frames(blob) if cid.startswith("apng")
                  else iter_webp_anim_frames(blob))
        return [_md5_row(f, cid, i) for i, f in enumerate(frames)]

    return _per_case(
        spark, _ANIM_CASE_IDS, case_rows,
        "case_id string, frame_no int, height int, width int, "
        "rgb_md5 string",
    ).orderBy("case_id", "frame_no")


@functools.cache
def _anim_oracle_rows() -> list:
    """Expected q78 rows from the fixture compositors."""
    return [_md5_row(f, cid, i) for cid in _ANIM_CASE_IDS
            for i, f in enumerate(_anim_case_build(cid)[1])]


@functools.cache
def _wav_oracle_rows() -> list:
    """Expected q77 rows from the decoder-independent side."""
    return [_pcm_row(_wav_case_stream(cid)[1], rate, cid)
            for cid, rate, _ch in _WAV_CASES]


# (case_id, w, h, levels, encoder kwargs) — one case per VP8L
# bitstream feature plus the all-on combination; geometry varies so
# sub-byte palette packing and block-grid edges are all exercised
_WEBP_CASES = (
    ("a_literals", 23, 17, 256, {}),
    ("b_sg_cache", 40, 28, 17, {"subtract_green": True,
                                "cache_bits": 4}),
    ("c_pred_lz77", 33, 21, 256, {"predictor": "cycle",
                                  "lz77": True}),
    ("d_ctrans", 37, 29, 256, {"color_transform": "cycle",
                               "subtract_green": False}),
    ("e_palette", 23, 11, 13, {"palette": True}),
    ("f_combo", 45, 15, 256, {"subtract_green": True,
                              "predictor": "cycle", "cache_bits": 5,
                              "lz77": True, "meta_bits": 4}),
)
_WEBP_CASE_BY_ID = {c[0]: c for c in _WEBP_CASES}
_WEBP_CASE_IDS = tuple(c[0] for c in _WEBP_CASES)


def _webp_case_rgb(case_id: str):
    """Deterministic source raster for a q74 case: gradient + coarse
    8x8 blocks (structured, so every transform has signal to exploit)
    quantized to `levels` (small palettes for the indexed case)."""
    import numpy as np

    cid, w, h, levels, _kw = _WEBP_CASE_BY_ID[case_id]
    rng = np.random.default_rng(sum(ord(ch) for ch in cid))
    if levels <= 16:  # palette case: few distinct colors
        cols = rng.integers(0, 256, (levels, 3), dtype=np.uint8)
        return cols[rng.integers(0, levels, (h, w))]
    base = (np.arange(w)[None, :] * 3 + np.arange(h)[:, None] * 5) % 256
    blocks = rng.integers(0, 256, ((h + 7) // 8, (w + 7) // 8, 3))
    img = (base[:, :, None] + blocks.repeat(8, 0).repeat(8, 1)[:h, :w]
           + rng.integers(0, 24, (h, w, 3))) % levels
    return img.astype(np.uint8)


def _webp_case_bytes(case_id: str) -> bytes:
    """Fixture-encoder bytes for a q74 case (the encode direction —
    independent of the decoder under test)."""
    if _TOOLS_DIR not in sys.path:
        sys.path.insert(0, _TOOLS_DIR)
    import gen_webp_fixture as WENC

    kw = dict(_WEBP_CASE_BY_ID[case_id][4])
    if kw.get("predictor") == "cycle":
        kw["predictor"] = lambda bx, by: (bx + by * 7) % 14
    if kw.get("color_transform") == "cycle":
        kw["color_transform"] = lambda bx, by: (
            (bx * 37 + 3) % 256, (by * 91 + 200) % 256,
            (bx + by * 53) % 256)
    return WENC.encode_vp8l(_webp_case_rgb(case_id), **kw)


# q74: lossless, so the oracle rows are the SOURCE data
@gate(lambda: _values_oracle(
    _webp_oracle_rows(), "case_id, height, width, rgb_md5"))
def q74_webp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP lossless (VP8L) decoder constants gate: six fixture
    streams — plain literals, subtract-green + color cache, predictor
    + LZ77, per-block color transform, sub-byte palette packing, and
    the meta-Huffman all-on combination — are DECODED by the engine
    (functions/webp) on the executors and hashed; the oracle states
    the md5 of the SOURCE raster. The format is lossless, so the
    contract is absolute bit-equality with no shared reconstruction
    loop (encoder in tools/gen_webp_fixture.py is independent).
    Beyond-reference coverage: the reference sniffs only png/jpg
    (/root/reference/searcher.js:151-155)."""
    def case_rows(cid):
        from shotit_worker_spark.functions.webp import decode_webp

        return [_md5_row(decode_webp(_webp_case_bytes(cid)), cid)]

    return _per_case(
        spark, _WEBP_CASE_IDS, case_rows,
        "case_id string, height int, width int, rgb_md5 string",
    ).orderBy("case_id")


@functools.cache
def _webp_oracle_rows() -> list:
    """Expected q74 rows straight from the SOURCE rasters (lossless:
    decode(encode(rgb)) must equal rgb bit-for-bit)."""
    return [_md5_row(_webp_case_rgb(cid), cid) for cid in _WEBP_CASE_IDS]
