"""Media-analysis gates: perceptual hash, audio fingerprint matching,
scene cuts, EXIF, caption alignment and MFCC clip embeddings.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gates import _TOOLS_DIR, _values_oracle, gate
from shotit_worker_spark.smallframe import arrow_rows as _arrow_rows


# q91: scene-cut invariants on a two-scene Y4M (cut exactly
# at the boundary; segments; middle-frame representatives) —
# TRUE by construction, checked through the Spark media path
@gate("""
            SELECT * FROM (VALUES
                ('1_cut_at_boundary', TRUE),
                ('2_segments', TRUE),
                ('3_representatives', TRUE)
            ) AS t(invariant, ok) ORDER BY invariant
        """)
def q91_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection (operators/video) invariant gate: a
    two-scene Y4M clip (4 flat dark frames, 3 flat bright frames)
    decodes through the REAL media path; the histogram-difference
    detector must place exactly one cut at the scene boundary,
    segment the timeline into (0..3)(4..6), and pick the middle
    frame of each scene as its representative. All three checks run
    through Spark (decode_frames -> Arrow histograms -> window lag),
    not python."""
    from shotit_worker_spark.functions import media as M
    from shotit_worker_spark.operators.video import (
        scene_cuts,
        scene_representatives,
        scene_segments,
    )

    w, h, n_a, n_b = 64, 48, 4, 3
    hdr = f"YUV4MPEG2 W{w} H{h} F12:1 Ip A1:1 C420jpeg\n".encode()
    chunks = [hdr]
    for j in range(n_a + n_b):
        luma = 60 if j < n_a else 200
        chunks.append(
            b"FRAME\n" + bytes([luma]) * (w * h)
            + bytes([128]) * (w // 2 * h // 2) * 2
        )
    videos = _arrow_rows(spark, 
        [("store/sc/gate.y4m", bytearray(b"".join(chunks)))],
        "path string, content binary",
    )
    frames = M.decode_frames(videos)
    cuts = scene_cuts(frames, threshold=0.5).orderBy("frame_no")
    cut_frames = [r["frame_no"] for r in cuts.collect() if r["is_cut"]]
    segs = [
        (r["scene_id"], r["start_frame"], r["end_frame"], r["n_frames"])
        for r in scene_segments(frames, threshold=0.5).collect()
    ]
    reps = [
        (r["scene_id"], r["frame_no"])
        for r in scene_representatives(frames, threshold=0.5).collect()
    ]
    rows = [
        ("1_cut_at_boundary", cut_frames == [n_a]),
        ("2_segments", segs == [(0, 0, 3, 4), (1, 4, 6, 3)]),
        ("3_representatives", reps == [(0, 2), (1, 5)]),
    ]
    return _arrow_rows(spark, 
        rows, "invariant string, ok boolean"
    ).orderBy("invariant")


# q92: FULL-VALUE EXIF extraction vs the literal values the
# independent writer packed
@gate("""
    SELECT * FROM (VALUES
        ('a_jpeg_le', TRUE, 6, 'TestCam', 'T1000', 200, 640, 480,
         CAST(1.0/125 AS DOUBLE), 2.8,
         48.0 + 51.0/60 + 29.52/3600, 2.0 + 21.0/60 + 4.8/3600),
        ('b_png_be', TRUE, 3, 'TestCam', 'T1000', 800, 640, 480,
         CAST(1.0/125 AS DOUBLE), 2.8, -10.5, -20.0),
        ('c_plain', FALSE, -1, '', '', -1, -1, -1,
         -1.0, -1.0, 0.0, 0.0)
    ) AS t(file, has_exif, orientation, make, model, iso,
           exif_width, exif_height, exposure_time, f_number,
           gps_lat, gps_lon)
    ORDER BY file
""")
def q92_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata (functions/exif) FULL-VALUE gate: three
    deterministic fixtures — a little-endian APP1 JPEG, a big-endian
    PNG eXIf, and a plain JPEG with no metadata — parsed through the
    Spark exif_metadata pass; the oracle states every extracted
    value literally (the independent writer in tools/gen_exif_fixture
    packed them, so reader bugs in byte order, RATIONAL decode, DMS
    signs, or the sub-IFD walk all surface as value mismatches)."""
    import numpy as np

    if _TOOLS_DIR not in sys.path:
        sys.path.insert(0, _TOOLS_DIR)
    import gen_exif_fixture as GX

    from shotit_worker_spark.functions import imagecodec as IC
    from shotit_worker_spark.functions.exif import exif_metadata
    from shotit_worker_spark.functions.jpegcodec import encode_jpeg

    rng = np.random.default_rng(92)
    jpg = encode_jpeg(
        rng.integers(0, 256, (16, 16, 3), dtype=np.uint8), quality=90)
    png = IC.encode_png(
        rng.integers(0, 256, (8, 8, 3), dtype=np.uint8))
    rows = [
        ("a_jpeg_le",
         bytearray(GX.inject_jpeg_app1(jpg, GX.build_exif_tiff()))),
        ("b_png_be",
         bytearray(GX.inject_png_exif(
             png, GX.build_exif_tiff(
                 bo=">", orientation=3, iso=800,
                 gps=((10, 30, 0), "S", (20, 0, 0), "W"))))),
        ("c_plain", bytearray(jpg)),
    ]
    df = _arrow_rows(spark, rows, "path string, content binary")
    # NULL-free projection (sentinels) so the comparison is typed
    # identically on both sides regardless of the harness's pandas
    # int-with-NULL -> float coercion
    meta = exif_metadata(df)
    return meta.select(
        "file",
        "has_exif",
        F.coalesce("orientation", F.lit(-1)).alias("orientation"),
        F.coalesce("make", F.lit("")).alias("make"),
        F.coalesce("model", F.lit("")).alias("model"),
        F.coalesce("iso", F.lit(-1)).alias("iso"),
        F.coalesce("exif_width", F.lit(-1)).alias("exif_width"),
        F.coalesce("exif_height", F.lit(-1)).alias("exif_height"),
        F.coalesce("exposure_time", F.lit(-1.0)).alias("exposure_time"),
        F.coalesce("f_number", F.lit(-1.0)).alias("f_number"),
        F.coalesce("gps_lat", F.lit(0.0)).alias("gps_lat"),
        F.coalesce("gps_lon", F.lit(0.0)).alias("gps_lon"),
    ).orderBy("file")


def _phash_case_rasters():
    """Deterministic structured rasters (gradients + Gaussian blobs
    — photograph-like content, the regime pHash is built for)."""
    import numpy as np

    out = []
    for case_id, seed in (("grad_a", 100), ("grad_b", 200),
                          ("grad_c", 300)):
        rng = np.random.default_rng(seed)
        h, w = 96, 128
        yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
        img = np.zeros((h, w, 3))
        for c in range(3):
            img[..., c] = (
                120
                + 100 * np.sin(xx / (8 + 5 * c) + c)
                + 80 * np.cos(yy / (11 + 3 * c))
            )
            for _ in range(4):
                cy, cx = rng.uniform(0, h), rng.uniform(0, w)
                r = rng.uniform(8, 25)
                img[..., c] += 90 * np.exp(
                    -((yy - cy) ** 2 + (xx - cx) ** 2) / (2 * r * r)
                )
        out.append((case_id, np.clip(img, 0, 255).astype(np.uint8)))
    return out


def _phash_oracle_rows():
    """The INDEPENDENT side: an explicit O(n^4) DCT-II double loop
    over the SOURCE rasters (no shared DCT matrix, no codec)."""
    import numpy as np

    from shotit_worker_spark.functions import phash as PH

    rows = []
    for case_id, rgb in _phash_case_rasters():
        small = PH._area_resize(PH._gray(rgb), 32, 32)
        n = 32
        coeffs = np.zeros((8, 8))
        for u in range(8):
            for v in range(8):
                s = 0.0
                for i in range(n):
                    for j in range(n):
                        s += (
                            small[i, j]
                            * np.cos(np.pi * (2 * i + 1) * u / (2 * n))
                            * np.cos(np.pi * (2 * j + 1) * v / (2 * n))
                        )
                cu = np.sqrt(1 / n) if u == 0 else np.sqrt(2 / n)
                cv = np.sqrt(1 / n) if v == 0 else np.sqrt(2 / n)
                coeffs[u, v] = cu * cv * s
        med = float(np.median(coeffs.ravel()[1:]))
        val = 0
        for idx, cf in enumerate(coeffs.ravel()):
            if idx and cf > med:
                val |= 1 << idx
        if val >= 1 << 63:
            val -= 1 << 64
        rows.append((case_id, val))
    return sorted(rows)


# q88: constants gate — the INDEPENDENT O(n^4) DCT loop over
# the SOURCE rasters (generated at oracle time); the engine
# side goes through PNG decode + the matrix DCT
@gate(lambda: _values_oracle(
    _phash_oracle_rows(), "case_id, phash"))
def q88_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash (functions/phash) constants gate: the
    engine decodes PNG encodings of three deterministic rasters
    inside the Arrow pass and hashes them (matrix DCT); the oracle
    states the hash of each SOURCE raster computed by an explicit
    O(n^4) DCT double loop (generated at oracle time, independent of
    the engine's DCT matrix and of the codec). Bit-equality pins the
    whole chain: PNG decode, luma, area resample, DCT, packing."""
    from shotit_worker_spark.functions import imagecodec as IC
    from shotit_worker_spark.functions import phash as PH

    rows = [
        (case_id, bytearray(IC.encode_png(rgb)))
        for case_id, rgb in _phash_case_rasters()
    ]
    df = _arrow_rows(spark, rows, "case_id string, image binary")
    return (
        PH.phash_images(df, image_col="image", id_col="case_id")
        .orderBy("case_id")
    )


def _audiofp_case_blobs():
    """(WAV full clip, FLAC twin, WAV excerpt at a known offset) —
    deterministic synthetic 'music' (enveloped three-tone notes)."""
    import numpy as np

    if _TOOLS_DIR not in sys.path:
        sys.path.insert(0, _TOOLS_DIR)
    from gen_flac_fixture import encode_flac
    from gen_wav_fixture import encode_pcm_wav

    from shotit_worker_spark.functions import audiofp as AF

    rate = AF._RATE
    rng = np.random.default_rng(77)
    n = rate * 4
    t = np.arange(n) / rate
    x = np.zeros(n)
    note = int(0.15 * rate)
    for i in range(0, n, note):
        f1 = float(rng.integers(200, 1200))
        f2 = float(rng.integers(1200, 2800))
        f3 = float(rng.integers(2800, 4800))
        seg = slice(i, min(i + note, n))
        env = np.hanning(seg.stop - seg.start)
        x[seg] = env * (
            np.sin(2 * np.pi * f1 * t[seg])
            + 0.7 * np.sin(2 * np.pi * f2 * t[seg])
            + 0.5 * np.sin(2 * np.pi * f3 * t[seg])
        )
    x = x / np.max(np.abs(x))
    pcm = np.clip(np.round(x * 32000), -32768, 32767).astype(
        np.int64
    ).reshape(-1, 1)
    off_frames = 40
    start = off_frames * AF._HOP
    cut = pcm[start : start + rate]
    return (
        encode_pcm_wav(pcm, 16, rate),
        bytes(encode_flac(pcm, rate, 16)),
        encode_pcm_wav(cut, 16, rate),
        off_frames,
    )


# q89: constellation invariants (lossless twins identical,
# excerpt matches at the planted offset) — TRUE by
# construction, checked through the Spark join+vote path
@gate("""
            SELECT * FROM (VALUES
                ('1_twin_identical', TRUE),
                ('2_excerpt_offset', TRUE),
                ('3_excerpt_votes', TRUE)
            ) AS t(invariant, ok) ORDER BY invariant
        """)
def q89_audio_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio landmark fingerprinting (functions/audiofp) invariant
    gate: a WAV clip, its FLAC twin, and a 1-second excerpt cut at a
    KNOWN frame offset. The constellation construction forces — and
    the oracle states — (1) twin fingerprints identical (lossless
    codecs, same PCM), (2) the excerpt matches the full clip at
    exactly the planted offset with a strong vote pile, (3) twin
    match votes >> excerpt votes. All checks run through the Spark
    join+vote path (match_fingerprints), not python."""
    from shotit_worker_spark.functions import audiofp as AF

    wav, flac, cut, off = _audiofp_case_blobs()
    df = _arrow_rows(spark, 
        [
            ("a/full.wav", bytearray(wav)),
            ("a/twin.flac", bytearray(flac)),
            ("a/cut.wav", bytearray(cut)),
        ],
        "path string, content binary",
    )
    fp = AF.fingerprint_audio(df)
    m = AF.match_fingerprints(
        fp.where(F.col("file") != "a/full.wav"),
        fp.where(F.col("file") == "a/full.wav"),
        min_votes=5,
    )
    best = (
        m.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("q_file").orderBy(
                    F.desc("votes"), "offset"
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("q_file", "offset", "votes")
        .collect()
    )
    by_q = {r["q_file"]: r for r in best}
    twin = by_q.get("a/twin.flac")
    cutr = by_q.get("a/cut.wav")
    n_fp_full = fp.where(
        (F.col("file") == "a/full.wav") & F.col("hash").isNotNull()
    ).count()
    n_fp_twin = fp.where(
        (F.col("file") == "a/twin.flac") & F.col("hash").isNotNull()
    ).count()
    rows = [
        ("1_twin_identical",
         twin is not None and twin["offset"] == 0
         and n_fp_full == n_fp_twin and twin["votes"] == n_fp_full),
        ("2_excerpt_offset",
         cutr is not None and cutr["offset"] == -off),
        ("3_excerpt_votes",
         cutr is not None and cutr["votes"] >= 20),
    ]
    return _arrow_rows(spark, 
        rows, "invariant string, ok boolean"
    ).orderBy("invariant")


# authored caption cues: (file, cue_no, start_sec, end_sec, text) —
# the literal times/texts WRITTEN into the SRT/VTT bytes below, and
# the rows the oracle joins from; if the parser mis-reads the bytes,
# the engine side diverges from these
_CAPTION_CUES = [
    ("vid_a.srt", 0, 1.0, 4.5, "Intro line"),
    ("vid_a.srt", 1, 5.0, 9.25, "Scene two begins"),
    ("vid_a.srt", 2, 9.5, 12.0, "Crossing cue"),
    ("vid_a.srt", 3, 13.0, 14.0, "Outro"),
    ("vid_b.vtt", 0, 0.5, 3.0, "B one"),
    ("vid_b.vtt", 1, 3.5, 7.75, "B two"),
    ("vid_b.vtt", 2, 8.0, 9.0, "B three"),
]

_CAPTION_SCENES = [
    ("vid_a.srt", 0, 0.0, 5.0),
    ("vid_a.srt", 1, 5.0, 10.0),
    ("vid_a.srt", 2, 10.0, 15.0),
    ("vid_b.vtt", 0, 0.0, 4.0),
    ("vid_b.vtt", 1, 4.0, 9.5),
]


def _caption_blobs() -> list[tuple[str, bytes]]:
    """Render _CAPTION_CUES into real SRT and VTT bytes (block ids,
    comma vs dot millisecond separators, a WEBVTT header, a NOTE
    block, and a cue-settings suffix — the format features the
    parser must step over)."""

    def _hms(sec: float, msep: str) -> str:
        ms = int(round(sec * 1000))
        return (f"{ms // 3600000:02d}:{ms // 60000 % 60:02d}:"
                f"{ms // 1000 % 60:02d}{msep}{ms % 1000:03d}")

    srt = []
    for _, no, s, e, t in [c for c in _CAPTION_CUES
                           if c[0] == "vid_a.srt"]:
        srt.append(f"{no + 1}\n{_hms(s, ',')} --> {_hms(e, ',')}\n"
                   f"{t}\n")
    vtt = ["WEBVTT\n", "NOTE deterministic fixture\n"]
    for idx, (_, no, s, e, t) in enumerate(
        [c for c in _CAPTION_CUES if c[0] == "vid_b.vtt"]
    ):
        settings = " align:start" if idx == 1 else ""
        vtt.append(f"{_hms(s, '.')} --> {_hms(e, '.')}{settings}\n"
                   f"{t}\n")
    return [("vid_a.srt", "\n".join(srt).encode()),
            ("vid_b.vtt", "\n".join(vtt).encode())]


def _sql_rows(rows: list) -> str:
    return ", ".join(
        "(" + ", ".join(
            f"'{v}'" if isinstance(v, str) else repr(float(v))
            if isinstance(v, float) else str(v) for v in r
        ) + ")"
        for r in rows
    )


# q101: captions->scenes alignment — the oracle re-derives
# every (cue, scene) overlap from the AUTHORED cue literals
# (times/text as written into the SRT/VTT bytes) with a plain
# SQL interval join, pinning parse AND alignment
@gate(f"""
    WITH cues AS (
        SELECT * FROM (VALUES {_sql_rows(_CAPTION_CUES)})
        AS t(file, cue_no, start_sec, end_sec, text)
    ),
    scenes AS (
        SELECT * FROM (VALUES {_sql_rows(_CAPTION_SCENES)})
        AS t(file, scene_id, start_time, end_time)
    )
    SELECT c.file, s.scene_id, c.cue_no,
           CAST(least(c.end_sec, s.end_time)
                - greatest(c.start_sec, s.start_time)
                AS DOUBLE) AS overlap_sec,
           c.text
    FROM cues c JOIN scenes s ON c.file = s.file
     AND c.start_sec < s.end_time AND c.end_sec > s.start_time
    ORDER BY c.file, s.scene_id, c.cue_no
""")
def q101_captions_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption sidecar parsing + scene alignment (functions/captions)
    FULL-VALUE gate: real SRT and VTT bytes parse through the Arrow
    pass and interval-join against a literal scene table; the oracle
    re-derives every (cue, scene) overlap from the AUTHORED cue
    literals with a plain SQL interval join — a parse error (times,
    text, cue numbering, header/NOTE/settings handling) or an
    alignment error (strict-overlap predicate, overlap arithmetic)
    each flips rows."""
    from shotit_worker_spark.functions.captions import (
        align_captions_to_scenes,
        captions_df,
    )

    files = _arrow_rows(spark, 
        [(p, bytearray(b)) for p, b in _caption_blobs()],
        "path string, content binary",
    )
    cues = captions_df(files)
    scenes = _arrow_rows(spark, 
        _CAPTION_SCENES,
        "file string, scene_id int, start_time double, "
        "end_time double",
    )
    return align_captions_to_scenes(cues, scenes)


def _mfcc_other_clip() -> bytes:
    """A timbrally different clip (low square-wave drone with a slow
    amplitude wobble) — its MFCC-statistics embedding must sit
    farther from the tonal fixture clip than the clip's own
    excerpt does."""
    import numpy as np

    if _TOOLS_DIR not in sys.path:
        sys.path.insert(0, _TOOLS_DIR)
    from gen_wav_fixture import encode_pcm_wav

    from shotit_worker_spark.functions import audiofp as AF

    rate = AF._RATE
    n = rate * 4
    t = np.arange(n) / rate
    x = np.sign(np.sin(2 * np.pi * 110.0 * t)) * (
        0.6 + 0.4 * np.sin(2 * np.pi * 0.5 * t)
    )
    pcm = np.clip(np.round(x * 20000), -32768, 32767).astype(
        np.int64
    ).reshape(-1, 1)
    return encode_pcm_wav(pcm, 16, rate)


# q104: MFCC clip-embedding invariants (lossless twins
# identical; excerpt closer than a different clip) — TRUE by
# construction, checked through the Spark join path
@gate("""
            SELECT * FROM (VALUES
                ('1_twin_identical', TRUE),
                ('2_excerpt_close', TRUE),
                ('3_other_clip_farther', TRUE)
            ) AS t(invariant, ok) ORDER BY invariant
        """)
def q104_mfcc_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MFCC clip embeddings (functions/mfcc.audio_embed) invariant
    gate: a WAV clip, its FLAC twin, a 1-second excerpt, and a
    timbrally different clip. The oracle states (1) twin embedding
    IDENTICAL to the full clip's (lossless codecs, same PCM, exact
    float equality), (2) the excerpt's cosine to the full clip
    clears 0.9, (3) the different clip sits strictly farther than
    the excerpt. Cosines run through the Spark zip_with/aggregate
    path over the L2-normalized embeddings."""
    from shotit_worker_spark.functions import mfcc as MF

    wav, flac, cut, _ = _audiofp_case_blobs()
    df = _arrow_rows(spark, 
        [
            ("m/full.wav", bytearray(wav)),
            ("m/twin.flac", bytearray(flac)),
            ("m/cut.wav", bytearray(cut)),
            ("m/other.wav", bytearray(_mfcc_other_clip())),
        ],
        "path string, content binary",
    )
    emb = MF.audio_embed(df)
    full = emb.where(F.col("file") == "m/full.wav").select(
        F.col("embedding").alias("qe")
    )
    scored = (
        emb.where(F.col("file") != "m/full.wav")
        .crossJoin(F.broadcast(full))
        .select(
            "file",
            (F.col("embedding") == F.col("qe")).alias("same"),
            F.aggregate(
                F.zip_with(
                    "embedding", "qe",
                    lambda a, b: a.cast("double") * b.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("cos"),
        )
        .collect()
    )
    by_f = {r["file"]: r for r in scored}
    twin, cut_r, other = (by_f["m/twin.flac"], by_f["m/cut.wav"],
                          by_f["m/other.wav"])
    rows = [
        ("1_twin_identical", bool(twin["same"])),
        ("2_excerpt_close", bool(cut_r["cos"] >= 0.9)),
        ("3_other_clip_farther",
         bool(other["cos"] < cut_r["cos"])),
    ]
    return _arrow_rows(spark, 
        rows, "invariant string, ok boolean"
    ).orderBy("invariant")
