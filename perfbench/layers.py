"""Single-process traced pass over a sample of a workload's images.

Each image gets one parent span; its children time the calls that
``scan_check`` makes, in order: ``codecs.decode_image`` →
``kernels.grayscale`` → ``scan.get_micr_band`` (with
``scan.skew_angle`` as its child) → ``scan.find_micr_line`` →
``classify.translate_line`` → ``micr.parse_micr``.  All spans of one
image share the image's media_ref as trace id.
"""

from __future__ import annotations

import statistics

import numpy as np
import pyarrow.parquet as pq

#: images per sample: p90 then has at least 10 samples beyond it
SAMPLE = 128
DECODE_KINDS = ("png", "tiff", "bmp", "jpeg", "jpeg_progressive", "gif")


def _dur(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1000.0


def _is_progressive(data: bytes) -> bool:
    return b"\xff\xc2" in data


def sample_images(media_dir: str, seed: int,
                  keep=None) -> list[tuple[str, str, bytes]]:
    """Up to SAMPLE (media_ref, format, bytes) rows drawn at random: a
    strided pick would alias with the generator's per-index format and
    skew cycles."""
    t = pq.read_table(media_dir, columns=["media_ref", "format", "image"])
    rows = sorted(r for r in zip(t.column("media_ref").to_pylist(),
                                 t.column("format").to_pylist(),
                                 t.column("image").to_pylist())
                  if keep is None or keep(r[0]))
    if len(rows) > SAMPLE:
        idx = np.random.default_rng(seed).choice(len(rows), SAMPLE,
                                                 replace=False)
        rows = [rows[i] for i in sorted(idx)]
    return rows


def image_pass(images, tracer) -> dict:
    """Time every stage of every sampled image; returns the layer
    metrics (ms medians, shares, and the mean single-core cost)."""
    from fin_ocr_sdk_spark.config import Config
    from fin_ocr_sdk_spark.functions.micr import parse_micr
    from fin_ocr_sdk_spark.operators import kernels as K
    from fin_ocr_sdk_spark.operators.classify import translate_line
    from fin_ocr_sdk_spark.plans import scan as S
    from fin_ocr_sdk_spark.sources import codecs

    templates = S.get_default_templates()
    choices = Config().max_translator_choices
    stage: dict[str, list[float]] = {k: [] for k in (
        "skew", "rotate_clean", "line_find", "classify", "parse")}
    decode: dict[str, list[float]] = {k: [] for k in DECODE_KINDS}
    totals: list[float] = []
    decode_total = 0.0
    errors = overlaps = dark = skewed = 0
    angles: list[float] = []
    real_skew = S.skew_angle
    ref = ""

    def timed_skew(gray, *args, **kwargs):
        with tracer.span("scan.skew_angle", ref) as rec:
            angle = real_skew(gray, *args, **kwargs)
        angles.append(angle)
        stage["skew"].append(_dur(rec))
        return angle

    S.skew_angle = timed_skew
    try:
        for ref, fmt, data in images:
            gray = None
            with tracer.span("image", ref, format=fmt) as img:
                try:
                    with tracer.span("codecs.decode_image", ref) as rec:
                        arr = codecs.decode_image(data, fmt)
                    kind = ("jpeg_progressive" if fmt == "jpeg"
                            and _is_progressive(data) else fmt)
                    decode[kind].append(_dur(rec))
                    decode_total += _dur(rec)
                    with tracer.span("kernels.grayscale", ref):
                        gray = K.grayscale(arr)
                    with tracer.span("scan.get_micr_band", ref) as rec:
                        band = S.get_micr_band(gray)
                    stage["rotate_clean"].append(_dur(rec)
                                                 - stage["skew"][-1])
                    skewed += angles[-1] != 0.0
                    with tracer.span("scan.find_micr_line", ref) as rec:
                        line = S.find_micr_line(band, templates)
                    stage["line_find"].append(_dur(rec))
                    if line is None:
                        errors += 1
                    else:
                        overlaps += bool(line.overlap)
                        with tracer.span("classify.translate_line",
                                         ref) as rec:
                            tr = translate_line(line, templates, choices)
                        stage["classify"].append(_dur(rec))
                        with tracer.span("micr.parse_micr", ref) as rec:
                            parse_micr(tr.value)
                        stage["parse"].append(_dur(rec))
                except Exception:  # noqa: BLE001 — counted as an error
                    errors += 1
            totals.append(_dur(img))
            if gray is not None and not K.is_white_background(gray):
                dark += 1
    finally:
        S.skew_angle = real_skew

    n = max(1, len(images))
    ordered = sorted(totals) or [0.0]

    def med(xs: list[float]) -> float:
        return statistics.median(xs) if xs else 0.0

    out = {f"scan.{k}_ms": med(v) for k, v in stage.items()}
    out.update({
        "scan.scan_check_ms.p50": med(totals),
        "scan.scan_check_ms.p90": ordered[int(0.9 * (len(ordered) - 1))],
        "scan.error_frac": errors / n,
        "scan.overlap_frac": overlaps / n,
        "scan.dark_bg_frac": dark / n,
        "scan.skewed_frac": skewed / n,
        "scan.sample_n": len(images),
        "sources.decode_share": decode_total / max(1e-9, sum(totals)),
    })
    for k, v in decode.items():
        out[f"sources.decode_ms.{k}"] = med(v)
        out[f"sources.decode_n.{k}"] = len(v)
    out["mean_scan_check_s"] = (sum(totals) / n) / 1000.0
    return out
