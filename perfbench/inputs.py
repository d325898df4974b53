"""Seeded benchmark inputs, written with a part layout fixed here.

Check corpora come from the program's own generator
(``sources.fixtures.generate_fixture_rows_range``); the part layout is
``PART_DOCS`` documents per media part file, independent of the host's
core count.  The training-query tables are fixed: ``TRAINING_DIR``
holds an extract of the engine's sf0.1 test tables (see
extract_tables.py), and the seed only permutes the query order.
"""

from __future__ import annotations

import multiprocessing
import os
import sys
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the fixed tables the training queries read
TRAINING_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data")

#: documents per media part file (and per row group)
PART_DOCS = 16

#: corpus sizes per workload: each timed pass over the corpus takes a
#: few seconds on a 4-core host, so one run measures several passes
CORPUS = {
    "lossless": {"docs": 192, "lossy": False},
    "lossy_resume": {"docs": 64, "lossy": True},
    "filtered": {"docs": 640, "lossy": False},
}

#: the filtered workload keeps ids whose last digit is in this set
#: (a uniform 30% of the rows in every part file)
FILTER_DIGITS = ("0", "3", "7")

SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])


def keep_id(ident: str) -> bool:
    return ident[-1] in FILTER_DIGITS


def _write_part(args: tuple[str, int, int, int, bool]) -> tuple[list, list]:
    out_dir, part, start, seed, lossy = args
    from fin_ocr_sdk_spark.sources.fixtures import (
        generate_fixture_rows_range)
    docs, media, expected = generate_fixture_rows_range(
        start, PART_DOCS, seed, lossy)
    pq.write_table(pa.table({
        "media_ref": [r["media_ref"] for r in media],
        "format": [r["format"] for r in media],
        "image": pa.array([r["image"] for r in media], type=pa.binary()),
    }), os.path.join(out_dir, "media.parquet", f"part-{part:05d}.parquet"),
        row_group_size=PART_DOCS)
    return docs, expected


def write_corpus(out_dir: str, n_docs: int, seed: int, lossy: bool,
                 workers: int) -> None:
    """Write documents.parquet, media.parquet/ and expected.parquet for
    doc indices [0, n_docs)."""
    if n_docs % PART_DOCS:
        raise ValueError(f"n_docs must be a multiple of {PART_DOCS}")
    os.makedirs(os.path.join(out_dir, "media.parquet"), exist_ok=True)
    tasks = [(out_dir, p, p * PART_DOCS, seed, lossy)
             for p in range(n_docs // PART_DOCS)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as ex:
        parts = list(ex.map(_write_part, tasks))
    docs = [d for ds, _ in parts for d in ds]
    expected = [e for _, es in parts for e in es]
    pq.write_table(pa.table({
        "doc_id": [r["doc_id"] for r in docs],
        "spans": pa.array([r["spans"] for r in docs],
                          type=pa.list_(SPAN_TYPE)),
    }), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": [r["doc_id"] for r in expected],
        "kind": [r["kind"] for r in expected],
        "text": [r["text"] for r in expected],
        "media_ref": [r["media_ref"] for r in expected],
        "order": pa.array([r["order"] for r in expected], type=pa.int32()),
    }), os.path.join(out_dir, "expected.parquet"))


def input_shares(n_docs: int, seed: int, lossy: bool,
                 keep=None) -> dict[str, float]:
    """Shares of the corpus's documents with each generator property,
    read back from the generator's own spec for every doc index."""
    from fin_ocr_sdk_spark.sources.fixtures import FORMATS, make_spec
    specs = [make_spec(i, np.random.default_rng(seed * 1_000_003 + i), lossy)
             for i in range(n_docs)
             if keep is None or keep(f"{i:08d}")]
    n = max(1, len(specs))
    shares = {f"input.{fmt}_frac": sum(s.fmt == fmt for s in specs) / n
              for fmt in (*FORMATS, "jpeg", "gif")}
    shares["input.progressive_frac"] = sum(s.progressive for s in specs) / n
    shares["input.skewed_frac"] = sum(s.skew != 0.0 for s in specs) / n
    shares["input.dark_header_frac"] = sum(s.dark_header for s in specs) / n
    shares["input.noisy_frac"] = sum(s.noise for s in specs) / n
    return shares


if __name__ == "__main__":
    out, n, seed, lossy, workers = sys.argv[1:]
    write_corpus(out, int(n), int(seed), bool(int(lossy)), int(workers))
