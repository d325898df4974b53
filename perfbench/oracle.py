"""Training-query list and its DuckDB oracles.

Results are compared after ``scripts/validate_contract.py``'s
``canon()``: columns sorted by name, strings as str, floats rounded to
6 places, integers as int64, rows sorted.
"""

from __future__ import annotations

import os
import shutil
import sys

import pandas as pd

#: scripts/, for validate_contract's canon(); imported where it is
#: used, since it loads Spark and the engine
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

#: the 16 relational leaves bench.py times, then the hot-bucket and
#: double-scan queries named in ROADMAP.md
TRAINING_QUERIES = (
    "pricing_summary", "top_orders_per_customer", "dedup_exact",
    "minhash_dedup", "simhash", "ann_cosine_topk", "token_count",
    "text_quality", "lang_id", "doc_fingerprint", "char_best_choice",
    "line_value_score", "sequence_packing", "corpus_stats",
    "pdf_text_extract", "html_main_content",
    "ngram_jaccard_pairs", "embedding_near_dup",
)

TABLES = ("lineitem", "orders", "documents", "embeddings")


def oracle_dir(sf_dir: str, cache_root: str) -> str:
    """Directory holding every training query's canonical DuckDB
    oracle result over the tables in ``sf_dir``, one pickle per query
    (read back only by this benchmark).

    The results are kept under ``cache_root`` keyed by a hash of the
    oracle SQL, the tables' bytes and the DuckDB version, so runs on
    the same tree and oracles compute them once."""
    import hashlib

    import duckdb

    import __spark_entry__ as entrymod
    oracles = entrymod.oracle_sql()
    key = hashlib.sha256(duckdb.__version__.encode())
    for name in TRAINING_QUERIES:
        key.update(f"{name}\0{oracles[name]}\0".encode())
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            key.update(f.read())
    out = os.path.join(cache_root, f"oracle-{key.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    from validate_contract import canon
    tmp = f"{out}.{os.getpid()}"
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        for name in TRAINING_QUERIES:
            canon(con.execute(oracles[name]).fetchdf()).to_pickle(
                os.path.join(tmp, f"{name}.pkl"))
    except BaseException:
        shutil.rmtree(tmp)
        raise
    finally:
        con.close()
    try:
        os.rename(tmp, out)
    except OSError:  # another run stored the same results first
        shutil.rmtree(tmp)
    return out


def matches(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    from validate_contract import canon
    g = canon(got)
    return (len(g) == len(want) and list(g.columns) == list(want.columns)
            and g.equals(want))
