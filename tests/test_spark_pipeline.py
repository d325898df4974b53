"""Spark-level span-equality test: the distributed pipeline must produce
exactly the golden expected_spans table on the smoke corpus."""

import os

import pandas as pd
import pytest

from fin_ocr_sdk_spark.plans.pipeline import extract_spans, preprocess_only
from fin_ocr_sdk_spark.sources.tables import fixture_dir


@pytest.fixture(scope="module")
def spark():
    from fin_ocr_sdk_spark.session import get_spark
    s = get_spark("pytest-pipeline", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def smoke_dir():
    return fixture_dir("smoke", 16)


def test_span_equality(spark, smoke_dir):
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    got = (extract_spans(docs, media).toPandas()
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    exp = (pd.read_parquet(os.path.join(smoke_dir, "expected_spans.parquet"))
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    got["order"] = got["order"].astype("int32")
    exp["order"] = exp["order"].astype("int32")
    pd.testing.assert_frame_equal(got[cols], exp[cols])


def test_no_micr_errors(spark, smoke_dir):
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    out = extract_spans(docs, media)
    assert out.filter(out.kind == "micr:error").count() == 0


def test_filtered_media_respected_by_direct_reads(spark, smoke_dir):
    """Regression: the direct file-read strategy must honor relational
    filters on the media DataFrame (inputFiles() is pre-filter, so the
    semi-join on media_ref re-applies them)."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = (spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
             .filter(F.col("media_ref") > "img-00000007"))
    out = extract_spans(docs, media)
    excluded = (out.filter((out.doc_id == "doc-00000000")
                           & out.kind.startswith("micr")).count())
    assert excluded == 0  # doc0's media was filtered out
    kept = (out.filter((out.doc_id == "doc-00000009")
                       & (out.kind == "micr:line")).count())
    assert kept == 1
    # renumbering stays dense for the filtered doc
    orders = [r.order for r in out.filter(out.doc_id == "doc-00000000")
              .orderBy("order").collect()]
    assert orders == list(range(len(orders)))


def test_media_strategy_auto_selection(spark, smoke_dir, tmp_path):
    """The pipeline picks the media scan strategy from the media plan:
    bare scan → direct (no corrective semi-join); lightly filtered →
    direct + semi-join; heavily filtered WITHIN the surviving files →
    arrow join path (so only surviving rows are ever decoded — no
    full-file over-scan).  A filter that removes whole files stays on
    the direct path: the post-filter manifest already skips them."""
    from pyspark.sql import functions as F

    from fin_ocr_sdk_spark.plans.pipeline import _choose_media_strategy
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    assert _choose_media_strategy(media) == "direct"
    light = media.filter(F.col("media_ref") >= "img-00000001")  # 15/16
    assert _choose_media_strategy(light) == "direct+semi"
    # whole-file elimination (1 row per smoke part file): direct reads
    # of the 2 surviving files have zero over-scan — keep direct+semi
    aligned = media.filter(F.col("media_ref") < "img-00000002")  # 2/16
    assert _choose_media_strategy(aligned) == "direct+semi"
    # within-file selectivity: pack all 16 rows into 2 files, keep 2
    # rows — the direct path would decode 8x the survivors → arrow
    packed_dir = str(tmp_path / "packed_media")
    media.repartition(2).write.parquet(packed_dir)
    packed = spark.read.parquet(packed_dir)
    heavy = packed.filter(F.col("media_ref").isin(
        "img-00000000", "img-00000001"))
    assert _choose_media_strategy(heavy) == "arrow"


def test_strategy_probe_reads_bounded_files(spark, smoke_dir):
    """The survivor-fraction probe must never scan the whole table:
    its count job reads at most _PROBE_FILES part files (the
    _metadata.file_path IN-filter prunes the rest at the file index),
    so choosing a strategy on a 100 TB table costs O(1) files."""
    from pyspark.sql import functions as F

    from fin_ocr_sdk_spark.plans import pipeline as P

    media = (spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
             .filter(F.col("media_ref") >= "img-00000001"))
    sample = [r["p"] for r in
              (media.select(F.col("_metadata.file_path").alias("p"))
               .distinct().limit(P._PROBE_FILES).collect())]
    assert 0 < len(sample) <= P._PROBE_FILES
    probe = media.filter(F.col("_metadata.file_path").isin(sample))
    probe.collect()
    leaf = (probe._jdf.queryExecution().executedPlan()
            .collectLeaves().apply(0))
    n_files = leaf.metrics().get("numFiles").get().value()
    assert n_files <= P._PROBE_FILES  # pruned: 4 of 16 smoke files


def test_heavily_filtered_media_same_result_both_paths(spark, smoke_dir):
    """Auto (arrow) and forced-direct strategies agree on a heavily
    filtered media table."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = (spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
             .filter(F.col("media_ref") < "img-00000002"))
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    auto = (extract_spans(docs, media).toPandas()[cols]
            .sort_values(["doc_id", "order"]).reset_index(drop=True))
    forced = (extract_spans(docs, media, repartition_scan=False)
              .toPandas()[cols]
              .sort_values(["doc_id", "order"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(auto, forced)
    assert (auto["kind"] == "micr:line").sum() == 2


def test_base64_media_source_end_to_end(spark, smoke_dir, tmp_path):
    """Media delivered as data-URL strings (the reference's base64
    request buffers, src/image.ts:89 / check.ts:198): Catalyst-side
    decode, auto-routed through the arrow path (derived columns make
    direct part-file reads invalid), span output identical."""
    import base64

    from pyspark.sql import functions as F

    from fin_ocr_sdk_spark.plans.pipeline import _choose_media_strategy
    from fin_ocr_sdk_spark.sources.base64_source import decode_base64_media

    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    raw = pd.read_parquet(os.path.join(smoke_dir, "media.parquet"))
    b64 = spark.createDataFrame(pd.DataFrame({
        "media_ref": raw["media_ref"],
        "image_b64": [
            f"data:image/{fmt};base64," + base64.b64encode(img).decode()
            for fmt, img in zip(raw["format"], raw["image"])],
    }))
    media = decode_base64_media(b64)
    got = media.select("media_ref", "format", "image").toPandas()
    got = got.sort_values("media_ref").reset_index(drop=True)
    assert (got["format"] == raw.sort_values("media_ref")
            .reset_index(drop=True)["format"]).all()
    assert all(bytes(a) == bytes(b) for a, b in zip(
        got["image"], raw.sort_values("media_ref")
        .reset_index(drop=True)["image"]))

    out = (extract_spans(docs, media).toPandas()
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    exp = (pd.read_parquet(os.path.join(smoke_dir, "expected_spans.parquet"))
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    out["order"] = out["order"].astype("int32")
    exp["order"] = exp["order"].astype("int32")
    pd.testing.assert_frame_equal(out[cols], exp[cols])

    # a parquet-backed but column-derived media table must also refuse
    # direct reads (the part files hold b64 text, not binary images)
    b64_pq = str(tmp_path / "b64_media.parquet")
    b64.write.mode("overwrite").parquet(b64_pq)
    derived = decode_base64_media(spark.read.parquet(b64_pq))
    assert _choose_media_strategy(derived) == "arrow"
    kept = derived.filter(F.col("media_ref") >= "img-00000000")
    assert _choose_media_strategy(kept) == "arrow"


def test_decode_payload_forms():
    import base64

    import numpy as np

    from fin_ocr_sdk_spark.sources import codecs
    img = np.full((9, 11), 77, np.uint8)
    data = codecs.encode_png(img)
    assert codecs.decode_payload(data) == data
    assert codecs.decode_payload(base64.b64encode(data).decode()) == data
    url = "data:image/png;base64," + base64.b64encode(data).decode()
    assert codecs.decode_payload(url) == data
    assert (codecs.decode_image(url) == img).all()  # str accepted + sniffed


def test_preprocess_only(spark, smoke_dir):
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    pre = preprocess_only(docs, media).toPandas()
    assert len(pre) == 16
    assert (pre["overlap"] == "false").all()
    assert pre["band"].map(len).min() > 0


def test_preprocess_only_corrupt_image_is_error_row(spark, smoke_dir):
    """One corrupt image must yield an error row, not a failed task —
    the same failure contract as the main scan path."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    media = media.withColumn(
        "image",
        F.when(F.col("media_ref") == "img-00000000",
               F.lit(b"\xff\xd8\xffgarbage")).otherwise(F.col("image")))
    pre = preprocess_only(docs, media).toPandas().set_index("media_ref")
    assert pre.loc["img-00000000", "overlap"].startswith("error: decode")
    assert pre.loc["img-00000000", "band"] is None
    assert (pre.drop("img-00000000")["overlap"] == "false").all()


def test_entry_contract(spark):
    import __spark_entry__ as m
    df = m.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "kind", "text", "media_ref", "order"}
    qs = m.queries()
    oracles = m.oracle_sql()
    assert set(oracles).issubset(set(qs))
    assert len(qs) >= 20


def test_media_manifest_shape(spark, smoke_dir):
    """media_manifest: canonical local paths (no file: URI), one row
    per part file with its size from the engine's listing; None for
    non-file-backed plans (derived columns project _metadata away)."""
    import pandas as pd  # noqa: F811
    from pyspark.sql import functions as F

    from fin_ocr_sdk_spark.plans.pipeline import media_manifest

    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    man = media_manifest(media).toPandas()
    assert len(man) == 16  # one smoke part file per doc
    assert man["path"].str.startswith("/").all()
    assert not man["path"].str.contains("file:").any()
    sizes = {os.path.basename(p): os.path.getsize(p) for p in man["path"]}
    assert all(s > 0 for s in sizes.values())
    assert (man.set_index(man["path"].map(os.path.basename))["size"]
            .to_dict() == sizes)
    # filtered plan: only files with surviving rows are listed
    lite = media.filter(F.col("media_ref") < "img-00000002")
    assert len(media_manifest(lite).toPandas()) == 2
    # derived columns: _metadata propagates through the Project, so the
    # BACKING files still list (the strategy layer, not the manifest,
    # is what blocks direct reads of derived plans)
    derived = media.select(F.col("media_ref"),
                           F.base64("image").alias("payload"))
    assert len(media_manifest(derived).toPandas()) == 16
    # in-memory relation: no _metadata -> None
    inmem = spark.createDataFrame([("x", b"y")], "media_ref string, image binary")
    assert media_manifest(inmem) is None


def test_manifest_distributed_path_same_spans(spark, smoke_dir,
                                              monkeypatch):
    """Manifests past _MANIFEST_DRIVER_CAP build slice units entirely
    executor-side (explode + hash repartition — no driver collect of
    the file list).  Force that path with a cap of 0 and assert the
    scan output is identical to the collected-LPT path."""
    from fin_ocr_sdk_spark.plans import pipeline as P

    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    base = (extract_spans(docs, media).toPandas()
            .sort_values(["doc_id", "order"]).reset_index(drop=True))
    monkeypatch.setattr(P, "_MANIFEST_DRIVER_CAP", 0)
    # unit table contract holds on the distributed path
    units = P._media_files_df(media).toPandas()
    assert set(units.columns) == {"path", "slice", "n_slices"}
    assert len(units) >= 16                      # >= one unit per file
    assert (units.groupby("path")["n_slices"].nunique() == 1).all()
    per_file = units.groupby("path")["slice"].agg(["min", "max", "count"])
    assert (per_file["min"] == 0).all()
    assert (per_file["max"] == per_file["count"] - 1).all()
    got = (extract_spans(docs, media).toPandas()
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    pd.testing.assert_frame_equal(got[cols], base[cols])


def test_text_quality_rounds_like_duckdb(spark, tmp_path):
    """q_text_quality's rounded ratios equal its DuckDB twin's exactly,
    including exact decimal halves the double sits just below
    (199/40 = 4.975 must give 4.97, as DuckDB rounds it), over a
    seeded sweep of length/token/punctuation/digit ratios."""
    import duckdb
    import numpy as np

    import __spark_entry__ as m

    rng = np.random.default_rng(7)
    letters, digits, punct = (np.array(list(a)) for a in
                              ("abcdefghij", "0123456789", ".,;:!?"))

    def doc():
        # token counts and lengths whose ratios land on decimal halves
        # (k/40, k/200 at 2 places; k/160, k/800 at 4), plus random ones
        ntok = int(rng.choice([8, 40, 200, int(rng.integers(1, 200))]))
        n = int(rng.choice([160, 800, 1600, int(rng.integers(1, 1800))]))
        n = max(n, 2 * ntok - 1)
        nchar = n - (ntok - 1)
        cuts = np.sort(rng.choice(np.arange(1, nchar), ntok - 1,
                                  replace=False))
        p_punct, p_digit = rng.uniform(0, 0.3, 2)
        kind = rng.choice(3, nchar, p=[1 - p_punct - p_digit, p_punct,
                                       p_digit])
        chars = np.where(kind == 0, rng.choice(letters, nchar),
                         np.where(kind == 1, rng.choice(punct, nchar),
                                  rng.choice(digits, nchar)))
        return " ".join("".join(w) for w in np.split(chars, cuts))

    # 40 tokens, 160 letters, 39 spaces: n/ntok = 199/40 = 4.975
    texts = [" ".join(["abcd"] * 40)] + [doc() for _ in range(3000)]
    assert len(texts[0]) == 199
    pd.DataFrame({"doc_id": np.arange(len(texts), dtype="int64"),
                  "text": texts}).to_parquet(tmp_path / "documents.parquet")
    got = (m.q_text_quality(spark, str(tmp_path)).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{tmp_path / 'documents.parquet'}')")
    exp = (con.execute(m.oracle_sql()["text_quality"]).fetchdf()
           .sort_values("doc_id").reset_index(drop=True))
    assert got.loc[0, "mean_word_len"] == exp.loc[0, "mean_word_len"] == 4.97
    for c in ("punct_ratio", "digit_ratio", "mean_word_len"):
        diff = got[c] != exp[c]
        assert not diff.any(), (c, got.loc[diff, c].head(),
                                exp.loc[diff, c].head())
    assert (got["passes_quality"] == exp["passes_quality"]).all()


def test_lang_id_rounds_like_duckdb(spark, tmp_path):
    """q_lang_id's stopword ratio equals its DuckDB twin's, including
    exact decimal halves the double sits just below (57/800 = 0.07125
    must give 0.0712, as DuckDB rounds it), over a seeded sweep of
    hit counts over token counts whose ratios land on 4-place halves."""
    import duckdb
    import numpy as np

    import __spark_entry__ as m

    rng = np.random.default_rng(11)
    words = np.array(["check", "micr", "bank", "route", "memo", "payee"])
    stops = np.array(m._STOPWORDS)

    def doc(ntok, hits):
        toks = np.where(np.arange(ntok) < hits, rng.choice(stops, ntok),
                        rng.choice(words, ntok))
        return " ".join(rng.permutation(toks))

    # k/800, k/1600, k/3200 halves at 4 places, plus random ratios
    cases = [(800, 57)] + [
        (ntok, int(rng.integers(0, ntok + 1)))
        for ntok in (int(rng.choice([800, 1600, 3200, 32, 160,
                                     int(rng.integers(1, 400))]))
                     for _ in range(600))]
    texts = [doc(n, k) for n, k in cases]
    pd.DataFrame({"doc_id": np.arange(len(texts), dtype="int64"),
                  "text": texts}).to_parquet(tmp_path / "documents.parquet")
    got = (m.q_lang_id(spark, str(tmp_path)).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{tmp_path / 'documents.parquet'}')")
    exp = (con.execute(m.oracle_sql()["lang_id"]).fetchdf()
           .sort_values("doc_id").reset_index(drop=True))
    assert got.loc[0, "stopword_ratio"] == exp.loc[0, "stopword_ratio"] \
        == 0.0712
    for c in ("stopword_hits", "stopword_ratio", "pred_english"):
        diff = got[c] != exp[c]
        assert not diff.any(), (c, got.loc[diff, c].head(),
                                exp.loc[diff, c].head())


def _four_squares(r: int) -> list[int]:
    """Non-negative integers whose squares sum to ``r`` (Lagrange)."""
    import math
    for x in range(math.isqrt(r), -1, -1):
        for y in range(math.isqrt(r - x * x), -1, -1):
            rem = r - x * x - y * y
            for z in range(math.isqrt(rem), -1, -1):
                w = math.isqrt(rem - z * z)
                if z * z + w * w == rem:
                    return [x, y, z, w]
    raise AssertionError(r)


def test_ann_cosine_topk_rounds_like_duckdb(spark, tmp_path):
    """q_ann_cosine_topk's rounded cosine equals its DuckDB twin's on
    similarities that are exact decimal halves at 4 places (a/800 and
    a/1600 for integer vectors of norm 800 / 1600 against axis-vector
    queries, e.g. 57/800 = 0.07125 must give 0.0712), over a seeded
    sweep."""
    import duckdb
    import numpy as np

    import __spark_entry__ as m

    rng = np.random.default_rng(13)
    for rnd in range(3):
        # queries 0..7 are the axis vectors of dims 0..7; each has five
        # neighbours with integer components on its own axis plus four
        # filler dims, so every similarity is exactly a / norm
        rows = [(q, [1.0 if d == q else 0.0 for d in range(12)])
                for q in range(8)]
        for q in range(8):
            if (rnd, q) == (0, 0):
                norm, picks = 800, [57, 69, 113, 139, 163]
            else:
                norm = int(rng.choice([800, 1600]))
                picks = rng.choice(np.arange(1, norm, 2), 5, replace=False)
            for a in picks:
                vec = [0.0] * 12
                vec[q] = float(a)
                vec[8:] = map(float, _four_squares(norm * norm - int(a) ** 2))
                rows.append((len(rows), vec))
        d = tmp_path / f"r{rnd}"
        d.mkdir()
        pd.DataFrame({"vec_id": np.array([r[0] for r in rows], "int64"),
                      "embedding": [np.array(r[1], np.float32)
                                    for r in rows]}).to_parquet(
            d / "embeddings.parquet")
        key = ["query_id", "neighbor_id"]
        got = (m.q_ann_cosine_topk(spark, str(d)).toPandas()
               .sort_values(key).reset_index(drop=True))
        con = duckdb.connect()
        con.execute("CREATE VIEW embeddings AS SELECT * FROM read_parquet("
                    f"'{d / 'embeddings.parquet'}')")
        exp = (con.execute(m.oracle_sql()["ann_cosine_topk"]).fetchdf()
               .sort_values(key).reset_index(drop=True))
        assert len(got) == len(exp) == 40
        assert (got[key] == exp[key]).all().all()
        if rnd == 0:
            assert got.loc[0, "cosine"] == exp.loc[0, "cosine"] == 0.0712
        diff = got["cosine"] != exp["cosine"]
        assert not diff.any(), (rnd, got.loc[diff].head(),
                                exp.loc[diff].head())
