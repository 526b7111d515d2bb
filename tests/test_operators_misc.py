"""Unit tests for surface not covered by the oracle corpus: set-op variants,
catalog tables (the KV-dataset sink analog, ``ScalaSparkTest.java:127-128``),
binaryFile ingestion, multimodal decode plumbing, and the SURVEY §7
scale-invariance checklist (results identical across shuffle-partition
settings — no operator may depend on physical partitioning).
"""

from __future__ import annotations

import os
from tests.conftest import dss_mkdtemp

from pyspark.sql import functions as F

from dynamic_spark_spark.llmops.multimodal import decode_features, with_media_columns
from dynamic_spark_spark.registry import load_all_queries
from dynamic_spark_spark.sources.readers import load_table, read_format


def test_union_by_name(spark, sf_dir):
    a = spark.createDataFrame([(1, "x")], "id int, s string")
    b = spark.createDataFrame([("y", 2)], "s string, id int")
    out = a.unionByName(b)
    assert out.count() == 2
    assert out.columns == ["id", "s"]
    # missing-column variant fills nulls
    c = spark.createDataFrame([(3,)], "id int")
    out2 = a.unionByName(c, allowMissingColumns=True)
    assert out2.where(F.col("s").isNull()).count() == 1


def test_bag_setops(spark):
    a = spark.createDataFrame([(1,), (1,), (2,)], "v int")
    b = spark.createDataFrame([(1,), (3,)], "v int")
    assert sorted(r.v for r in a.exceptAll(b).collect()) == [1, 2]
    assert sorted(r.v for r in a.intersectAll(b).collect()) == [1]


def test_save_as_table_catalog(spark, sf_dir):
    """saveAsTable + spark.table round trip (B15 KV-sink / B2 dataset-scan
    analog) through the session catalog."""
    nation = load_table(spark, sf_dir, "nation")
    spark.sql("DROP TABLE IF EXISTS nation_cat")
    nation.write.mode("overwrite").saveAsTable("nation_cat")
    back = spark.table("nation_cat")
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)
    spark.sql("DROP TABLE IF EXISTS nation_cat")


def test_binary_file_reader(spark):
    """binaryFile format — the real-media ingestion path for multimodal."""
    d = dss_mkdtemp("dss_bin_")
    for i in range(3):
        with open(os.path.join(d, f"f{i}.bin"), "wb") as f:
            f.write(bytes([i]) * (i + 1))
    df = read_format(spark, d, "binaryFile")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 3
    assert sorted(r["length"] for r in rows) == [1, 2, 3]


def test_multimodal_decode_shape(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    out = decode_features(with_media_columns(docs))
    pdf = out.toPandas()
    assert list(pdf.columns) == ["doc_id", "features"]
    assert all(len(f) == 8 for f in pdf["features"])
    # histogram features are normalized frequencies
    assert all(abs(sum(f) - 1.0) < 1e-9 for f in pdf["features"] if sum(f) > 0)



def test_multimodal_decode_leaves_session_conf_alone(spark, sf_dir):
    """Building the media decode keys leaves the session's Arrow batch
    size alone: a session-wide set there used to change the batch size
    of every Arrow key that ran after ``multimodal_decode``."""
    from dynamic_spark_spark.llmops.multimodal import multimodal_decode

    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "4321")
    try:
        multimodal_decode(spark, sf_dir)
        docs = load_table(spark, sf_dir, "documents")
        decode_features(with_media_columns(docs))
        assert spark.conf.get(conf_key) == "4321"
    finally:
        spark.conf.set(conf_key, prev)

def test_image_header_parse_roundtrip():
    """parse_image_header recovers the exact dimensions encoded by the
    PNG/JPEG byte synthesizers — the parser reads real format structure
    (IHDR offsets, JPEG SOF marker walk), not a stub."""
    from dynamic_spark_spark.llmops.multimodal import (
        jpeg_bytes,
        parse_image_header,
        png_bytes,
    )

    for w, h in [(1, 1), (16, 105), (640, 480), (65535, 3)]:
        assert parse_image_header(png_bytes(w, h)) == ("image/png", w, h)
        assert parse_image_header(jpeg_bytes(w, h)) == ("image/jpeg", w, h)
    assert parse_image_header(b"notanimage") == ("application/octet-stream", None, None)
    assert parse_image_header(None) == ("application/octet-stream", None, None)
    # truncated JPEG: mime detected, dims unrecoverable, no exception
    assert parse_image_header(jpeg_bytes(10, 10)[:6]) == ("image/jpeg", None, None)


def test_png_pixel_decode_roundtrip():
    """REAL PNG decode: encode the deterministic pattern through the full
    pipeline (filter rows, zlib deflate, chunk/CRC framing), decode with
    decode_png_rgb (inflate + per-row unfiltering), and require every pixel
    byte-exact against the generator. Heights > 4 force all five PNG filter
    types through both encoder and decoder; odd widths exercise the
    left-neighbor edge cases."""
    from dynamic_spark_spark.llmops.multimodal import (
        decode_png_rgb,
        png_pixel,
        png_rgb_bytes,
    )

    for w, h, seed in [(1, 1, 0), (3, 7, 5), (8, 6, 42), (17, 11, 9)]:
        px = decode_png_rgb(png_rgb_bytes(w, h, seed))
        assert px is not None and len(px) == h and len(px[0]) == w
        for y in range(h):
            for x in range(w):
                assert px[y][x] == [png_pixel(x, y, c, seed) for c in range(3)], (
                    w, h, seed, x, y,
                )
    # malformed inputs degrade to None, never raise
    assert decode_png_rgb(b"junk") is None
    assert decode_png_rgb(png_rgb_bytes(4, 4, 1)[:30]) is None
    assert decode_png_rgb(None) is None


def test_png_real_resize_roundtrip():
    """REAL resize: thumb is itself a valid PNG whose decoded pixels equal
    nearest-neighbor sampling of the source pattern."""
    from dynamic_spark_spark.llmops.multimodal import (
        RESIZE_DIM,
        decode_png_rgb,
        png_pixel,
        png_rgb_bytes,
        resize_png_real,
    )

    w, h, seed = 11, 7, 3
    thumb = resize_png_real(png_rgb_bytes(w, h, seed))
    px = decode_png_rgb(thumb)
    assert px is not None and len(px) == RESIZE_DIM and len(px[0]) == RESIZE_DIM
    for ty in range(RESIZE_DIM):
        for tx in range(RESIZE_DIM):
            sx, sy = (tx * w) // RESIZE_DIM, (ty * h) // RESIZE_DIM
            assert px[ty][tx] == [png_pixel(sx, sy, c, seed) for c in range(3)]
    assert resize_png_real(b"not a png") is None


def test_multimodal_decode_mixed_paths(spark, sf_dir):
    """The decode pipeline runs ALL FIVE real decoders: even doc_ids through
    the PNG pixel decode (feature = [w, h, 3 channel means, 3 channel
    spreads]) except doc_id % 8 == 6 which routes to the LZW GIF decode
    (r9, same layout), doc_id % 4 == 1 through the grayscale baseline-JPEG
    entropy decode (r5: [w, h, mean, spread, 4 quadrant means]),
    doc_id % 8 == 3 through the COLOR (YCbCr 4:2:0 interleaved-MCU) JPEG
    decode (r7, PNG feature layout), doc_id % 8 == 7 through the Adobe
    YCCK 4-component decode (r8, same layout) — zero histogram-stub rows
    on well-formed payloads. Pins the native array form
    (decode_features_mixed); the registered key flattens it to scalar
    digests for the driver harness."""
    from dynamic_spark_spark.llmops.multimodal import decode_features_mixed

    pdf = decode_features_mixed(load_table(spark, sf_dir, "documents")).toPandas()
    png = pdf[pdf["decoder"] == "png-real"]
    gif = pdf[pdf["decoder"] == "gif-real"]
    jpg = pdf[pdf["decoder"] == "jpeg-real"]
    cjpg = pdf[pdf["decoder"] == "jpeg-color-real"]
    kjpg = pdf[pdf["decoder"] == "jpeg-cmyk-real"]
    assert (png["doc_id"] % 2 == 0).all() and (png["doc_id"] % 8 != 6).all()
    assert (gif["doc_id"] % 8 == 6).all()
    assert (jpg["doc_id"] % 4 == 1).all()
    assert (cjpg["doc_id"] % 8 == 3).all() and (kjpg["doc_id"] % 8 == 7).all()
    assert len(png) and len(gif) and len(jpg) and len(cjpg) and len(kjpg)
    # no stub fallbacks on clean data
    assert len(png) + len(gif) + len(jpg) + len(cjpg) + len(kjpg) == len(pdf)
    for _, r in gif.head(20).iterrows():
        f = r["features"]
        assert len(f) == 8
        assert f[0] == 8 + r["doc_id"] % 9 and f[1] == 5 + r["doc_id"] % 7
        assert all(0 <= v <= 255 for v in f[2:5])  # palette-mapped means
    for _, r in png.head(20).iterrows():
        f = r["features"]
        assert len(f) == 8
        assert f[0] == 8 + r["doc_id"] % 9 and f[1] == 5 + r["doc_id"] % 7
        assert all(0 <= v <= 255 for v in f[2:5])  # channel means
    for _, r in jpg.head(20).iterrows():
        f = r["features"]
        assert len(f) == 8
        assert f[0] == 8 + r["doc_id"] % 9 and f[1] == 5 + r["doc_id"] % 7
        assert 0 <= f[2] <= 255  # global mean of real decoded pixels
        assert all(0 <= v <= 255 for v in f[4:])  # quadrant means
    for _, r in cjpg.head(20).iterrows():
        f = r["features"]
        assert len(f) == 8
        assert f[0] == 8 + r["doc_id"] % 9 and f[1] == 5 + r["doc_id"] % 7
        assert all(0 <= v <= 255 for v in f[2:5])  # RGB channel means
    for _, r in kjpg.head(20).iterrows():
        f = r["features"]
        assert len(f) == 8
        assert f[0] == 8 + r["doc_id"] % 9 and f[1] == 5 + r["doc_id"] % 7
        assert all(0 <= v <= 255 for v in f[2:5])  # RGB from YCCK inks


def test_multimodal_image_meta_dims(spark, sf_dir):
    """The registered key's parsed dims match the doc_id arithmetic the
    payloads were synthesized from, for both mime types."""
    qs = load_all_queries()
    pdf = qs["multimodal_image_meta"](spark, sf_dir).toPandas()
    assert (pdf["width"] == 16 + pdf["doc_id"] % 97).all()
    assert (pdf["height"] == 16 + pdf["doc_id"] % 89).all()
    mimes = ("image/png", "image/jpeg", "image/gif", "image/bmp")
    for rem, mime in enumerate(mimes):
        assert (pdf.loc[pdf["doc_id"] % 4 == rem, "mime"] == mime).all()


def test_scale_invariance_shuffle_partitions(spark, sf_dir):
    """SURVEY §7: operators must produce identical results under different
    shuffle-partition settings (4 vs 32) — catches any accidental dependence
    on physical partitioning. Uses the flagship agg + a join + a window."""
    qs = load_all_queries()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("4", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for name in (
                "agg_groupby_multi",
                "join_inner",
                "topk_per_group",
                # engine-hash / llmops paths must also be partition-invariant
                "dedup_minhash",
                "llm_data_prep",
                "text_fingerprint",
            ):
                df = qs[name](spark, sf_dir)
                key = tuple(sorted(map(tuple, df.collect())))
                results.setdefault(name, []).append(key)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    for name, (r4, r32) in results.items():
        assert r4 == r32, f"{name}: results differ across shuffle partitioning"


def test_dedup_minhash_ml_cap_engages(spark, tmp_path):
    """dedup_minhash_ml must refuse inputs above MINHASH_ML_MAX_DOCS: stock
    MLlib approxSimilarityJoin is quadratic on duplicate-heavy data (measured
    abort at 10x, SCALE.md), so the parity key carries a hard input cap."""
    import pytest

    from dynamic_spark_spark.llmops.dedup import MINHASH_ML_MAX_DOCS, dedup_minhash_ml

    big = spark.range(MINHASH_ML_MAX_DOCS + 1).select(
        F.col("id").alias("doc_id"), F.lit("some repeated text body").alias("text")
    )
    big.write.parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(ValueError, match="capped at"):
        dedup_minhash_ml(spark, str(tmp_path))


def test_posting_list_cascade_bounded_on_hot_keys(spark):
    """_bounded_posting_lists must (a) return exactly the df-capped inverted
    index and (b) never build an uncapped hot-key aggregation buffer: the
    level-1 partials are truncated to cap+1 ids and a key reaches the level-2
    merge as at most POSTING_SALTS rows, whatever its df — the r13-verdict
    skew flag (a stopword gram with df in the millions must not accumulate an
    unbounded array in a single collect_set buffer)."""
    from dynamic_spark_spark.llmops.dedup import (
        POSTING_SALTS,
        _bounded_posting_lists,
        _posting_partials,
    )

    cap = 10
    # one stopword-like hot gram (df = 3000 >> cap) plus 40 rare grams
    hot = spark.range(3000).select(
        F.col("id").alias("doc_id"), F.lit("hot").alias("g")
    )
    rare = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("g"), F.col("id") % 40).alias("g"),
    )
    # duplicated (doc, g) rows must still dedup exactly (jaccard feeds the
    # cascade a non-distinct shingle stream)
    exploded = hot.unionAll(rare).unionAll(rare)
    out = {
        r["g"]: r["ids"] for r in _bounded_posting_lists(exploded, "g", cap).collect()
    }
    # reference: the unbounded distinct+groupBy form — results must match
    ref_rows = (
        exploded.distinct()
        .groupBy("g")
        .agg(
            F.array_sort(F.collect_set("doc_id")).alias("ids"),
            F.count(F.lit(1)).alias("df"),
        )
        .collect()
    )
    ref = {r["g"]: r["ids"] for r in ref_rows if r["df"] <= cap}
    assert len(out) == 40 and "hot" not in out
    assert out == ref
    # the bounded-state invariant, on the level-1 partials themselves
    stats = (
        _posting_partials(exploded, "g", cap)
        .groupBy("g")
        .agg(F.max(F.size("_pids")).alias("widest"), F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    for r in stats:
        assert r["widest"] <= cap + 1, (r["g"], r["widest"])
        assert r["n_rows"] <= POSTING_SALTS, (r["g"], r["n_rows"])


def test_posting_salts_env_is_validated(monkeypatch):
    """DSS_POSTING_SALTS: a malformed value must not crash the import, and
    a value below 1 must not reach pmod(..., 0) (NULL salt = no skew
    bound); both fall back to the default with a warning."""
    import subprocess
    import sys

    import pytest

    from dynamic_spark_spark.session import positive_int_env

    monkeypatch.delenv("DSS_POSTING_SALTS", raising=False)
    assert positive_int_env("DSS_POSTING_SALTS", 64) == 64
    monkeypatch.setenv("DSS_POSTING_SALTS", "16")
    assert positive_int_env("DSS_POSTING_SALTS", 64) == 16
    for bad in ("0", "-3", "abc", "", "1.5"):
        monkeypatch.setenv("DSS_POSTING_SALTS", bad)
        with pytest.warns(RuntimeWarning, match="DSS_POSTING_SALTS"):
            assert positive_int_env("DSS_POSTING_SALTS", 64) == 64, bad
    out = subprocess.run(
        [sys.executable, "-c",
         "from dynamic_spark_spark.llmops import dedup; print(dedup.POSTING_SALTS)"],
        env={**os.environ, "DSS_POSTING_SALTS": "zero"},
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split()[-1] == "64"


def test_get_spark_validates_cpus_env(monkeypatch):
    """SPARK_GRAFT_CPUS: unset uses all cores silently; a malformed value
    or one below 1 also uses all cores, with a warning, instead of raising
    or building an unparseable ``local[-2]`` master."""
    import types

    import pytest

    import dynamic_spark_spark.session as session

    class _Builder:
        def __init__(self):
            self.opts = {}

        def appName(self, name):
            return self

        def master(self, url):
            self.opts["master"] = url
            return self

        def config(self, key, value):
            self.opts[key] = value
            return self

        def getOrCreate(self):
            return self.opts

    def master_for(value):
        if value is None:
            monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
        monkeypatch.setattr(
            session, "SparkSession", types.SimpleNamespace(builder=_Builder())
        )
        return session.get_spark("cpus-env")["master"]

    monkeypatch.setattr(session, "tune", lambda s: s)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
    assert master_for("3") == "local[3]"
    assert master_for(None) == "local[6]"
    for bad in ("abc", "-2", "0", ""):
        with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_CPUS"):
            assert master_for(bad) == "local[6]", bad


def test_sim_topk_ivf_scores_zero_norm_vectors(spark, tmp_path):
    """Zero vectors must score 0.0, not raise ZeroDivisionError in the
    driver-side probe. Every training vector (vec_id % 4 == 0) is zero,
    so the refined centroid is zero too, and query 0 is itself zero."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.similarity import N_QUERIES, sim_topk_ivf

    n = 40
    emb = [
        [0.0] * 4 if i % 4 == 0 else [float((i * k) % 7 + 1) for k in (1, 2, 3, 5)]
        for i in range(n)
    ]
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(emb, pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(n)], pa.int32()),
        }),
        str(tmp_path / "embeddings.parquet"),
    )
    rows = sim_topk_ivf(spark, str(tmp_path)).collect()
    assert {r["q_id"] for r in rows} == set(range(N_QUERIES))
    assert all(r["cos_sim"] == r["cos_sim"] for r in rows)  # no NaN
    assert {r["cos_sim"] for r in rows if r["q_id"] == 0} == {0.0}


def test_dedup_clusters_transitive(spark, sf_dir):
    """Connected components must agree with the candidate-pair graph: both
    endpoints of every LSH pair share a component, and each component id is
    the minimum doc_id of its members (min-label convergence)."""
    from dynamic_spark_spark.llmops.dedup import lsh_candidate_pairs, minhash_signatures
    from dynamic_spark_spark.registry import load_all_queries
    from dynamic_spark_spark.sources.readers import load_table

    qs = load_all_queries()
    comp = {r.doc_id: r.comp for r in qs["dedup_clusters"](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).collect()
    assert pairs, "fixture should produce candidate pairs"
    for p in pairs:
        assert comp[p.doc_a] == comp[p.doc_b], (p.doc_a, p.doc_b)
    members: dict[int, list[int]] = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    assert all(c == min(v) for c, v in members.items())


def test_text_repetition_crafted(spark):
    """Crafted documents pin the repetition metrics: a degenerate doc (one
    word repeated) maxes both signals; distinct-word prose zeroes the bigram
    dup fraction; a 1-word doc yields a null bigram fraction."""
    from dynamic_spark_spark.llmops.text import text_repetition
    from dynamic_spark_spark.registry import QUERIES

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "alpha beta gamma delta"),
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("___crafted")

    # drive the same expressions the registered key uses, on crafted rows
    import dynamic_spark_spark.llmops.text as T
    from pyspark.sql import functions as F

    words = F.filter(F.split("text", r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    bigrams = F.when(
        n_words >= 2,
        F.transform(
            F.sequence(F.lit(1), n_words - 1),
            lambda i: F.concat_ws(" ", F.element_at(words, i), F.element_at(words, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            F.when(
                F.size(bigrams) > 0,
                F.round(
                    1 - F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams).cast("double"),
                    6,
                ),
            ).alias("dup_bigram_frac"),
        ).collect()
    }
    assert out[1]["dup_bigram_frac"] == 1.0 - round(1 / 3, 6)  # 3 bigrams, 1 distinct
    assert out[2]["dup_bigram_frac"] == 0.0
    assert out[3]["dup_bigram_frac"] is None


def test_verification_order_integrity(tmp_path, monkeypatch):
    """The driver's correctness gate samples a PREFIX of queries(), so the
    order is load-bearing: stalest-first by the last CORRECTNESS_rNN.json
    round that verified each key (hash-green, or rows-only by contract),
    never-verified keys first, ties in registration order. Pinned on
    synthetic records, then on the committed ones."""
    import json

    from dynamic_spark_spark import registry

    green = {"hash_match": True, "rows_match": True, "spark_rows": 3, "err": None}
    red = {"hash_match": False, "rows_match": True, "spark_rows": 3, "err": None}
    rows_only = {"hash_match": None, "spark_rows": 3, "err": "no_oracle"}
    records = {
        "CORRECTNESS_r01.json": {"a": green, "b": green, "c": green,
                                 "d": rows_only, "e": red},
        "CORRECTNESS_r02.json": {"b": green, "c": green},
        "CORRECTNESS_r03.json": {"c": red, "g": green},
        "CORRECTNESS_r04.json": "not a record",
    }
    for name, rows in records.items():
        (tmp_path / name).write_text(json.dumps(rows))
    monkeypatch.setattr(registry, "_RECORDS_DIR", str(tmp_path))
    assert registry._last_verified_round() == {
        "a": 1, "b": 2, "c": 2, "d": 1, "g": 3,
    }
    # e (red only) and f (never seen) count as round 0 and keep their
    # registration order; c went red in r03, so it keeps r02 and sits
    # ahead of g, which r03 verified
    keys = ["g", "f", "e", "d", "c", "b", "a"]
    assert registry.verification_order(keys) == ["f", "e", "d", "a", "c", "b", "g"]
    monkeypatch.undo()

    qs = registry.load_all_queries()
    order = registry.verification_order(list(qs))
    assert list(qs) == order, "load_all_queries must return verification order"
    # the committed records: the next 50-key window holds none of the keys
    # the latest round verified
    last = registry._last_verified_round()
    latest = max(last.values())
    assert all(last.get(k, 0) < latest for k in order[:50])


def test_registry_load_idempotent():
    """load_all_queries() must be safe to call repeatedly and survive a
    module re-import (reload re-runs decorators): no duplicate-key error,
    identical key set, identical verification order (r6 verdict order #3).
    Two genuinely different functions claiming one key must still raise."""
    import importlib
    import pytest

    from dynamic_spark_spark import registry

    first = list(registry.load_all_queries())
    second = list(registry.load_all_queries())
    assert first == second
    # reload one registering module: decorators re-run against a populated
    # registry; same-definition re-binding must be accepted silently
    import dynamic_spark_spark.operators.sorts as sorts_mod

    importlib.reload(sorts_mod)
    third = list(registry.load_all_queries())
    assert first == third
    # a DIFFERENT definition under an existing key is still a hard error
    with pytest.raises(ValueError, match="duplicate query key"):
        @registry.query("sort_multi")
        def _imposter(spark, sf_dir):  # pragma: no cover
            raise AssertionError
    # the failed registration must not have clobbered the real function
    assert registry.QUERIES["sort_multi"] is sorts_mod.sort_multi


def test_pagerank_mass_and_convergence(spark, sf_dir):
    """PageRank invariants the rows-only key can't oracle-check: total rank
    mass equals |V| (the dangling correction conserves mass exactly), every
    rank is positive, and the ranking is deterministic across two runs."""
    from dynamic_spark_spark.operators.graph import graph_pagerank

    rows = {r["node"]: r["rank_fp"] for r in graph_pagerank(spark, sf_dir).collect()}
    n = len(rows)
    total = sum(rows.values()) / 1_000_000
    assert abs(total - n) < 1e-3 * n, f"rank mass {total} != |V|={n}"
    assert all(v > 0 for v in rows.values())
    rows2 = {r["node"]: r["rank_fp"] for r in graph_pagerank(spark, sf_dir).collect()}
    assert rows == rows2


def test_pca_projection_invariants(spark, sf_dir):
    """embed_pca_project has no SQL oracle; pin the linear-algebra facts:
    PC1 captures at least as much variance as PC2, projections are centered
    (mean ≈ 0), and two runs are bit-identical (sign normalization works)."""
    from dynamic_spark_spark.llmops.embedding_ops import embed_pca_project

    rows = embed_pca_project(spark, sf_dir).collect()
    import statistics

    pc1 = [r["pc1_fp"] for r in rows]
    pc2 = [r["pc2_fp"] for r in rows]
    assert abs(statistics.mean(pc1)) < 2e4  # centered (fp units: 0.02)
    assert abs(statistics.mean(pc2)) < 2e4
    assert statistics.pvariance(pc1) >= statistics.pvariance(pc2)
    rows2 = embed_pca_project(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_ffd_packing_invariants(spark, sf_dir):
    """pack_sequences_ffd has no SQL oracle; pin the bin-packing facts:
    every doc appears exactly once, no bin exceeds capacity (unless a single
    oversize doc owns it), the first-fit guarantee holds (at most one bin
    ≤ half-full per group), and the packing is deterministic."""
    from dynamic_spark_spark.llmops.mixture import FFD_CAPACITY, pack_sequences_ffd

    rows = pack_sequences_ffd(spark, sf_dir).collect()
    docs = [r["doc_id"] for r in rows]
    assert len(docs) == len(set(docs))
    bins: dict[tuple, list] = {}
    for r in rows:
        bins.setdefault((r["lang"], r["shard"], r["bin_id"]), []).append(r["n_tokens"])
    for members in bins.values():
        if len(members) > 1:
            assert sum(members) <= FFD_CAPACITY
    groups: dict[tuple, list] = {}
    for (lang, shard, _), members in bins.items():
        groups.setdefault((lang, shard), []).append(sum(members))
    for loads in groups.values():
        half_empty = sum(1 for load in loads if load <= FFD_CAPACITY / 2)
        assert half_empty <= 1, f"first-fit violated: {loads}"
    rows2 = pack_sequences_ffd(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_media_header_parsers_roundtrip():
    """Every synthetic encoder round-trips through its parser bit-exactly,
    and malformed payloads degrade to nulls instead of raising."""
    from dynamic_spark_spark.llmops.multimodal import (
        bmp_bytes,
        gif_bytes,
        jpeg_bytes,
        parse_image_header,
        parse_wav_header,
        png_bytes,
        wav_bytes,
    )

    cases = [
        (png_bytes, "image/png"),
        (jpeg_bytes, "image/jpeg"),
        (gif_bytes, "image/gif"),
        (bmp_bytes, "image/bmp"),
    ]
    for enc, mime in cases:
        for w, h in [(1, 1), (16, 89), (640, 480), (65535, 1)]:
            assert parse_image_header(enc(w, h)) == (mime, w, h), (mime, w, h)
    for rate, ch, bits, n in [(8000, 1, 16, 1000), (44100, 2, 16, 44100), (22050, 2, 8, 7)]:
        assert parse_wav_header(wav_bytes(rate, ch, bits, n)) == (
            rate, ch, bits, n, n * 1000 // rate,
        )
    assert parse_image_header(b"") == ("application/octet-stream", None, None)
    assert parse_image_header(None) == ("application/octet-stream", None, None)
    assert parse_wav_header(b"RIFFxxxx") == (None, None, None, None, None)
    assert parse_wav_header(None) == (None, None, None, None, None)


def test_sketch_guarantees(spark, sf_dir):
    """The sketch contracts beyond what the oracle equality shows:
    count-min never underestimates (est >= true for every probe, including
    absent keys), and the Bloom filter has zero false negatives
    (actually_present implies bloom_member)."""
    qs = load_all_queries()
    cms = qs["agg_countmin_estimate"](spark, sf_dir).collect()
    assert cms, "no CMS probes returned"
    for r in cms:
        assert r["est_count"] >= r["true_count"], dict(r.asDict())
    bloom = qs["agg_bloom_membership"](spark, sf_dir).collect()
    assert any(r["actually_present"] for r in bloom)
    assert any(not r["actually_present"] for r in bloom)
    for r in bloom:
        if r["actually_present"]:
            assert r["bloom_member"], dict(r.asDict())


def test_compaction_reduces_file_count(spark, sf_dir):
    """sink_compaction's whole point: the fragmented write has ~64 parquet
    parts, the compacted rewrite has <= 4 — and content survives (the oracle
    equality covers values; this pins the file-count mechanics)."""
    import glob

    from dynamic_spark_spark.operators import scans

    made = []
    orig = scans._tmpdir

    def capture(prefix="dss_"):
        d = orig(prefix=prefix)
        made.append((prefix, d))
        return d

    scans._tmpdir = capture
    try:
        qs = load_all_queries()
        qs["sink_compaction"](spark, sf_dir).collect()
    finally:
        scans._tmpdir = orig
    frag = [d for p, d in made if p.startswith("dss_frag_")]
    compact = [d for p, d in made if p.startswith("dss_compact_")]
    assert frag and compact, made
    n_frag = len(glob.glob(os.path.join(frag[-1], "part-*")))
    n_compact = len(glob.glob(os.path.join(compact[-1], "part-*")))
    assert n_frag >= 32, n_frag
    assert 1 <= n_compact <= 4, n_compact


def test_fuzzy_join_is_hash_not_nested_loop(spark, sf_dir):
    """join_fuzzy's banded-length block must plan as an equi (hash) join;
    a regression to BroadcastNestedLoopJoin/CartesianProduct would make the
    dictionary self-join quadratic at scale."""
    qs = load_all_queries()
    plan = (
        qs["join_fuzzy"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_percentile_approx_rank_error(spark, sf_dir):
    """The quantile-sketch contract: a percentile_approx(accuracy=1000)
    estimate must be an actual element of the group whose rank is within
    n/1000 (+slack) of the target rank — the KLL/GK guarantee that makes
    the sketch usable in place of an exact sort at scale."""
    qs = load_all_queries()
    approx = {
        r["l_linestatus"]: r
        for r in qs["agg_percentile_approx"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    for status, row in approx.items():
        vals = sorted(
            x["l_extendedprice"]
            for x in li.where(F.col("l_linestatus") == status)
            .select("l_extendedprice")
            .collect()
        )
        n = len(vals)
        tol = max(2, n // 500)  # 2x the 1/1000 rank guarantee as slack
        import bisect

        for p, col in [(0.5, "p50_approx"), (0.9, "p90_approx"), (0.99, "p99_approx")]:
            est = row[col]
            rank = bisect.bisect_left(vals, est)
            target = p * n
            assert abs(rank - target) <= tol, (status, col, rank, target, tol)


def test_dedup_apply_canonical_invariants(spark, sf_dir):
    """One survivor per duplicate cluster; the survivor is a maximum-length
    member (doc_id tie-break); never-clustered docs all pass through."""
    qs = load_all_queries()
    kept = qs["dedup_apply_canonical"](spark, sf_dir).collect()
    clusters = qs["dedup_clusters"](spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    comp_members: dict[int, list[int]] = {}
    for r in clusters:
        comp_members.setdefault(r["comp"], []).append(r["doc_id"])
    survivors_by_comp: dict[int, list[int]] = {}
    clustered_docs = {r["doc_id"] for r in clusters}
    for r in kept:
        if r["comp"] is not None:
            survivors_by_comp.setdefault(r["comp"], []).append(r["doc_id"])
        else:
            assert r["doc_id"] not in clustered_docs
    assert set(survivors_by_comp) == set(comp_members)
    for comp, surv in survivors_by_comp.items():
        assert len(surv) == 1, (comp, surv)
        max_len = max(docs[d] for d in comp_members[comp])
        assert docs[surv[0]] == max_len, (comp, surv)
    # full coverage: survivors + dropped == corpus
    n_dropped = sum(len(v) - 1 for v in comp_members.values())
    assert len(kept) + n_dropped == len(docs)


def test_hll_union_error_bound(spark, sf_dir):
    """Region-level estimates from unioned per-nation sketches must land
    within 5% of the exact distinct counts — the mergeability contract that
    lets rollups combine sketches instead of re-scanning facts."""
    qs = load_all_queries()
    approx = {
        r["n_regionkey"]: r["approx_customers"]
        for r in qs["agg_hll_union"](spark, sf_dir).collect()
    }
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    exact = {
        r["n_regionkey"]: r["x"]
        for r in c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey")
        .agg(F.countDistinct("c_custkey").alias("x"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, est in approx.items():
        assert abs(est - exact[k]) / max(exact[k], 1) < 0.05, (k, est, exact[k])


def test_stats_tier_mathematical_contracts(spark, sf_dir):
    """The inferential-stats tier must satisfy its closed-form invariants:
    corr ∈ [-1, 1]; total PSI ≥ 0 (Gibbs' inequality on the smoothed
    distributions); Benford expected counts sum to N; Welch df between
    min(n)-1 and n1+n2-2; char entropy within [0, ln(alphabet)]·1e6."""
    import math

    qs = load_all_queries()
    corr = qs["stat_corr_matrix"](spark, sf_dir).toPandas()
    assert len(corr) == 6
    assert ((corr.corr_xy >= -1) & (corr.corr_xy <= 1)).all()

    psi = qs["quality_psi_drift"](spark, sf_dir).toPandas()
    assert psi.psi_contrib.sum() >= -1e-9  # KL-symmetrized form is >= 0

    ben = qs["quality_benford"](spark, sf_dir).toPandas()
    n = ben.obs.sum()
    assert abs(ben.expected.sum() - n) < 1.0  # Σ log10(1+1/d) = 1 exactly

    tt = qs["stat_ttest_welch"](spark, sf_dir).toPandas().iloc[0]
    assert min(tt.n_r, tt.n_a) - 1 <= tt.df_welch <= tt.n_r + tt.n_a - 2

    ent = qs["text_char_entropy"](spark, sf_dir).toPandas()
    assert (ent.entropy_micro_nats >= 0).all()
    max_nats = ent.n_distinct_chars.map(lambda k: math.log(max(k, 1)))
    assert (ent.entropy_micro_nats <= max_nats * 1e6 + len(ent)).all()


def test_phonetic_and_xpath_pinned(spark, sf_dir):
    """fn_phonetic must produce the canonical soundex encodings; fn_xpath
    must extract the synthesized fields exactly."""
    qs = load_all_queries()
    sx = {
        r["c_name"]: r["name_soundex"]
        for r in qs["fn_phonetic"](spark, sf_dir).limit(200).collect()
    }
    # canonical algorithm spot-checks (public soundex test vectors)
    row = spark.sql(
        "SELECT soundex('Robert') a, soundex('Rupert') b, soundex('Tymczak') c"
    ).first()
    assert (row.a, row.b, row.c) == ("R163", "R163", "T522")
    assert all(len(v) == 4 for v in sx.values())

    xp = qs["fn_xpath"](spark, sf_dir).collect()
    for r in xp:
        assert r["x_key"] == r["n_nationkey"]
        assert r["n_tags"] == 2
        assert r["x_name"]


def test_file_metadata_row_index_dense(spark, sf_dir):
    """scan_file_metadata: per-file row_index must be dense 0..n-1 — the
    contract incremental consumers rely on to address rows stably."""
    qs = load_all_queries()
    for r in qs["scan_file_metadata"](spark, sf_dir).collect():
        assert r["min_idx"] == 0
        assert r["max_idx"] == r["n_rows"] - 1
        assert r["file_name"].endswith(".parquet")


def test_dedup_semantic_verdicts_are_sound(spark, sf_dir):
    """Every vector dedup_semantic drops must name an earlier vector whose
    cosine really is >= SEM_TAU — the verdict column is checked against
    independently recomputed cosines, not trusted."""
    import numpy as np

    from dynamic_spark_spark.llmops.similarity import SEM_TAU, dedup_semantic
    from dynamic_spark_spark.sources.readers import load_table

    out = {r["vec_id"]: r for r in dedup_semantic(spark, sf_dir).collect()}
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    assert set(out) == set(emb)
    dropped = [r for r in out.values() if not r["kept"]]
    for r in dropped:
        v, d = emb[r["vec_id"]], emb[r["dup_of"]]
        cos = float(v @ d / (np.linalg.norm(v) * np.linalg.norm(d)))
        assert r["dup_of"] < r["vec_id"]
        assert cos >= SEM_TAU - 1e-9, (r, cos)
        # the named duplicate must share the dropped vector's cell
        assert out[r["dup_of"]]["cid"] == r["cid"]


def test_bpe_segment_respects_token_boundaries():
    """The retired replace-chain formulation collapsed 'there' to one
    out-of-vocab symbol by matching across a merged token's boundary; true
    pair merging must not. These are hand-computed segmentations under
    BPE_MERGES' rank order, including the greedy-leftmost overlap case."""
    from dynamic_spark_spark.llmops.text import bpe_segment

    assert bpe_segment("there") == ["the", "re"]
    assert bpe_segment("other") == ["o", "the", "r"]
    assert bpe_segment("in the end") == ["in", "the", "e", "n", "d"]
    assert bpe_segment("ttthhh") == ["t", "t", "th", "h", "h"]  # leftmost, non-overlapping
    assert bpe_segment("AND-er!") == ["and", "er"]  # lowercase + strip non-alpha
    assert bpe_segment("") == []


def test_curriculum_budget_zero_token_docs(spark, tmp_path):
    """The WindowGroupLimit rewrite of curriculum_quality_budget splits
    positive- and zero-token documents (rank-pruning is only provably safe
    for docs that consume budget); this pins the zero-token branch the
    parquet fixtures never exercise, differentially against DuckDB running
    the registered oracle on the same synthetic table. Covers: zero docs
    after budget exhaustion (excluded), zero docs in an unexhausted source
    (kept, cum_tok = preceding positive total), and an all-zero source
    (kept with cum_tok 0)."""
    import duckdb

    from dynamic_spark_spark.llmops.curation import (
        _CURRICULUM_ORACLE,
        curriculum_quality_budget,
    )
    from tests.oracle_harness import compare

    rows = []
    # source A: five 300-token docs exhaust the 700 budget at doc 3;
    # zero-token docs (score 0) sort last -> all excluded
    for i in range(5):
        rows.append((i, " ".join(f"w{i}x{j}" for j in range(300)), "en", "A", 0))
    rows += [(5, "", "en", "A", 0), (6, "  !!  ", "en", "A", 0)]
    # source B: one 100-token doc, budget never exhausted -> zero docs kept
    rows.append((10, " ".join(f"b{j}" for j in range(100)), "en", "B", 0))
    rows += [(11, "", "en", "B", 0), (12, "...", "en", "B", 0)]
    # source C: only zero-token docs -> all kept with cum_tok 0
    rows += [(20, "", "en", "C", 0), (21, "!?", "en", "C", 0)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = curriculum_quality_budget(spark, str(tmp_path))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    compare("curriculum_zero_token", got, con.execute(_CURRICULUM_ORACLE).df())
    kept = {r["doc_id"]: r for r in got.collect()}
    assert 5 not in kept and 6 not in kept  # zero docs after exhaustion
    assert kept[11]["cum_tok"] == 100 and kept[12]["cum_tok"] == 100
    assert kept[20]["cum_tok"] == 0 and kept[21]["cum_tok"] == 0


def test_dedup_embedding_cap_engages(spark, tmp_path):
    """dedup_embedding must refuse inputs above DEDUP_EMB_MAX_VECS: its
    label-blocked all-pairs join is quadratic in block size by contract
    (measured >26 min at 100x duplicate staging, SCALE.md), so the
    oracle-parity key carries a hard input cap like dedup_minhash_ml."""
    import pytest

    from dynamic_spark_spark.llmops.similarity import (
        DEDUP_EMB_MAX_VECS,
        dedup_embedding,
    )

    big = spark.range(DEDUP_EMB_MAX_VECS + 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
        F.lit(0).alias("label"),
    )
    big.write.parquet(str(tmp_path / "embeddings.parquet"))
    with pytest.raises(ValueError, match="capped at"):
        dedup_embedding(spark, str(tmp_path))


def test_media_parsers_degrade_on_mutation():
    """The 100-TB degrade contract for EVERY media parser: byte-flipped
    valid payloads must parse to values-or-nulls, never raise. Pins the r7
    fuzz findings — an ISO-BMFF box size extending past the payload
    (short struct slice) and a zeroed mvhd timescale (division by zero)
    both degrade to nulls now."""
    import struct

    import numpy as np

    from dynamic_spark_spark.llmops.multimodal import (
        decode_png_rgb,
        mp4_bytes,
        parse_image_header,
        parse_mp4_header,
        parse_wav_header,
        png_pixel_features,
        png_rgb_bytes,
        resize_png_real,
        wav_bytes,
    )

    # the two minimized regressions first
    clean = mp4_bytes(600, 5, 320, 180)
    lying = bytearray(clean)
    lying[0:4] = struct.pack(">I", len(clean) + 64)  # box past payload end
    assert parse_mp4_header(bytes(lying)) == (None,) * 6
    zts = bytearray(clean)
    mvhd = bytes(clean).index(b"mvhd")
    zts[mvhd + 16 : mvhd + 20] = b"\x00\x00\x00\x00"  # timescale = 0
    assert parse_mp4_header(bytes(zts)) == (None,) * 6

    rng = np.random.RandomState(13)
    makers = [
        lambda: png_rgb_bytes(rng.randint(1, 12), rng.randint(1, 12), 7),
        lambda: wav_bytes(8000, 1, 16, int(rng.randint(1, 60))),
        lambda: mp4_bytes(600, int(rng.randint(1, 60)), 320, 180),
    ]
    for trial in range(240):
        stream = bytearray(makers[trial % len(makers)]())
        for _ in range(rng.randint(1, 5)):
            stream[rng.randint(0, len(stream))] = rng.randint(0, 256)
        b = bytes(stream)
        for fn in (
            parse_image_header,
            decode_png_rgb,
            png_pixel_features,
            resize_png_real,
            parse_wav_header,
            parse_mp4_header,
        ):
            fn(b)  # must not raise; return value may be nulls/None


def test_registry_duplicate_guard_rejects_sibling_modules():
    """The duplicate-key guard must treat same-named functions from SIBLING
    modules as a registration bug (raise), while still allowing the
    idempotent re-bind cases: an exact reload and the same file imported
    under a dotted-suffix module name (r7 review finding — a basename-only
    comparison silently rebound sibling definitions)."""
    import pytest as _pytest

    from dynamic_spark_spark import registry

    key = "__r7_guard_probe__"

    def probe(spark, sf_dir):  # pragma: no cover - never run
        return None

    try:
        registry.query(key)(probe)
        registry.query(key)(probe)  # exact re-registration: idempotent

        def clone(spark, sf_dir):  # pragma: no cover - never run
            return None

        clone.__qualname__ = probe.__qualname__
        clone.__module__ = "dynamic_spark_spark.llmops." + probe.__module__
        registry.query(key)(clone)  # dotted-suffix dual import: allowed

        def sibling(spark, sf_dir):  # pragma: no cover - never run
            return None

        sibling.__qualname__ = probe.__qualname__
        sibling.__module__ = "sibling_pkg.ops"
        with _pytest.raises(ValueError, match="duplicate query key"):
            registry.query(key)(sibling)
    finally:
        registry.QUERIES.pop(key, None)
        registry.ORACLE.pop(key, None)
        registry.TAGS.pop(key, None)


def test_registry_guard_single_segment_module(tmp_path):
    """r7 advice: with a single-segment module name the dotted-suffix rule
    degenerates to a basename match ('ops' vs 'sibling_pkg.ops'), so two
    genuinely different same-named functions could silently rebind. When
    only the suffix rule (not exact module equality) matches, the guard
    must also demand the definitions share a source file."""
    import pytest as _pytest

    from dynamic_spark_spark import registry

    key = "__r8_single_segment_probe__"
    code = "def q(spark, sf_dir):\n    return None\n"
    src_a, src_b = tmp_path / "a.py", tmp_path / "b.py"
    src_a.write_text(code)
    src_b.write_text(code)

    def load(path, module):
        ns: dict = {}
        exec(compile(path.read_text(), str(path), "exec"), ns)
        fn = ns["q"]
        fn.__module__ = module
        fn.__qualname__ = "q"
        return fn

    try:
        registry.query(key)(load(src_a, "ops"))
        # different file, basename-suffix module match: must raise now
        with _pytest.raises(ValueError, match="duplicate query key"):
            registry.query(key)(load(src_b, "sibling_pkg.ops"))
        # SAME file re-exec'd under a dotted-suffix dual name (reload /
        # dual-import semantics): still an idempotent re-bind, no raise
        again = load(src_a, "sibling_pkg.ops")
        registry.query(key)(again)
        assert registry.QUERIES[key] is again
    finally:
        registry.QUERIES.pop(key, None)
        registry.ORACLE.pop(key, None)
        registry.TAGS.pop(key, None)


def test_png_all_color_types_roundtrip_lossless():
    """r8: every 8-bit non-interlaced PNG color type decodes losslessly to
    the h×w×3 RGB contract — gray (0) replicates, palette (3) indexes
    PLTE, gray+alpha (4) and RGBA (6) drop alpha; heights > 4 force all
    five filters through each type's own bpp geometry. An out-of-range
    palette index is a corrupt stream and rejects."""
    import random

    from dynamic_spark_spark.llmops.multimodal import (
        decode_png_rgb,
        encode_png_gray,
        encode_png_gray_alpha,
        encode_png_palette,
        encode_png_rgba,
    )

    rnd = random.Random(9)
    for w, h in ((1, 1), (3, 7), (17, 11)):
        gray = [[rnd.randrange(256) for _ in range(w)] for _ in range(h)]
        assert decode_png_rgb(encode_png_gray(gray)) == [
            [[v] * 3 for v in row] for row in gray
        ]
        pal = [[rnd.randrange(256) for _ in range(3)] for _ in range(17)]
        idx = [[rnd.randrange(17) for _ in range(w)] for _ in range(h)]
        assert decode_png_rgb(encode_png_palette(idx, pal)) == [
            [pal[v] for v in row] for row in idx
        ]
        rgba = [
            [[rnd.randrange(256) for _ in range(4)] for _ in range(w)]
            for _ in range(h)
        ]
        assert decode_png_rgb(encode_png_rgba(rgba)) == [
            [p[:3] for p in row] for row in rgba
        ]
        ga = [
            [[rnd.randrange(256) for _ in range(2)] for _ in range(w)]
            for _ in range(h)
        ]
        assert decode_png_rgb(encode_png_gray_alpha(ga)) == [
            [[p[0]] * 3 for p in row] for row in ga
        ]
    assert decode_png_rgb(encode_png_palette([[5]], [[1, 2, 3]])) is None


def test_png_new_color_types_fuzz_never_raise():
    """Truncations and byte flips over the new color-type streams degrade
    to None/list, never raise — same contract as the RGB tier."""
    import random

    from dynamic_spark_spark.llmops.multimodal import (
        decode_png_rgb,
        encode_png_gray,
        encode_png_palette,
        encode_png_rgba,
    )

    rnd = random.Random(4)
    streams = [
        encode_png_gray([[rnd.randrange(256) for _ in range(9)] for _ in range(7)]),
        encode_png_palette(
            [[rnd.randrange(8) for _ in range(9)] for _ in range(7)],
            [[rnd.randrange(256) for _ in range(3)] for _ in range(8)],
        ),
        encode_png_rgba(
            [[[rnd.randrange(256) for _ in range(4)] for _ in range(9)] for _ in range(7)]
        ),
    ]
    for s in streams:
        for cut in range(0, len(s), max(1, len(s) // 12)):
            out = decode_png_rgb(s[:cut])
            assert out is None or isinstance(out, list)
        for _ in range(40):
            b = bytearray(s)
            b[rnd.randrange(len(b))] = rnd.randrange(256)
            out = decode_png_rgb(bytes(b))
            assert out is None or isinstance(out, list)


def test_wav_pcm_decode_roundtrip_lossless():
    """r8: the audio tier grows real SAMPLE decode (it was header-only).
    PCM is uncompressed, so decode must return exactly the int16 frames
    the encoder wrote, for every rate/channel/length shape; header parse
    agrees with the PCM shape; malformed/truncated inputs degrade."""
    import numpy as np

    from dynamic_spark_spark.llmops.multimodal import (
        decode_wav_pcm,
        parse_wav_header,
        wav_bytes,
        wav_pcm_bytes,
        wav_pcm_sample,
    )

    for rate, ch, n, seed in [(8000, 1, 1, 0), (16000, 2, 37, 5), (44100, 2, 500, 9)]:
        payload = wav_pcm_bytes(rate, ch, n, seed)
        frames = decode_wav_pcm(payload)
        assert frames is not None and frames.shape == (n, ch)
        expect = np.array(
            [[wav_pcm_sample(i, c, seed) for c in range(ch)] for i in range(n)],
            dtype=np.int16,
        )
        assert np.array_equal(frames, expect)
        assert parse_wav_header(payload)[:2] == (rate, ch)
    # truncated data chunk: decode the whole frames that exist
    full = wav_pcm_bytes(8000, 2, 100, 3)
    cut = full[: len(full) - 37]
    part = decode_wav_pcm(cut)
    assert part is not None and part.shape[1] == 2 and 0 < part.shape[0] < 100
    assert np.array_equal(part, decode_wav_pcm(full)[: part.shape[0]])
    # header-only stream (no payload), junk, and non-16-bit all degrade
    assert decode_wav_pcm(wav_bytes(8000, 1, 16, 100)) is None
    assert decode_wav_pcm(b"junk") is None
    assert decode_wav_pcm(None) is None
    assert decode_wav_pcm(wav_pcm_bytes(8000, 1, 0, 1)) is None  # zero frames
    # r8 advice: a lying fmt chunk (block_align disagreeing with
    # channels*2) must degrade to None, not raise from frombuffer/reshape
    import struct as _struct

    from dynamic_spark_spark.llmops.multimodal import wav_audio_features

    for bad_align in (1, 3, 4, 5):
        lying = bytearray(wav_pcm_bytes(8000, 1, 10, 2))
        lying[32:34] = _struct.pack("<H", bad_align)  # block_align field
        assert decode_wav_pcm(bytes(lying)) is None
        assert wav_audio_features(bytes(lying)) is None  # must not propagate


def test_wav_audio_features_pinned():
    """Feature arithmetic pinned against direct numpy on the source
    samples — rms/peak/zcr are the curation signals, so they must be the
    textbook definitions, not approximations."""
    import numpy as np

    from dynamic_spark_spark.llmops.multimodal import (
        wav_audio_features,
        wav_pcm_bytes,
        wav_pcm_sample,
    )

    rate, ch, n, seed = 16000, 2, 250, 7
    feats = wav_audio_features(wav_pcm_bytes(rate, ch, n, seed))
    assert feats is not None and len(feats) == 7
    x = np.array(
        [[wav_pcm_sample(i, c, seed) for c in range(ch)] for i in range(n)],
        dtype=np.float64,
    )
    assert feats[0] == rate and feats[1] == ch and feats[2] == n
    assert feats[3] == n * 1000 // rate
    assert feats[4] == round(float(np.sqrt(np.mean(x * x))), 6)
    assert feats[5] == float(np.max(np.abs(x)))
    signs = np.signbit(x)
    assert feats[6] == round(float(np.mean(signs[1:] != signs[:-1])), 6)
    assert wav_audio_features(b"junk") is None


def test_png_adam7_interlace_roundtrip():
    """r8: Adam7-interlaced PNGs decode to the identical pixels as their
    sequential twins — seven independently filtered sub-images, scattered
    by their pass grids — across shapes that exercise empty passes (tiny
    images), partial passes, and every color type through the shared
    writer. Truncations and byte flips degrade, never raise."""
    import random

    from dynamic_spark_spark.llmops.multimodal import (
        _encode_png_raw,
        decode_png_rgb,
        encode_png_rgb,
        png_pixel,
    )

    rnd = random.Random(13)
    for w, h in ((1, 1), (2, 2), (3, 7), (17, 11), (1, 9), (33, 21)):
        rows = [
            [[png_pixel(x, y, c, 5) for c in range(3)] for x in range(w)]
            for y in range(h)
        ]
        assert decode_png_rgb(encode_png_rgb(rows, interlace=1)) == rows, (w, h)
    gray = [[rnd.randrange(256) for _ in range(13)] for _ in range(9)]
    s = _encode_png_raw([bytes(r) for r in gray], 1, 0, interlace=1)
    assert decode_png_rgb(s) == [[[v] * 3 for v in row] for row in gray]
    pal = [[rnd.randrange(256) for _ in range(3)] for _ in range(16)]
    idx = [[rnd.randrange(16) for _ in range(13)] for _ in range(9)]
    s = _encode_png_raw(
        [bytes(r) for r in idx], 1, 3,
        plte=bytes(v for p in pal for v in p), interlace=1,
    )
    assert decode_png_rgb(s) == [[pal[v] for v in row] for row in idx]
    base = encode_png_rgb(
        [[[rnd.randrange(256) for _ in range(3)] for _ in range(11)] for _ in range(8)],
        interlace=1,
    )
    for cut in range(0, len(base), max(1, len(base) // 15)):
        out = decode_png_rgb(base[:cut])
        assert out is None or isinstance(out, list)
    for _ in range(80):
        b = bytearray(base)
        b[rnd.randrange(len(b))] = rnd.randrange(256)
        out = decode_png_rgb(bytes(b))
        assert out is None or isinstance(out, list)


def test_mp3_frame_walk_roundtrip():
    """r8: MPEG-1 Layer III frame walk — the synthesizer writes a real
    ID3v2 tag + CBR frame sequence with table-derived lengths (alternating
    padding bits), and the parser must recover version/bitrate/rate/
    channels and count EVERY frame (duration = frames x 1152 / rate).
    Free-format, reserved bits, truncation, and junk all degrade."""
    from dynamic_spark_spark.llmops.multimodal import (
        mp3_frame_bytes,
        parse_mp3_header,
    )

    for n, br_idx, sr_idx, mono in [(1, 9, 0, False), (7, 14, 1, True), (23, 1, 2, False)]:
        payload = mp3_frame_bytes(n, bitrate_idx=br_idx, rate_idx=sr_idx, mono=mono)
        ver, kbps, rate, ch, frames, dur = parse_mp3_header(payload)
        assert ver == 3 and frames == n
        assert ch == (1 if mono else 2)
        assert kbps == (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)[br_idx]
        assert rate == (44100, 48000, 32000)[sr_idx]
        assert dur == n * 1152 * 1000 // rate
    # truncating mid-final-frame drops exactly that frame
    full = mp3_frame_bytes(5, bitrate_idx=9, rate_idx=0)
    assert parse_mp3_header(full[:-10])[4] == 4
    # degrade paths: junk, empty, free-format bitrate, reserved rate bits
    assert parse_mp3_header(b"junkjunkjunk") == (None,) * 6
    assert parse_mp3_header(b"") == (None,) * 6
    assert parse_mp3_header(None) == (None,) * 6
    free = bytearray(mp3_frame_bytes(1, bitrate_idx=9))
    sync = bytes(free).index(b"\xff\xfb")
    free[sync + 2] = (free[sync + 2] & 0x0F) | 0x00  # bitrate index 0 = free
    assert parse_mp3_header(bytes(free)) == (None,) * 6
    # byte-flip fuzz: never raises
    import random

    rnd = random.Random(2)
    for _ in range(120):
        b = bytearray(full)
        b[rnd.randrange(len(b))] = rnd.randrange(256)
        out = parse_mp3_header(bytes(b))
        assert isinstance(out, tuple) and len(out) == 6


def test_flac_streaminfo_roundtrip():
    """r8: FLAC STREAMINFO bit-packing roundtrip — the 20/3/5/36-bit field
    layout must survive encode/parse exactly for boundary shapes, and
    malformed streams degrade."""
    from dynamic_spark_spark.llmops.multimodal import flac_bytes, parse_flac_header

    for rate, ch, bits, n in [
        (44100, 2, 16, 1_000_000),
        (8000, 1, 8, 1),
        (192000, 8, 32, (1 << 36) - 1),
    ]:
        got = parse_flac_header(flac_bytes(rate, ch, bits, n))
        assert got == (rate, ch, bits, n, n * 1000 // rate)
    assert parse_flac_header(b"junk") == (None,) * 5
    assert parse_flac_header(None) == (None,) * 5
    assert parse_flac_header(flac_bytes(44100, 2, 16, 10)[:10]) == (None,) * 5
    import random

    rnd = random.Random(6)
    base = flac_bytes(44100, 2, 16, 12345)
    for _ in range(80):
        b = bytearray(base)
        b[rnd.randrange(len(b))] = rnd.randrange(256)
        out = parse_flac_header(bytes(b))
        assert isinstance(out, tuple) and len(out) == 5


def test_gif_animation_meta_walk():
    """r8: GIF block walk — frame count, summed graphic-control delays,
    and the NETSCAPE loop count recovered from real block structure
    (sub-block chains, color-table sizing); static GIFs report 0 frames;
    malformed input degrades."""
    import random

    from dynamic_spark_spark.llmops.multimodal import (
        gif_animation_bytes,
        gif_bytes,
        parse_gif_meta,
    )

    for w, h, n, d, loop in ((1, 1, 1, 0, 0), (64, 48, 12, 8, 3), (320, 200, 3, 100, 0)):
        assert parse_gif_meta(gif_animation_bytes(w, h, n, delay_cs=d, loop=loop)) == (
            w, h, n, n * d * 10, loop,
        )
    assert parse_gif_meta(gif_bytes(10, 20)) == (10, 20, 0, 0, None)
    assert parse_gif_meta(b"junk") == (None,) * 5
    assert parse_gif_meta(None) == (None,) * 5
    assert parse_gif_meta(gif_animation_bytes(8, 8, 3)[:20]) == (None,) * 5
    rnd = random.Random(1)
    base = gif_animation_bytes(16, 16, 4, 12, 2)
    for _ in range(150):
        b = bytearray(base)
        b[rnd.randrange(len(b))] = rnd.randrange(256)
        out = parse_gif_meta(bytes(b))
        assert isinstance(out, tuple) and len(out) == 5


def test_webm_ebml_header_walk():
    """r8: EBML variable-length walk — Segment -> Info (timestamp scale +
    float duration) and Tracks -> Video pixel dims recovered from real
    RFC 8794 framing; truncation and byte flips degrade, never raise or
    loop (recursion depth and per-iteration consumption are bounded)."""
    import random

    from dynamic_spark_spark.llmops.multimodal import parse_webm_header, webm_bytes

    for w, h, d in ((1, 1, 0), (640, 360, 120000), (1920, 1080, 3600000)):
        assert parse_webm_header(webm_bytes(w, h, d)) == (d, w, h)
    assert parse_webm_header(b"junk") == (None,) * 3
    assert parse_webm_header(None) == (None,) * 3
    assert parse_webm_header(webm_bytes(64, 48, 1000)[:15]) == (None,) * 3
    rnd = random.Random(3)
    base = webm_bytes(320, 240, 60000)
    for _ in range(200):
        b = bytearray(base)
        b[rnd.randrange(len(b))] = rnd.randrange(256)
        out = parse_webm_header(bytes(b))
        assert isinstance(out, tuple) and len(out) == 3
    # r8 advice: the all-ones "unknown size" vint is only legal on master
    # elements (RFC 8794 §6.2). A LEAF carrying it (PixelWidth here) must
    # degrade to nulls, not decode the remaining payload as one huge int.
    import struct as _struct

    from dynamic_spark_spark.llmops.multimodal import _ebml_element

    ebml_hdr = _ebml_element(b"\x1a\x45\xdf\xa3", _ebml_element(b"\x42\x82", b"webm"))
    info = _ebml_element(
        b"\x15\x49\xa9\x66",
        _ebml_element(b"\x2a\xd7\xb1", (1_000_000).to_bytes(3, "big"))
        + _ebml_element(b"\x44\x89", _struct.pack(">d", 1000.0)),
    )
    # PixelWidth with the 1-byte all-ones size vint (0xFF -> unknown)
    video = _ebml_element(
        b"\xe0",
        b"\xb0\xff" + (123456).to_bytes(3, "big") + _ebml_element(b"\xba", (48).to_bytes(2, "big")),
    )
    tracks = _ebml_element(b"\x16\x54\xae\x6b", _ebml_element(b"\xae", video))
    crafted = ebml_hdr + _ebml_element(b"\x18\x53\x80\x67", info + tracks)
    assert parse_webm_header(crafted) == (None, None, None)
    # unknown-size on the MASTER Segment stays accepted (streamed files)
    video_ok = _ebml_element(
        b"\xe0",
        _ebml_element(b"\xb0", (320).to_bytes(2, "big"))
        + _ebml_element(b"\xba", (240).to_bytes(2, "big")),
    )
    tracks_ok = _ebml_element(b"\x16\x54\xae\x6b", _ebml_element(b"\xae", video_ok))
    streamed = ebml_hdr + b"\x18\x53\x80\x67\xff" + info + tracks_ok
    assert parse_webm_header(streamed) == (1000, 320, 240)


def test_webp_header_parse_all_forms():
    """r8: the three public WebP header forms (VP8X canvas dims, VP8L
    packed 14-bit, lossy VP8 keyframe tag) parse to exact dims; WAV —
    also RIFF — does not misroute; unknown WebP chunks degrade to null
    dims with the mime still detected."""
    from dynamic_spark_spark.llmops.multimodal import (
        parse_image_header,
        wav_bytes,
        webp_bytes,
    )

    for form in ("VP8X", "VP8L", "VP8 "):
        for w, h in ((1, 1), (640, 480), (16383, 2)):
            assert parse_image_header(webp_bytes(w, h, form)) == ("image/webp", w, h)
    assert parse_image_header(wav_bytes(8000, 1, 16, 10))[0] == "application/octet-stream"
    junk = webp_bytes(4, 4, "VP8X")[:12] + b"XXXX" + bytes(8)
    assert parse_image_header(junk) == ("image/webp", None, None)


def test_exif_orientation_extraction():
    """r8: EXIF orientation from a real APP1/TIFF IFD walk, BOTH byte
    orders, all 8 values, spliced into a real JPEG stream (whose dims
    still parse with the APP1 present); absent tag, out-of-range value,
    junk, and byte flips degrade to None, never raise."""
    import random

    from dynamic_spark_spark.llmops.multimodal import (
        exif_app1_bytes,
        jpeg_bytes,
        parse_exif_orientation,
        parse_image_header,
    )

    base = jpeg_bytes(20, 10)
    for be in (False, True):
        for o in range(1, 9):
            stream = base[:2] + exif_app1_bytes(o, big_endian=be) + base[2:]
            assert parse_exif_orientation(stream) == o
            assert parse_image_header(stream) == ("image/jpeg", 20, 10)
    assert parse_exif_orientation(base) is None
    assert parse_exif_orientation(b"junk") is None
    assert parse_exif_orientation(None) is None
    assert parse_exif_orientation(base[:2] + exif_app1_bytes(9) + base[2:]) is None
    rnd = random.Random(5)
    s = base[:2] + exif_app1_bytes(6) + base[2:]
    for _ in range(150):
        b = bytearray(s)
        b[rnd.randrange(len(b))] = rnd.randrange(256)
        out = parse_exif_orientation(bytes(b))
        assert out is None or 1 <= out <= 8


def test_mp4_sample_table_demux():
    """r8: REAL ISO-BMFF sample-table demux — stts/stss/stsc/stsz/stco
    reconstruct every sample's (offset, size, keyframe, dts) exactly as
    written (including the short final chunk and within-chunk offset
    accumulation), keyframe slices return the actual mdat bytes, lying
    tables and truncation degrade to None, byte flips never raise."""
    import random

    from dynamic_spark_spark.llmops.multimodal import (
        mp4_keyframe_slices,
        mp4_media_bytes,
        parse_mp4_samples,
    )

    for n, ke, spc in ((1, 1, 3), (10, 5, 3), (23, 4, 3), (17, 3, 5), (9, 2, 1)):
        p = mp4_media_bytes(n, keyframe_every=ke, seed=7, samples_per_chunk=spc)
        samples = parse_mp4_samples(p)
        assert samples is not None and len(samples) == n
        for i, (off, size, key, dts) in enumerate(samples):
            assert size == 16 + (7 * 7 + i * 3) % 48
            assert p[off : off + size] == bytes(
                (7 * 31 + i * 7 + j * 3) % 256 for j in range(size)
            )
            assert key == (i % ke == 0) and dts == i * 25
        assert len(mp4_keyframe_slices(p)) == len(range(0, n, ke))
    assert parse_mp4_samples(b"junk") is None
    assert parse_mp4_samples(None) is None
    p = mp4_media_bytes(12, seed=1)
    assert parse_mp4_samples(p[: len(p) // 2]) is None  # lying offsets refused
    rnd = random.Random(8)
    for _ in range(150):
        b = bytearray(p)
        b[rnd.randrange(len(b))] = rnd.randrange(256)
        out = parse_mp4_samples(bytes(b))
        assert out is None or isinstance(out, list)


def test_demux_keyframes_spark_stage(spark):
    """The demux runs as a real Arrow-batched Spark stage: synthesized
    containers in, per-row keyframe counts/bytes/digests out; a corrupt
    payload row emits nulls instead of killing the stage; the digest is
    deterministic across runs."""
    import hashlib

    from dynamic_spark_spark.llmops.multimodal import (
        demux_keyframes,
        mp4_keyframe_slices,
        mp4_media_bytes,
    )

    rows = [
        (0, bytearray(mp4_media_bytes(10, keyframe_every=5, seed=0))),
        (1, bytearray(mp4_media_bytes(23, keyframe_every=4, seed=1))),
        (2, bytearray(b"not an mp4")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in demux_keyframes(df).collect()}
    assert out[2]["n_samples"] is None and out[2]["kf_digest"] is None
    for doc_id, payload in rows[:2]:
        keys = mp4_keyframe_slices(bytes(payload))
        assert out[doc_id]["n_keyframes"] == len(keys)
        assert out[doc_id]["keyframe_bytes"] == sum(len(k) for k in keys)
        expect = int.from_bytes(
            hashlib.sha256(b"".join(keys)).digest()[:8], "big", signed=True
        )
        assert out[doc_id]["kf_digest"] == expect
    out2 = {r["doc_id"]: r for r in demux_keyframes(df).collect()}
    assert {k: v["kf_digest"] for k, v in out.items()} == {
        k: v["kf_digest"] for k, v in out2.items()
    }


def test_tiff_header_parse_both_orders():
    """r8: TIFF 6.0 dims from a real IFD walk in either byte order
    (SHORT and LONG tag types); truncated IFDs report the mime with null
    dims; byte flips never raise."""
    import random
    import struct

    from dynamic_spark_spark.llmops.multimodal import parse_image_header

    def tiff(w, h, big_endian, long_type):
        e = ">" if big_endian else "<"
        head = (b"MM\x00*" if big_endian else b"II*\x00") + struct.pack(e + "I", 8)
        typ, fmt = (4, "I") if long_type else (3, "H")
        entries = b""
        for tag, val in ((0x0100, w), (0x0101, h)):
            entries += struct.pack(e + "HHI", tag, typ, 1)
            entries += struct.pack(e + fmt, val).ljust(4, b"\x00")
        return head + struct.pack(e + "H", 2) + entries + struct.pack(e + "I", 0)

    for be in (False, True):
        for long_type in (False, True):
            s = tiff(6000, 4000, be, long_type)
            assert parse_image_header(s) == ("image/tiff", 6000, 4000), (be, long_type)
    assert parse_image_header(b"II*\x00\x08\x00\x00\x00") == ("image/tiff", None, None)
    rnd = random.Random(2)
    base = tiff(640, 480, False, False)
    for _ in range(150):
        b = bytearray(base)
        b[rnd.randrange(len(b))] = rnd.randrange(256)
        out = parse_image_header(bytes(b))
        assert isinstance(out, tuple) and len(out) == 3


def test_mp4_multitrak_tables_not_mixed():
    """r8 review fix: sample tables are per-trak state. A file whose FIRST
    trak has no stss (= all its samples are sync, per spec) followed by a
    second trak carrying stss=[1] must demux the first complete trak with
    ALL samples as keyframes — the pre-fix global table collection mixed
    the second trak's stss into the first trak's layout and dropped real
    keyframes."""
    import struct

    from dynamic_spark_spark.llmops.multimodal import (
        mp4_media_bytes,
        parse_mp4_samples,
    )

    base = mp4_media_bytes(4, keyframe_every=1, seed=0)  # all-sync via stss
    # rebuild: strip trak1's stss, then append a second trak whose stss
    # claims only sample 1 is sync
    def box(tag, *parts):
        body = b"".join(parts)
        return struct.pack(">I", 8 + len(body)) + tag + body

    i = base.index(b"stss") - 4
    size = struct.unpack(">I", base[i : i + 4])[0]
    no_stss = bytearray(base[:i] + base[i + size :])
    # fix enclosing box sizes (moov, trak, mdia, minf, stbl shrink by size)
    for tag in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        j = bytes(no_stss).index(tag) - 4
        old = struct.unpack(">I", no_stss[j : j + 4])[0]
        no_stss[j : j + 4] = struct.pack(">I", old - size)
    evil_stbl = box(
        b"stbl",
        box(b"stts", struct.pack(">IIII", 0, 1, 2, 10)),
        box(b"stss", struct.pack(">III", 0, 1, 1)),  # only sample 1 sync
        box(b"stsc", struct.pack(">II", 0, 1), struct.pack(">III", 1, 2, 1)),
        box(b"stsz", struct.pack(">III", 0, 0, 2), struct.pack(">II", 4, 4)),
        box(b"stco", struct.pack(">III", 0, 1, 0)),
    )
    evil_trak = box(b"trak", box(b"mdia", box(b"minf", evil_stbl)))
    moov_at = bytes(no_stss).index(b"moov") - 4
    moov_size = struct.unpack(">I", no_stss[moov_at : moov_at + 4])[0]
    with_evil = (
        bytes(no_stss[: moov_at + 4])  # keep size slot, patch below
        + bytes(no_stss[moov_at + 4 : moov_at + moov_size])
        + evil_trak
        + bytes(no_stss[moov_at + moov_size :])
    )
    patched = bytearray(with_evil)
    patched[moov_at : moov_at + 4] = struct.pack(">I", moov_size + len(evil_trak))
    samples = parse_mp4_samples(bytes(patched))
    assert samples is not None and len(samples) == 4
    assert all(key for _o, _s, key, _d in samples)  # no stss = ALL sync


def test_exif_survives_marker_fill_bytes():
    """r8 review fix: T.81 B.1.1.2 allows any number of 0xFF fill bytes
    before a marker — orientation must still be found through them."""
    from dynamic_spark_spark.llmops.multimodal import (
        exif_app1_bytes,
        jpeg_bytes,
        parse_exif_orientation,
    )

    base = jpeg_bytes(20, 10)
    padded = base[:2] + b"\xff\xff\xff" + exif_app1_bytes(6) + base[2:]
    assert parse_exif_orientation(padded) == 6


def test_media_parser_review_regressions():
    """r8 tail-review fixes, pinned: (a) a truncated trailing 0xFF fill
    run must return None from parse_exif_orientation, not raise (the
    fill-byte fix had broken the outer bound); (b) parse_image_header's
    JPEG walk tolerates fill bytes before markers too (dims recovered
    through padding); (c) a TIFF tag with count != 1 stores an OFFSET in
    its value slot, which must not be read as a dimension."""
    import struct

    from dynamic_spark_spark.llmops.multimodal import (
        exif_app1_bytes,
        jpeg_bytes,
        parse_exif_orientation,
        parse_image_header,
    )

    # (a) trailing fill run: None, never struct.error
    assert parse_exif_orientation(b"\xff\xd8\xff\xff\xff\xff") is None
    # (b) padded stream still yields dims AND orientation
    base = jpeg_bytes(20, 10)
    padded = base[:2] + b"\xff\xff\xff" + exif_app1_bytes(5) + base[2:]
    assert parse_image_header(padded) == ("image/jpeg", 20, 10)
    assert parse_exif_orientation(padded) == 5
    # (c) count=2 ImageWidth entry: the value slot is an offset, skip it
    e = "<"
    head = b"II*\x00" + struct.pack(e + "I", 8)
    entries = struct.pack(e + "HHI", 0x0100, 3, 2) + struct.pack(e + "I", 26)
    entries += struct.pack(e + "HHI", 0x0101, 3, 1) + struct.pack(e + "H", 480).ljust(4, b"\x00")
    tiff = head + struct.pack(e + "H", 2) + entries + struct.pack(e + "I", 0)
    assert parse_image_header(tiff) == ("image/tiff", None, 480)


def test_html_extraction_adversarial(spark):
    """r9: the HTML extraction pipeline on texts crafted to break naive
    strippers — markup-shaped literals, entity chains, every whitespace the
    collapse class covers. Script bodies containing "<p>" must not leak,
    and the original text must survive the escape->embed->extract round
    trip verbatim (collapsed) for every case."""
    from dynamic_spark_spark.llmops.html import with_extraction

    texts = [
        "plain words only",
        'markup in text: <p>bold</p> & <a href="x">link</a>',
        "entity chains: &amp; &lt;p&gt; &quot;q&quot; &amp;amp;",
        "whitespace\t\tmix\n\nacross\r\nlines",
        "closing tag in text </script> should stay text",
        'quotes "double" and 5 < 6 & 7 > 2',
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in with_extraction(df).collect()}
    assert len(rows) == len(texts)
    for i in range(len(texts)):
        r = rows[i]
        assert r.body_recovered, f"text {i} did not survive the round trip"
        # nav contributes 2 links; footer adds doc_id % 3 == 1 -> 1, == 2 -> 2
        assert r.n_links == 2 + {0: 0, 1: 1, 2: 2}[i % 3]
        assert 0.0 <= r.link_density < 1.0
        assert r.link_chars >= len("Home") + len("About")
    # the script literal 'track("<p>")' must NOT appear in any clean text:
    # clean_len of a short doc stays far below the raw page length
    assert all(r.clean_len < 400 for r in rows.values())


def test_warc_record_triples(spark, sf_dir):
    """r9: WARC ingest — every document yields exactly a request/response/
    metadata triple sharing one Target-URI, and the declared
    Content-Length matches the actual payload span on every record."""
    from dynamic_spark_spark.llmops.html import scan_warc_records

    df = scan_warc_records(spark, sf_dir).cache()
    n_docs = df.select("doc_id").distinct().count()
    assert df.count() == 3 * n_docs
    types = {r.warc_type for r in df.select("warc_type").distinct().collect()}
    assert types == {"request", "response", "metadata"}
    assert df.filter("NOT length_ok").count() == 0
    assert df.filter("target_uri NOT LIKE 'https://site.example/d/%'").count() == 0
    # response payload carries the HTTP envelope + the document text
    resp = df.filter("warc_type = 'response'")
    assert resp.filter("payload_len < 19").count() == 0  # len('HTTP/1.1 200 OK\r\n\r\n')
    df.unpersist()


def test_chat_template_mask_geometry(spark, sf_dir):
    """r9: the loss-mask boundary must be exact — rendered string length
    equals prompt + completion spans, mask_start points one past the
    assistant sentinel, and the turn table reassembles the original text
    (user_turn || assistant_turn == text) for every document."""
    from dynamic_spark_spark.llmops.instruct import (
        chat_template_flatten,
        chat_turns_explode,
    )

    flat = chat_template_flatten(spark, sf_dir)
    bad = flat.filter(
        "length(rendered) != prompt_chars + completion_chars"
        " OR mask_start != prompt_chars + 1"
        " OR substring(rendered, CAST(mask_start - length('<|assistant|>') AS INT),"
        "              length('<|assistant|>')) != '<|assistant|>'"
        " OR completion_ratio < 0 OR completion_ratio > 1"
    ).count()
    assert bad == 0
    turns = chat_turns_explode(spark, sf_dir)
    from pyspark.sql import functions as F

    reassembled = (
        turns.filter("role != 'system'")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("turn_idx", "content"))).getField("content")
            ).alias("joined")
        )
    )
    from dynamic_spark_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mismatches = (
        reassembled.join(docs, "doc_id").filter("joined != text").count()
    )
    assert mismatches == 0


def test_warc_walk_length_driven_semantics():
    """r9: the production WARC walker must frame by Content-Length — a
    payload that EMBEDS the version line stays one record (the case
    delimiter split mis-frames), a lying length or missing delimiter
    stops at the last good record, and junk degrades to no records."""
    from dynamic_spark_spark.llmops.html import warc_walk

    def rec(typ, body, declared=None):
        declared = len(body) if declared is None else declared
        return (
            f"WARC/1.0\r\nWARC-Type: {typ}"
            f"\r\nWARC-Target-URI: https://site.example/x"
            f"\r\nContent-Length: {declared}\r\n\r\n{body}\r\n\r\n"
        )

    # payload embedding the version line: ONE record, length_ok, intact
    tricky = "before WARC/1.0\r\n embedded after"
    out = warc_walk(rec("response", tricky) + rec("metadata", "m: 1"))
    assert [(t, ok) for t, _u, _d, _p, ok in out] == [
        ("response", True),
        ("metadata", True),
    ]
    assert out[0][2] == out[0][3] == len(tricky)
    # lying Content-Length (points past the buffer): refuse the record
    assert warc_walk(rec("response", "abc", declared=10_000)) == []
    # missing record delimiter after the declared span: stop cleanly
    good_then_cut = rec("request", "GET /") + "WARC/1.0\r\nContent-Length: 3\r\n\r\nabcXX"
    out = warc_walk(good_then_cut)
    assert len(out) == 1 and out[0][0] == "request"
    # junk / empty / None degrade
    assert warc_walk("not a warc") == []
    assert warc_walk("") == []
    assert warc_walk(None) == []


def test_cc_contraction_matches_union_find_on_pathological_graphs(spark):
    """The contraction CC loop must label every node with its component's
    MINIMUM id on topologies the LSH fixtures never produce: a long chain
    (deep diameter — the propagation-killer), a cycle, a star rooted at a
    HIGH id, and singles-free disjoint pairs. Reference: plain union-find."""
    from dynamic_spark_spark.llmops.dedup import _cc_labels_from_pairs

    cases = {
        # 60-node chain: diameter 59, needs genuine contraction (log rounds)
        "chain": [(i, i + 1) for i in range(100, 160)],
        # cycle of 20
        "cycle": [(200 + i, 200 + (i + 1) % 20) for i in range(20)],
        # star whose hub has the HIGHEST id (min must still win)
        "star": [(399, i) for i in range(300, 320)],
        # disjoint pairs + a shared-endpoint vee
        "pairs": [(1, 2), (3, 4), (5, 6), (6, 7)],
    }
    for name, edge_list in cases.items():
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            parent[find(a)] = find(b)
        want = {n: min(m for m in parent if find(m) == find(n)) for n in parent}

        pairs = spark.createDataFrame(edge_list, "doc_a long, doc_b long")
        got = {
            r["node"]: r["comp"] for r in _cc_labels_from_pairs(pairs).collect()
        }
        assert got == want, (name, sorted(got.items())[:5], sorted(want.items())[:5])


def test_lz4_keys_register_their_dirs_for_removal(spark, sf_dir, monkeypatch):
    """``scan_text_lz4`` and ``sink_text_lz4`` write a fresh directory on
    every call; each one must be registered for removal at exit, or
    repeated runs fill the temp directory."""
    import atexit
    import shutil
    import tempfile

    made, registered = [], []
    real_mkdtemp, real_register = tempfile.mkdtemp, atexit.register

    def mkdtemp(*args, **kwargs):
        path = real_mkdtemp(*args, **kwargs)
        made.append(path)
        return path

    def register(fn, *args, **kwargs):
        if fn is shutil.rmtree:
            registered.append(args[0])
        return real_register(fn, *args, **kwargs)

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    monkeypatch.setattr(atexit, "register", register)
    q = load_all_queries()
    for key in ("scan_text_lz4", "sink_text_lz4"):
        made.clear()
        q[key](spark, sf_dir)
        lz4_dirs = [p for p in made if "lz4" in os.path.basename(p)]
        assert len(lz4_dirs) == 1, (key, made)
        assert lz4_dirs[0] in registered, key
