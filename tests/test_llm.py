"""Unit tests for the LLM data-pipeline operators (dedup, similarity,
text analysis, multimodal plumbing) on tiny hand-built frames.

The sf0.01 oracle-parity checks cover cross-engine value equality;
these tests pin the *semantics* on known inputs: shingle windows,
Jaccard values, SimHash pigeonhole exactness, cosine math, canonical-id
assignment, and the mapInPandas feature schema.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.llm import dedup as dd
from hdfs_with_pyspark_spark.llm import multimodal as mm
from hdfs_with_pyspark_spark.llm import similarity as sim
from hdfs_with_pyspark_spark.llm.textops import (
    MERSENNE31,
    fold_hash,
    hash31,
    hash64,
    shingles,
    tokens,
)


# ---------------------------------------------------------------- textops

def test_tokens_drop_empties(spark):
    df = spark.createDataFrame([("a  b   c",)], "text string")
    out = df.select(tokens(F.col("text")).alias("t")).first()["t"]
    assert out == ["a", "b", "c"]


def test_hash64_matches_md5(spark):
    df = spark.createDataFrame([("abc",)], "s string")
    h = df.select(hash64(F.col("s")).alias("h")).first()["h"]
    assert h == int(hashlib.md5(b"abc").hexdigest()[:15], 16)


def test_shingles_window_and_short_doc(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    rows = df.select(shingles(tokens(F.col("text")), 3).alias("s")).collect()
    assert rows[0]["s"] == ["a b c", "b c d"]
    assert rows[1]["s"] == []


def test_fold_hash_is_order_sensitive(spark):
    df = spark.createDataFrame([("a b",), ("b a",)], "text string")
    fps = [r["fp"] for r in df.select(
        fold_hash(F.transform(tokens(F.col("text")), hash31)).alias("fp")).collect()]
    assert fps[0] != fps[1]
    assert all(0 <= fp < MERSENNE31 for fp in fps)


# ------------------------------------------------------------------ dedup

@pytest.fixture(scope="module")
def doc_frame(spark):
    # 0 and 1 identical; 2 near-dup of 0 (one token changed); 3 unrelated.
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "sleepy")
    return spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, "completely different text here")],
        "doc_id long, text string")


def test_exact_dedup_canonical_ids(spark, doc_frame, monkeypatch, tmp_path):
    monkeypatch.setattr(dd, "read_table", lambda s, d, n: doc_frame)
    out = {r["doc_id"]: (r["canonical_id"], r["is_dup"])
           for r in dd.dedup_exact(spark, "unused").collect()}
    assert out[0] == (0, False)
    assert out[1] == (0, True)
    assert out[2] == (2, False)
    assert out[3] == (3, False)


def test_ngram_jaccard_finds_planted_pair(spark, doc_frame, monkeypatch):
    monkeypatch.setattr(dd, "read_table", lambda s, d, n: doc_frame)
    rows = dd.dedup_ngram_jaccard(spark, "unused").collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    assert pairs[(0, 1)] == 1.0  # identical docs
    # the near-dup pair (0,2) shares most but not all shingles
    assert all(a < b for a, b in pairs)


def test_minhash_candidates_subset_of_exact(spark, doc_frame, monkeypatch):
    monkeypatch.setattr(dd, "read_table", lambda s, d, n: doc_frame)
    exact = {(r["doc_a"], r["doc_b"])
             for r in dd.dedup_ngram_jaccard(spark, "unused").collect()}
    lsh = {(r["doc_a"], r["doc_b"])
           for r in dd.dedup_minhash_lsh(spark, "unused").collect()}
    # LSH output is verified with the same exact Jaccard, so it can only
    # be a subset of the exact pair set (recall <= 1, precision = 1).
    assert lsh <= exact
    assert (0, 1) in lsh  # identical docs always collide in every band


def test_simhash_pigeonhole_equals_bruteforce(spark, doc_frame, monkeypatch):
    monkeypatch.setattr(dd, "read_table", lambda s, d, n: doc_frame)
    sigs = {r["doc_id"]: r["simhash"]
            for r in dd.text_simhash(spark, "unused").collect()}
    brute = {(a, b)
             for a in sigs for b in sigs if a < b
             and bin(sigs[a] ^ sigs[b]).count("1") <= dd.SIMHASH_MAX_HAMMING}
    chunked = {(r["doc_a"], r["doc_b"])
               for r in dd.dedup_simhash(spark, "unused").collect()}
    assert chunked == brute
    assert sigs[0] == sigs[1]  # identical text -> identical signature


# ------------------------------------------------------------- similarity

def test_cosine_expr_matches_math(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 1.0])],
        "a array<double>, b array<double>")
    c = df.select(sim.cosine(F.col("a"), F.col("b")).alias("c")).first()["c"]
    assert math.isclose(c, 1 / math.sqrt(2), rel_tol=1e-12)


def test_topk_per_key_breaks_planted_tie_on_tiebreak(spark):
    from hdfs_with_pyspark_spark.operators.windows import topk_per_key
    # Key 1: four rows tie at 0.5 across the k=3 cut; key 2 has fewer
    # rows than k.
    df = spark.createDataFrame(
        [(1, 10, 0.9), (1, 14, 0.5), (1, 12, 0.5), (1, 13, 0.5),
         (1, 11, 0.5), (2, 20, 0.1)],
        "key long, nid long, score double")
    out = topk_per_key(df, ["key"],
                       [F.col("score").desc(), F.col("nid").asc()], 3)
    assert sorted((r["key"], r["rank"], r["nid"]) for r in out.collect()) \
        == [(1, 1, 10), (1, 2, 11), (1, 3, 12), (2, 1, 20)]


def test_bruteforce_topk_ranks_correctly(spark, monkeypatch):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<float>")
    monkeypatch.setattr(sim, "read_table", lambda s, d, n: vecs)
    monkeypatch.setattr(sim, "N_QUERIES", 1)  # only vec 0 queries
    out = sim.ann_topk_bruteforce(spark, "unused").collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order[:2] == [1, 2]  # closest first; anti-parallel last
    assert order[-1] == 3


def test_lsh_results_subset_of_bruteforce_pool(spark, monkeypatch):
    vecs = spark.createDataFrame(
        [(i, [float(i % 3 - 1), float(i % 5 - 2), 1.0, -1.0]) for i in range(20)],
        "vec_id long, embedding array<float>")
    monkeypatch.setattr(sim, "read_table", lambda s, d, n: vecs)
    lsh = sim.ann_topk_lsh(spark, "unused").collect()
    assert all(r["rank"] <= sim.TOP_K for r in lsh)
    # same-bucket constraint: every returned neighbor shares the query's
    # sign signature on the first LSH_SIGN_DIMS dims
    emb = {r["vec_id"]: r["embedding"] for r in vecs.collect()}

    def bucket(v):
        return tuple(x >= 0 for x in v[:sim.LSH_SIGN_DIMS])
    for r in lsh:
        assert bucket(emb[r["query_id"]]) == bucket(emb[r["neighbor_id"]])


def test_multiprobe_expands_single_probe_within_hamming_1(spark):
    # Every single-probe hit survives multiprobe's candidate expansion
    # (probe set includes the query's own bucket), every extra neighbor
    # sits exactly one sign-bit away, and cos values match bruteforce's
    # for shared (query, neighbor) pairs.
    sf = "/root/testdata/sf0.001"
    mp = {(r["query_id"], r["neighbor_id"]): r["cos_sim"]
          for r in sim.ann_topk_lsh_multiprobe(spark, sf).collect()}
    assert len(mp) > 0
    emb = {r["vec_id"]: r["v"] for r in sim._vectors(spark, sf).collect()}

    def code(v):
        return sum((v[i] >= 0) << i for i in range(sim.LSH_MP_BITS))
    for (q, n) in mp:
        ham = bin(code(emb[q]) ^ code(emb[n])).count("1")
        assert ham <= sim.LSH_MP_HAMMING
    bf = {(r["query_id"], r["neighbor_id"]): r["cos_sim"]
          for r in sim.ann_topk_bruteforce(spark, sf).collect()}
    shared = set(mp) & set(bf)
    assert all(mp[k] == bf[k] for k in shared)


# ------------------------------------------------------------- multimodal

def test_as_blobs_schema_and_binary_payload(spark):
    docs = spark.createDataFrame([(0, "hello world"), (5, "xy")],
                                 "doc_id long, text string")
    blobs = mm.as_blobs(docs)
    assert [f.name for f in blobs.schema.fields] == ["doc_id", "modality", "blob", "meta"]
    rows = {r["doc_id"]: r for r in blobs.collect()}
    assert bytes(rows[0]["blob"]) == b"hello world"
    assert rows[0]["modality"] == "image" and rows[5]["modality"] == "video"
    assert rows[0]["meta"]["n_bytes"] == 11


def test_extract_features_mapinpandas(spark):
    docs = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    feats = mm.extract_features(mm.as_blobs(docs)).collect()
    assert len(feats) == 1
    f0 = feats[0]
    assert f0["n_bytes"] == 5 and f0["n_tokens"] == 3
    assert f0["modality"] == "video" and f0["frame_count"] == 1
    assert f0["content_hash"] == int(hashlib.md5(b"a b c").hexdigest()[:15], 16)


def test_decode_blob_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        mm.decode_blob(b"\x89PNG", "image")


def test_extract_features_codec_seam_swaps_decoder(spark):
    # The pluggable-codec seam: the same pipeline (as_blobs ->
    # mapInPandas featurizer) driven by an injected decoder instead of
    # the default byte featurizer. Proves the production swap-in point
    # executor-side, not just by signature. (Defined inside the test so
    # cloudpickle ships it by value — the worker can't import test
    # modules, exactly like a user's notebook-defined decoder.)
    def _fake_codec(blob: bytes, modality: str) -> dict:
        # behavior byte_decoder can never produce: tokens from decoded
        # length, frames for EVERY modality — the swap is observable
        return {"n_tokens": len(blob) * 10, "frame_count": 42}

    docs = spark.createDataFrame([(2, "a b c"), (3, "hello")],
                                 "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in mm.extract_features(mm.as_blobs(docs),
                                        decoder=_fake_codec).collect()}
    assert out[2]["n_tokens"] == 50 and out[2]["frame_count"] == 42
    assert out[3]["n_tokens"] == 50 and out[3]["frame_count"] == 42
    # byte-level fields stay decoder-independent
    assert out[3]["n_bytes"] == 5
    assert out[3]["content_hash"] == int(
        hashlib.md5(b"hello").hexdigest()[:15], 16)
    # and the default path is untouched by the seam's existence
    dflt = {r["doc_id"]: r
            for r in mm.extract_features(mm.as_blobs(docs)).collect()}
    assert dflt[2]["n_tokens"] == 3 and dflt[3]["frame_count"] is None


def test_pillow_decoder_fallback_without_pil(spark):
    """pillow_image_decoder degrades to byte features per row when PIL
    is absent OR the payload is not a decodable image — identical
    output to the default decoder on this corpus (text-byte blobs)."""
    docs = spark.createDataFrame([(3, "a b c"), (4, "hello world")],
                                 "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in mm.extract_features(
               mm.as_blobs(docs), decoder=mm.pillow_image_decoder).collect()}
    dflt = {r["doc_id"]: r
            for r in mm.extract_features(mm.as_blobs(docs)).collect()}
    for k in got:
        assert got[k]["n_tokens"] == dflt[k]["n_tokens"]
        assert got[k]["frame_count"] == dflt[k]["frame_count"]


def _make_bmp(w: int, h: int) -> bytes:
    """Minimal valid 24bpp bottom-up BMP (BITMAPINFOHEADER), built with
    stdlib struct only — the image twin of the audio test's wave-written
    fixture."""
    import struct
    row = (w * 3 + 3) // 4 * 4
    pix = b"\x00" * (row * h)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                      2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40)
    return hdr + dib + pix


def test_image_decoder_real_bmp_always_runs(spark):
    """A real BMP decodes and n_tokens is the 16x16 patch count of the
    true pixel dimensions. ALWAYS runs (VERDICT r7 item 3): the
    decoder's stdlib-struct BMP branch parses the header with zero
    dependencies, so the real-decode path executes even in this
    codec-less container; when PIL IS importable the same assertions
    cover the Pillow branch instead (Pillow reads BMP natively)."""
    bmp = _make_bmp(33, 16)
    out = mm.pillow_image_decoder(bmp, "image")
    assert out == {"n_tokens": 3 * 1, "frame_count": None}   # ceil(33/16)*1
    # top-down row order (negative height) must parse identically
    import struct
    neg = bytearray(bmp)
    neg[14 + 8:14 + 12] = struct.pack("<i", -16)
    assert mm.pillow_image_decoder(bytes(neg), "image")["n_tokens"] == 3
    # driven through the executor seam too
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [3], "modality": ["image"], "blob": [bmp]})
    rows = list(mm._featurize_batches(mm.pillow_image_decoder)(iter([pdf])))
    assert rows[0]["n_tokens"].iloc[0] == 3
    # ADVICE r8: a plausible HEADER with the declared pixel data missing
    # must NOT real-decode — PIL rejects a truncated BMP, so the stdlib
    # gate must too, else the same blob is environment-divergent. Both
    # a truncated file and a header-only file route to byte features.
    truncated = bmp[:60]
    assert mm._bmp_dimensions(truncated) is None
    assert (mm.pillow_image_decoder(truncated, "image")
            == mm.byte_decoder(truncated, "image"))


def _make_png(w: int, h: int, *, color: int = 2, depth: int = 8,
              interlace: int = 0, truncate_idat: bool = False) -> bytes:
    """Minimal valid non-interlaced PNG, built with stdlib struct+zlib
    only (VERDICT r9 item 4) — the PNG sibling of _make_bmp."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    stride = (w * channels * depth + 7) // 8
    raw = (b"\x00" + b"\x10" * stride) * h      # filter byte 0 per row
    if truncate_idat:
        raw = raw[:-1]
    idat = zlib.compress(raw)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))


def test_image_decoder_real_png_always_runs(spark):
    """A real PNG decodes with zero dependencies (VERDICT r9 item 4):
    the stdlib branch walks the chunk stream to IEND and zlib-inflates
    the IDAT pixel data, checking the exact scanline byte count — so
    the PNG third of the image seam EXECUTES in this codec-less
    container (when PIL is importable the same assertions cover the
    Pillow branch instead)."""
    png = _make_png(33, 16)
    out = mm.pillow_image_decoder(png, "image")
    assert out == {"n_tokens": 3 * 1, "frame_count": None}   # ceil(33/16)*1
    # grayscale and 16-bit-depth variants parse too
    assert mm._png_dimensions(_make_png(17, 5, color=0)) == (17, 5)
    assert mm._png_dimensions(_make_png(4, 4, depth=16)) == (4, 4)
    # driven through the executor seam
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [9], "modality": ["image"], "blob": [png]})
    rows = list(mm._featurize_batches(mm.pillow_image_decoder)(iter([pdf])))
    assert rows[0]["n_tokens"].iloc[0] == 3
    # completeness discipline (the ADVICE-r8 BMP rule applied to PNG):
    # a plausible header whose pixel data is missing or short must NOT
    # real-decode — PIL rejects these, so the stdlib gate must too.
    assert mm._png_dimensions(png[:40]) is None            # no IEND
    assert mm._png_dimensions(
        _make_png(33, 16, truncate_idat=True)) is None     # short raster
    assert mm._png_dimensions(
        _make_png(33, 16, interlace=1)) is None            # Adam7 rejected
    trunc = png[:40]
    assert (mm.pillow_image_decoder(trunc, "image")
            == mm.byte_decoder(trunc, "image"))


def test_pillow_decoder_real_png_when_available(spark):
    """When Pillow IS importable, a Pillow-written PNG decodes through
    the PIL branch; skipped (not silently passed) where the container
    has no codec — the stdlib PNG test above keeps the seam exercised
    regardless."""
    PIL = pytest.importorskip("PIL.Image")
    import io
    buf = io.BytesIO()
    PIL.new("RGB", (33, 16)).save(buf, format="PNG")
    png = buf.getvalue()
    out = mm.pillow_image_decoder(png, "image")
    assert out == {"n_tokens": 3 * 1, "frame_count": None}   # ceil(33/16)*1


def test_codec_decoder_routes_through_stub(spark):
    # Selecting the production decoder in this container must fail
    # LOUDLY at execution time (NotImplementedError from decode_blob),
    # never silently fall back to byte features.
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    df = mm.extract_features(mm.as_blobs(docs), decoder=mm.codec_decoder)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        df.collect()


def test_corpus_curation_verdicts(spark, monkeypatch):
    # 0: unique long doc -> keep. 1,2: exact dups (1 survives as min id).
    # 3: near-dup of 0 (one token changed, Jaccard >= 0.8) -> near_dup.
    # 4: short -> 'short', even though it also exact-dups doc 5 (reason
    # precedence: short fires first). 5: short -> short.
    # ~46 tokens -> 44 shingles; one changed token invalidates 3 of them:
    # jaccard = 41/47 ~ 0.87 >= 0.8.
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain falls softly on the quiet green field today "
            "and the old clock above the wooden door keeps ticking slowly "
            "as evening light fades behind the tall grey hills far away")
    near = base.replace("rain", "snow")
    docs = spark.createDataFrame(
        [(0, base), (1, "some other long document body with many plain words"),
         (2, "some other long document body with many plain words"),
         (3, near), (4, "tiny doc"), (5, "tiny doc")],
        "doc_id long, text string")
    monkeypatch.setattr(dd, "read_table", lambda s, d, n: docs)
    out = {r["doc_id"]: (r["keep"], r["drop_reason"])
           for r in dd.corpus_curation(spark, "unused").collect()}
    assert out[0] == (True, None)
    assert out[1] == (True, None)
    assert out[2] == (False, "exact_dup")
    assert out[3] == (False, "near_dup")
    assert out[4] == (False, "short")
    assert out[5] == (False, "short")
    # invariant: keep <=> no drop reason
    assert all((reason is None) == keep for keep, reason in out.values())


def test_incremental_dedup_matches_batch_recompute(spark):
    # Incremental probe (new batch vs corpus band store) must find exactly
    # the cross-set candidates that a full-corpus recompute finds.
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain falls softly on the quiet green field today")
    corpus = spark.createDataFrame(
        [(0, base), (1, "an unrelated corpus document with other words")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(100, base), (101, "novel content sharing nothing at all")],
        "doc_id long, text string")
    store = dd.minhash_band_store(corpus)
    got = {(r["new_doc_id"], r["corpus_doc_id"])
           for r in dd.dedup_incremental(new, store).collect()}
    # full recompute over corpus+new, keeping only cross-set pairs
    both = corpus.unionByName(new)
    full_bands = dd.minhash_band_store(both)
    full = (full_bands.alias("a")
            .join(full_bands.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bkey") == F.col("b.bkey"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
            .distinct().collect())
    cross = {(max(r["x"], r["y"]), min(r["x"], r["y"]))
             for r in full if (r["x"] >= 100) != (r["y"] >= 100)}
    assert got == cross
    assert (100, 0) in got          # identical text collides in every band
    assert all(c != 101 for c, _ in got)  # novel doc matches nothing


def test_stratified_sample_invariant_under_partitioning(spark, monkeypatch):
    # The whole point of hash-bucket sampling: the selected set is a pure
    # function of the data, identical under any partitioning — which
    # df.sample cannot guarantee.
    from hdfs_with_pyspark_spark.llm import text as tx
    docs = spark.createDataFrame(
        [(i, f"text {i}", ["en", "de", "fr", "ja"][i % 4]) for i in range(400)],
        "doc_id long, text string, lang string")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs.repartition(3))
    a = {r["doc_id"] for r in tx.corpus_sample_stratified(spark, "x").collect()}
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs.repartition(17))
    b = {r["doc_id"] for r in tx.corpus_sample_stratified(spark, "x").collect()}
    assert a == b and len(a) > 0
    # stratification: de-rate (50%) should select more than the ja
    # default rate (10%) on equal-sized strata
    langs = {r["doc_id"]: r["lang"] for r in docs.collect()}
    n_de = sum(1 for d in a if langs[d] == "de")
    n_ja = sum(1 for d in a if langs[d] == "ja")
    assert n_de > n_ja


def test_dedup_parallelism_row_derived(spark):
    # One partition per DEDUP_ROWS_PER_PARTITION rows, floored at the
    # session's cores — the SCALING.md invariant as code.
    floor = spark.sparkContext.defaultParallelism
    assert dd.dedup_parallelism(spark, 0) == floor
    assert dd.dedup_parallelism(spark, 1) == floor
    big = 25_000_000 * 8  # 25M docs x 8 bands
    assert dd.dedup_parallelism(spark, big) == max(floor, 200)
    # ceil, not floor-div: 1M + 1 rows need 2 partitions (if above floor)
    assert (dd.dedup_parallelism(spark, dd.DEDUP_ROWS_PER_PARTITION + 1)
            == max(floor, 2))


def test_shingle_spine_pinned_partitioning_one_exchange(spark, doc_frame):
    # num_partitions pins the spine's exchange; the window's clustering
    # requirement must be satisfied by it (exactly ONE exchange in the
    # plan, same as the default path) and results must be identical.
    n = 7
    pinned = dd._shingle_hashes(doc_frame, spread_input=False,
                                num_partitions=n)
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    # Match the exchange line itself (ADVICE r10: a loose ", 7)"
    # substring could match unrelated plan text) and assert the
    # REPARTITION_BY_NUM origin — the user-pinned count AQE must not
    # coalesce — appears on that same exchange.
    import re as _re
    m = _re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, %d\), "
                   r"REPARTITION_BY_NUM" % n, plan)
    assert m, plan
    default = dd._shingle_hashes(doc_frame, spread_input=False)
    assert ({tuple(r) for r in pinned.collect()}
            == {tuple(r) for r in default.collect()})


def test_auto_spine_partitions_none_below_floor(spark, doc_frame):
    # Small corpora resolve the "auto" default to None — the plan must be
    # byte-identical to the explicit-AQE path (zero plan change for every
    # gated query, VERDICT r10 item 3's done-criterion).
    import re
    assert dd._auto_spine_partitions(doc_frame) is None
    auto_plan = (dd._shingle_hashes(doc_frame)
                 ._jdf.queryExecution().executedPlan().toString())
    none_plan = (dd._shingle_hashes(doc_frame, num_partitions=None)
                 ._jdf.queryExecution().executedPlan().toString())
    # per-construction counters (expr ids, plan ids, lambda vars)
    # differ; structure must not
    def norm(p):
        p = re.sub(r"#\d+L?", "#", p)
        p = re.sub(r"plan_id=\d+", "plan_id=", p)
        return re.sub(r"\bx_\d+\b", "x_", p)
    assert norm(auto_plan) == norm(none_plan)
    # no PINNED doc_id exchange (spread()'s round-robin REPARTITION_BY_NUM
    # is unrelated and present on both paths)
    assert not re.search(
        r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\), "
        r"REPARTITION_BY_NUM", auto_plan)


def test_auto_spine_partitions_pins_at_scale(spark, doc_frame, monkeypatch):
    # Shrink the rows-per-partition invariant so this tiny frame crosses
    # the floor: the auto default must derive the same pin an explicit
    # caller would compute, and the pinned exchange must appear.
    import re
    monkeypatch.setattr(dd, "DEDUP_ROWS_PER_PARTITION", 1)
    state.clear(spark)
    n_rows = dd._spine_token_rows(doc_frame)
    expect = dd.dedup_parallelism(spark, n_rows)
    assert expect > spark.sparkContext.defaultParallelism
    assert dd._auto_spine_partitions(doc_frame) == expect
    plan = (dd._shingle_hashes(doc_frame)
            ._jdf.queryExecution().executedPlan().toString())
    assert re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, %d\), "
                     r"REPARTITION_BY_NUM" % expect, plan), plan
    # batch-sized inputs never pay the count scan: auto resolves to None
    state.clear(spark)
    batch_plan = (dd._shingle_hashes(doc_frame, spread_input=False)
                  ._jdf.queryExecution().executedPlan().toString())
    assert "REPARTITION_BY_NUM" not in batch_plan
    assert not _spine_memos(spark)  # no count was triggered
    state.clear(spark)


def _spine_memos(spark):
    return [e for e in state.inventory(spark)
            if e["key"][0] == "spine_token_rows"]


def test_spine_token_rows_memoized_per_plan(spark, doc_frame):
    # The auto default's count runs once per (session, semantic plan):
    # a re-built frame with the same logical plan hits the cache.
    state.clear(spark)
    n1 = dd._spine_token_rows(doc_frame)
    assert len(_spine_memos(spark)) == 1
    n2 = dd._spine_token_rows(doc_frame.select("doc_id", "text")
                              .select("doc_id", "text"))
    assert len(_spine_memos(spark)) == 1
    # exact token-occurrence count: sum of whitespace-token counts
    rows = doc_frame.collect()
    expect = sum(len([t for t in r["text"].split(" ") if t]) for r in rows)
    assert n1 == expect == n2
    state.clear(spark)


def test_dedup_parallelism_capped(spark):
    # ADVICE r10: the 100 TB extreme (~1e13 token rows) must not request
    # ~10M shuffle partitions — the derived count caps and partitions
    # grow instead.
    assert dd.dedup_parallelism(spark, 10**13) == dd.DEDUP_MAX_PARTITIONS
    assert (dd.dedup_parallelism(
        spark, dd.DEDUP_MAX_PARTITIONS * dd.DEDUP_ROWS_PER_PARTITION)
        == dd.DEDUP_MAX_PARTITIONS)


# ---------------------------------------------------- hot-key cap / LSH

def test_jaccard_df_cap_noop_on_unskewed(spark, doc_frame, monkeypatch):
    # With every shingle under the cap, the capped plan must return
    # EXACTLY the uncapped results — the cap is a pure scale guard.
    monkeypatch.setattr(dd, "read_table", lambda s, d, n: doc_frame)
    shh = dd._shingle_hashes(doc_frame)
    uncapped = {(r["doc_a"], r["doc_b"], r["jaccard_raw"])
                for r in dd._jaccard_pairs(shh).collect()}
    capped = {(r["doc_a"], r["doc_b"], r["jaccard_raw"])
              for r in dd._jaccard_pairs(shh, df_cap=10_000).collect()}
    assert capped == uncapped and len(capped) > 0


def test_jaccard_df_cap_bites_on_hot_shingles(spark, doc_frame):
    # doc 0 and 1 are identical, so every shared shingle has df >= 2:
    # cap=1 drops the whole index and no pair can survive.
    shh = dd._shingle_hashes(doc_frame)
    assert dd._jaccard_pairs(shh, df_cap=1).count() == 0


def test_embedding_lsh_precision_one_and_no_cartesian(spark, monkeypatch):
    vecs = spark.createDataFrame(
        [(i, [1.0 if (i + d) % 7 else -1.0 for d in range(16)])
         for i in range(30)],
        "vec_id long, embedding array<float>")
    monkeypatch.setattr(sim, "read_table", lambda s, d, n: vecs)
    lsh = {(r["vec_a"], r["vec_b"], r["cos_sim"])
           for r in sim.dedup_embedding_lsh(spark, "unused").collect()}
    exact = {(r["vec_a"], r["vec_b"], r["cos_sim"])
             for r in sim.dedup_embedding_cosine(spark, "unused").collect()}
    # bucketed candidates + exact verify => subset of the exhaustive
    # kernel at identical cosine values (precision 1, recall <= 1)
    assert lsh <= exact and len(lsh) > 0
    # the scale claim: NO cross/nested-loop join anywhere in the plan —
    # candidates come from the (band, bucket) equi-join
    plan = sim.dedup_embedding_lsh(spark, "unused")._jdf.queryExecution() \
              .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_kmeans_trainer_deterministic_and_trained(spark):
    sf = "/root/testdata/sf0.001"
    c1 = sim.train_ivf_centroids(spark, sf, k=sim.N_CENTROIDS)
    state.clear(spark)
    c2 = sim.train_ivf_centroids(spark, sf, k=sim.N_CENTROIDS)
    assert c1 == c2                      # bit-identical across runs
    init = {int(r["vec_id"]): list(r["v"])
            for r in sim._vectors(spark, sf).where("vec_id < 8").collect()}
    assert all(cv != init[cid] for cid, cv in c1)  # Lloyd's moved every one


def test_ivf_auto_k_rule_and_default_path(spark):
    """The public build path's corpus-scaled k (VERDICT r9 item 1):
    floor 256 below ~6.4M vectors, then N // IVF_TARGET_CELL (holding
    ~target vectors per cell — the regime the 25M probe measured as
    flat query cost + restored recall), capped at the corpus size for
    degenerate tiny corpora. train_ivf_centroids(k=None) derives it."""
    assert sim.ivf_auto_k(100) == 100              # cap: tiny corpus
    assert sim.ivf_auto_k(1_000) == sim.IVF_AUTO_K_FLOOR
    assert sim.ivf_auto_k(500_000) == sim.IVF_AUTO_K_FLOOR
    assert sim.ivf_auto_k(25_000_000) == 25_000_000 // sim.IVF_TARGET_CELL
    assert sim.ivf_auto_k(100_000_000) == 100_000_000 // sim.IVF_TARGET_CELL
    # monotone in corpus size (an index rebuild on a grown corpus never
    # shrinks its quantizer)
    ks = [sim.ivf_auto_k(n) for n in
          (10, 1_000, 500_000, 7_000_000, 25_000_000, 100_000_000)]
    assert ks == sorted(ks)

    sf = "/root/testdata/sf0.001"
    n = sim._vectors(spark, sf).count()
    cents = sim.train_ivf_centroids(spark, sf)     # k=None -> auto
    assert len(cents) == sim.ivf_auto_k(n)
    # the gated-path pin is a DIFFERENT cache entry — auto never
    # contaminates the oracle-matched k=N_CENTROIDS training
    gated = sim.train_ivf_centroids(spark, sf, k=sim.N_CENTROIDS)
    assert len(gated) == sim.N_CENTROIDS


def test_ivf_recall_vs_bruteforce(spark):
    # Deterministic data + deterministic trainer => recall is a fixed
    # property of the (k, nprobe, iters) design; 0.86 measured, floor
    # leaves headroom for parameter tuning.
    sf = "/root/testdata/sf0.001"
    bf = {(r["query_id"], r["neighbor_id"])
          for r in sim.ann_topk_bruteforce(spark, sf).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in sim.ann_topk_ivf(spark, sf).collect()}
    assert len(bf & ivf) / len(bf) >= 0.7


# ------------------------------------------------- chunking / packing

def test_doc_chunks_reconstruct_and_overlap(spark, monkeypatch):
    from hdfs_with_pyspark_spark.llm import text as tx
    toks = [f"w{i}" for i in range(150)]   # 150 tokens -> starts 0,48,96,144
    docs = spark.createDataFrame(
        [(0, " ".join(toks)), (1, "only three tokens"), (2, "")],
        "doc_id long, text string")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    rows = sorted(tx.doc_chunks(spark, "unused").collect(),
                  key=lambda r: (r["doc_id"], r["chunk_id"]))
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 2 not in by_doc                       # empty doc -> no chunks
    assert [r["n_tokens"] for r in by_doc[1]] == [3]
    chunks = [r["chunk_text"].split(" ") for r in by_doc[0]]
    assert len(chunks) == 4
    assert all(len(c) <= tx.CHUNK_SIZE for c in chunks)
    # consecutive chunks share CHUNK_SIZE - CHUNK_STRIDE tokens of context
    for a, b in zip(chunks, chunks[1:]):
        if len(a) == tx.CHUNK_SIZE:
            assert a[tx.CHUNK_STRIDE:] == b[:tx.CHUNK_SIZE - tx.CHUNK_STRIDE]
    # taking each chunk's first CHUNK_STRIDE tokens (all of the last's)
    # reconstructs the document exactly — nothing lost, nothing invented
    rebuilt = sum((c[:tx.CHUNK_STRIDE] for c in chunks[:-1]), []) + chunks[-1]
    assert rebuilt == toks


def test_corpus_token_bins_matches_sequential_packing(spark):
    from hdfs_with_pyspark_spark.llm import text as tx
    sf = "/root/testdata/sf0.001"
    rows = tx.corpus_token_bins(spark, sf).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        # r9 scale fix: contiguous doc-id RANGE shards (cardinality
        # grows with the corpus), not a constant-8 hash domain
        assert r["shard"] == r["doc_id"] // tx.PACK_SHARD_DOCS
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        cum = 0
        for r in sorted(shard_rows, key=lambda r: r["doc_id"]):
            assert r["start_offset"] == cum           # contiguous packing
            assert r["bin_id"] == cum // tx.PACK_BUDGET
            cum += r["n_tokens"]


def test_decontaminate_flags_eval_overlap(spark, monkeypatch):
    # doc 7 (7 % 25 == 7) is the eval split; doc 8 copies its text, doc 9
    # shares nothing. Eval docs never appear in the output.
    docs = spark.createDataFrame(
        [(7, "alpha beta gamma delta epsilon"),
         (8, "alpha beta gamma delta zeta"),      # shares 2 shingles with 7
         (9, "one two three four five")],
        "doc_id long, text string")
    monkeypatch.setattr(dd, "read_table", lambda s, d, n: docs)
    out = {r["doc_id"]: r for r in dd.corpus_decontaminate(spark, "x").collect()}
    assert set(out) == {8, 9}
    assert out[8]["is_contaminated"] and out[8]["n_shared_shingles"] == 2
    assert not out[9]["is_contaminated"] and out[9]["n_shared_shingles"] == 0


# ------------------------------------------------- round-2 quality ops

def test_pii_scrub_redacts_and_counts(spark):
    from hdfs_with_pyspark_spark.llm.text import scrub_pii, PII_EMAIL
    df = spark.createDataFrame(
        [("mail me at jo.doe+x@ex-ample.org or 10.0.255.7 card 4111111111111111",),
         ("no pii here, just words and 1234 short digits",)],
        "text string")
    rows = (df.select(
        scrub_pii(F.col("text")).alias("scrubbed"),
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), 0)).alias("n"))
        .collect())
    assert rows[0]["scrubbed"] == "mail me at <EMAIL> or <IP> card <NUM>"
    assert rows[0]["n"] == 1
    assert rows[1]["scrubbed"] == "no pii here, just words and 1234 short digits"


def test_repetition_signals_hand_values(spark, monkeypatch, tmp_path):
    from hdfs_with_pyspark_spark.llm import text as tx
    # "a a a b": top token a=3/4, dup tokens 3/4; bigrams [a a, a a, a b]
    # -> 1 dup of 3; trigrams [a a a, a a b] -> 0 dups of 2.
    docs = spark.createDataFrame(
        [(1, "a a a b", "en", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars long")
    monkeypatch.setattr(
        tx, "read_table", lambda s, d, n: docs)
    r = tx.text_repetition_signals(spark, "ignored").first()
    assert r["n_tokens"] == 4
    assert r["top_token_frac"] == pytest.approx(0.75)
    assert r["dup_token_frac"] == pytest.approx(0.75)
    assert r["dup_bigram_frac"] == pytest.approx(round(1 / 3, 4))
    assert r["dup_trigram_frac"] == pytest.approx(0.0)


def test_unigram_logprob_uniform_corpus(spark, monkeypatch):
    from hdfs_with_pyspark_spark.llm import text as tx
    # Two docs, vocabulary {x, y} with equal counts: every token has
    # p = 0.5, so every doc's mean log10 prob is log10(0.5).
    docs = spark.createDataFrame(
        [(1, "x y", "en", "s", 3), (2, "y x", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    rows = tx.corpus_unigram_logprob(spark, "ignored").collect()
    for r in rows:
        assert r["avg_logprob"] == pytest.approx(round(math.log10(0.5), 4),
                                                 abs=1e-4)


def test_boilerplate_ngrams_threshold(spark, monkeypatch):
    from hdfs_with_pyspark_spark.llm import text as tx
    # Trigram "a b c" appears in 5 docs (>= BOILER_MIN_DOCS), "z z z"
    # in one. Doc 1 holds both -> boiler_frac 0.5.
    rows = [(i, "a b c", "en", "s", 5) for i in range(2, 6)]
    rows += [(1, "a b c z z z z", "en", "s", 13)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    out = {r["doc_id"]: r for r in tx.corpus_boilerplate_ngrams(spark, "x").collect()}
    # doc 1 distinct trigrams: {a b c, b c z, c z z, z z z} — the
    # repeated "z z z" collapses, n_ngrams is the distinct count.
    assert out[1]["n_boiler"] == 1
    assert out[1]["n_ngrams"] == 4
    assert out[2]["boiler_frac"] == pytest.approx(1.0)


def test_export_shards_roundtrip_and_determinism(spark, tmp_path):
    from hdfs_with_pyspark_spark.sources.io import export_shards
    from hdfs_with_pyspark_spark.llm.text import N_SHARDS
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 3 % 17).alias("payload"))
    path = str(tmp_path / "shards")
    export_shards(df, path, key="doc_id", n_shards=N_SHARDS,
                  sort_within=["doc_id"])
    back = spark.read.parquet(path)
    assert back.count() == 200
    # Shard assignment is the md5 formula, bit for bit.
    expected = {r["doc_id"]: int(hashlib.md5(str(r["doc_id"]).encode())
                                 .hexdigest()[:15], 16) % N_SHARDS
                for r in df.select("doc_id").collect()}
    for r in back.select("doc_id", "shard").collect():
        assert int(r["shard"]) == expected[r["doc_id"]]
    # One directory per non-empty shard, loader-style layout, each file
    # internally sorted by the secondary key.
    import os
    parts = [d for d in os.listdir(path) if d.startswith("shard=")]
    assert 1 <= len(parts) <= N_SHARDS
    import pyarrow.parquet as pq
    for d in parts:
        for f in os.listdir(os.path.join(path, d)):
            if f.endswith(".parquet"):
                ids = pq.read_table(os.path.join(path, d, f))["doc_id"].to_pylist()
                assert ids == sorted(ids)


# ------------------------------------------------------- mixture sampling

def test_corpus_mixture_sample_deterministic_rebalance(spark, monkeypatch):
    # Source A: 4 docs (over-represented -> weight 0.75, downsample);
    # source B: 2 docs (under-represented -> weight 1.5, epoch-multiply).
    # Copy counts are a pure function of (doc_id, counts): floor(w) plus
    # one extra copy when the doc's md5 micro-bucket < frac(w)*1e6.
    import hashlib

    from hdfs_with_pyspark_spark.llm import text as tx
    rows = [(i, "A") for i in range(4)] + [(10, "B"), (11, "B")]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    out = {}
    for r in tx.corpus_mixture_sample(spark, "x").collect():
        out[r["doc_id"]] = max(out.get(r["doc_id"], 0), r["copy_idx"])

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12],
                   16) % 1_000_000

    for i in range(4):                      # A: kept iff bucket < 750000
        assert out.get(i, 0) == (1 if bucket(i) < 750_000 else 0)
    for i in (10, 11):                      # B: 1 copy + extra iff < 500000
        assert out[i] == 1 + (1 if bucket(i) < 500_000 else 0)


# ------------------------------------------------------- product quantization

def test_ann_topk_pq_shape_and_determinism(spark, sf_dir):
    from hdfs_with_pyspark_spark.llm import similarity as sim
    rows = sim.ann_topk_pq(spark, sf_dir).collect()
    assert len(rows) == sim.N_QUERIES * sim.TOP_K
    per_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, sim.TOP_K + 1))
               for v in per_q.values())
    # deterministic: a second invocation reproduces the set exactly
    again = sim.ann_topk_pq(spark, sf_dir).collect()
    key = lambda rs: sorted((r["query_id"], r["neighbor_id"], r["rank"])
                            for r in rs)
    assert key(rows) == key(again)


# --------------------------------------------------------------- BPE training

def test_bpe_learns_classic_merges(spark, monkeypatch):
    from hdfs_with_pyspark_spark.llm import bpe
    docs = spark.createDataFrame(
        [(0, "low lower lowest low"), (1, "newest newer new low")],
        "doc_id long, text string")
    rules = bpe.train_bpe(docs, n_merges=4)
    # 'low' appears 3x (+lower/lowest prefixes = 5 weighted): l+o wins
    # round 1, then lo+w; tie-breaks are (count DESC, l ASC, r ASC).
    assert [(r[1], r[2], r[3]) for r in rules[:2]] == [("l", "o", 5),
                                                      ("lo", "w", 5)]
    assert [r[0] for r in rules] == [1, 2, 3, 4]


def test_bpe_greedy_nonoverlapping_merge(spark, monkeypatch):
    # 'aaaa' under merge (a,a): greedy left-to-right pairs -> exactly 2
    # 'aa' subwords, never 3 overlapping ones; 'aaa' -> ['aa', 'a'].
    from hdfs_with_pyspark_spark.llm import bpe
    docs = spark.createDataFrame([(0, "aaaa aaa")], "doc_id long, text string")
    monkeypatch.setattr(bpe, "read_table", lambda s, d, n: docs)
    stats = {r["doc_id"]: (r["n_chars"], r["n_subwords"])
             for r in bpe.bpe_encode_stats(spark, "x").collect()}
    # 7 chars; after (a,a) then (aa,a)/(aa,aa) merges everything packs:
    # 6 merges on this tiny corpus converge both words to 1 subword each
    assert stats[0][0] == 7
    assert stats[0][1] == 2      # one fully-merged subword per word


def test_pipeline_funnel_monotonic(spark, sf_dir):
    from hdfs_with_pyspark_spark.llm import dedup as dd
    rows = sorted(dd.corpus_pipeline_funnel(spark, sf_dir).collect(),
                  key=lambda r: r["stage_idx"])
    assert [r["stage"] for r in rows] == [
        "raw", "quality", "decontaminated", "exact_dedup", "near_dedup"]
    counts = [r["n_docs"] for r in rows]
    assert counts[0] == spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert all(a >= b for a, b in zip(counts, counts[1:]))  # funnel only narrows
    assert counts[-1] > 0


def test_embedding_ivf_dedup_subset_and_cluster_scoped(spark):
    # SemDedup-shape invariants on real testdata: (1) cluster-scoped
    # candidates + exact verify => a SUBSET of the exhaustive kernel at
    # identical cosine values (precision 1); (2) every reported pair's
    # members share the trained quantizer's cluster assignment.
    sf = "/root/testdata/sf0.001"
    ivf = {(r["vec_a"], r["vec_b"], r["cos_sim"])
           for r in sim.dedup_embedding_ivf(spark, sf).collect()}
    exact = {(r["vec_a"], r["vec_b"], r["cos_sim"])
             for r in sim.dedup_embedding_cosine(spark, sf).collect()}
    assert ivf <= exact
    # candidate generation must be the narrow cid equi-join: no
    # cartesian/NLJ anywhere except the sanctioned 8-row centroid
    # broadcast (which plans as BroadcastNestedLoopJoin on a dimension
    # the size of the quantizer — bounded by k, not the corpus)
    plan = sim.dedup_embedding_ivf(spark, sf)._jdf.queryExecution() \
              .executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_knn_graph_no_broadcast_single_bucket_shuffle(spark):
    # The all-pairs kNN build must NOT broadcast either corpus-sized
    # side: candidates come from a plain shuffle equi-join on bucket.
    sf = "/root/testdata/sf0.001"
    df = sim.knn_graph_lsh(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    # every node with any candidate reports at most K ranked neighbors,
    # rank is 1..K dense per node, and self-edges are excluded
    per = {}
    for r in rows:
        assert r["vec_id"] != r["neighbor_id"]
        per.setdefault(r["vec_id"], []).append(r["rank"])
    assert per and all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())
    assert all(len(v) <= sim.KNN_GRAPH_K for v in per.values())


def test_span_dedup_empty_doc_ansi_safe(spark, tmp_path):
    """ADVICE r3: a zero-length doc must yield ppm=0 (not a
    DIVIDE_BY_ZERO under ANSI mode, not a NULL-vs-0 parity break)."""
    from hdfs_with_pyspark_spark.llm.text import (corpus_span_dedup,
                                                  text_repeated_spans)
    shared = "x" * 60  # one 40-gram shared across two docs
    docs = spark.createDataFrame(
        [(1, shared + "abc", "en", "web", 63),
         (2, shared + "def", "en", "web", 63),
         (3, "", "en", "web", 0)],
        "doc_id long, text string, lang string, source string, n_chars long")
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        sig = {r["doc_id"]: r for r in
               text_repeated_spans(spark, str(tmp_path)).collect()}
        ded = {r["doc_id"]: r for r in
               corpus_span_dedup(spark, str(tmp_path)).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert sig[3]["coverage_ppm"] == 0 and sig[3]["covered_chars"] == 0
    assert ded[3]["removed_ppm"] == 0 and ded[3]["kept_chars"] == 0
    # the planted shared span is detected in both non-empty docs and
    # removed from the later one only (keep-first semantics)
    assert sig[1]["covered_chars"] > 0 and sig[2]["covered_chars"] > 0
    assert ded[1]["removed_chars"] == 0 and ded[2]["removed_chars"] > 0


def test_spread_conditional_noop(spark):
    """spread() must fan a scan-thin frame out to the session
    parallelism, and be a NO-OP (same plan object) when the input is
    already at least that parallel — the guard that keeps it from ever
    adding a corpus shuffle at real scale."""
    from hdfs_with_pyspark_spark.llm.textops import spread
    par = spark.sparkContext.defaultParallelism
    thin = spark.createDataFrame([(i,) for i in range(100)], "x long").coalesce(1)
    assert spread(thin).rdd.getNumPartitions() == par
    wide = spark.range(1000).repartition(par * 2)
    assert spread(wide) is wide


def test_cluster_histogram_partitions_the_corpus(spark, sf_dir):
    """Accounting identities: every doc lands in exactly one histogram
    cell (sum of n_docs == corpus size) and each cell is internally
    consistent (cluster_size * n_clusters == n_docs)."""
    from hdfs_with_pyspark_spark.llm.dedup import dedup_cluster_histogram
    from hdfs_with_pyspark_spark.sources.io import read_table
    rows = dedup_cluster_histogram(spark, sf_dir).collect()
    n_total = read_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_total
    for r in rows:
        assert r["cluster_size"] * r["n_clusters"] == r["n_docs"], r


def test_embedding_coverage_accounts_for_every_vector(spark, sf_dir):
    """sum(per-source n_embedded) + orphan vectors == |embeddings|, and
    coverage_ppm is the exact integer ratio."""
    from hdfs_with_pyspark_spark.llm.similarity import (
        embedding_coverage_audit)
    from hdfs_with_pyspark_spark.sources.io import read_table
    rows = {r["source"]: r
            for r in embedding_coverage_audit(spark, sf_dir).collect()}
    n_vec = read_table(spark, sf_dir, "embeddings").count()
    orphans = rows.pop("__orphan_vectors__")
    assert sum(r["n_embedded"] for r in rows.values()) \
        + orphans["n_docs"] == n_vec
    for r in rows.values():
        assert r["coverage_ppm"] == (1_000_000 * r["n_embedded"]) // r["n_docs"]


def test_av_decoder_fallback_without_codecs(spark):
    """soundfile/ffprobe seams degrade to byte features per row when the
    codec is absent OR the payload is not decodable media — identical
    output to the default decoder on this corpus (text-byte blobs).
    Always runs: text bytes are never valid audio/video."""
    docs = spark.createDataFrame([(1, "a b c"), (2, "hello world")],
                                 "doc_id long, text string")
    for dec in (mm.soundfile_audio_decoder, mm.ffprobe_video_decoder,
                mm.media_decoder):
        got = {r["doc_id"]: r
               for r in mm.extract_features(
                   mm.as_blobs(docs), decoder=dec).collect()}
        dflt = {r["doc_id"]: r
                for r in mm.extract_features(mm.as_blobs(docs)).collect()}
        for k in got:
            assert got[k]["n_tokens"] == dflt[k]["n_tokens"], dec.__name__
            assert got[k]["frame_count"] == dflt[k]["frame_count"]


def test_soundfile_decoder_real_audio_when_available(spark):
    """A real WAV decodes and n_tokens is the Whisper-style
    50-per-second count of the true duration. ALWAYS runs (VERDICT r5
    item 5): the decoder's stdlib-``wave`` branch parses RIFF/PCM WAV
    with zero dependencies, so the real-decode path executes even in
    this codec-less container; when soundfile IS importable the same
    assertions cover the libsndfile branch instead."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:       # 0.5 s of silence @ 8 kHz mono
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 4000)
    wav = buf.getvalue()
    out = mm.soundfile_audio_decoder(wav, "audio")
    assert out == {"n_tokens": 4000 * 50 // 8000, "frame_count": None}
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [7], "modality": ["audio"], "blob": [wav]})
    rows = list(mm._featurize_batches(mm.soundfile_audio_decoder)(iter([pdf])))
    assert rows[0]["n_tokens"].iloc[0] == 25


def test_ffprobe_decoder_real_video_when_available(spark, tmp_path):
    """When ffprobe IS on PATH (and ffmpeg can synthesize a clip), a
    real video probes its true frame count; skipped otherwise."""
    import shutil
    import subprocess

    if shutil.which("ffprobe") is None or shutil.which("ffmpeg") is None:
        pytest.skip("ffprobe/ffmpeg not on PATH in this container")
    clip = tmp_path / "clip.ts"
    subprocess.run(
        ["ffmpeg", "-v", "error", "-f", "lavfi",
         "-i", "testsrc=duration=0.5:size=64x64:rate=10",
         "-f", "mpegts", str(clip)], check=True)
    out = mm.ffprobe_video_decoder(clip.read_bytes(), "video")
    assert out["frame_count"] == 5
    assert out["n_tokens"] == 5 * mm.VIDEO_TOKENS_PER_FRAME


def _make_avi(n_frames: int, w: int, h: int) -> bytes:
    """Minimal valid uncompressed (DIB/RGB24) AVI built with stdlib
    struct only — the video twin of the wave-written and _make_bmp
    fixtures. Genuinely standards-shaped: RIFF('AVI ') holding a
    LIST('hdrl') [avih + LIST('strl')[strh('vids'/'DIB ') + strf
    (BITMAPINFOHEADER)]], a LIST('movi') with one '00db' chunk per
    frame, and an idx1 — so ffprobe (when present) counts the same
    n_frames packets the stdlib header parse reads from avih."""
    import struct

    row = (w * 3 + 3) // 4 * 4
    frame = b"\x00" * (row * h)
    avih = struct.pack("<14I", 100_000, row * h * 10, 0, 0x10,
                       n_frames, 0, 1, row * h, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                            1, 10, 0, n_frames,
                                            row * h, 0, row * h)
            + struct.pack("<4h", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row * h,
                       2835, 2835, 0, 0)

    def chunk(cc: bytes, payload: bytes) -> bytes:
        return cc + struct.pack("<I", len(payload)) + payload \
            + (b"\x00" if len(payload) % 2 else b"")

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi_frames = b"".join(chunk(b"00db", frame) for _ in range(n_frames))
    movi = lst(b"movi", movi_frames)
    idx = b"".join(
        struct.pack("<4sIII", b"00db", 0x10,
                    4 + i * (8 + len(frame) + (len(frame) & 1)),
                    len(frame))
        for i in range(n_frames))
    body = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_video_decoder_real_avi_always_runs(spark):
    """A real uncompressed AVI decodes and n_tokens is frame_count x the
    196-patch ViT budget. ALWAYS runs (VERDICT r8 item 2, the last codec
    seam): the decoder's stdlib RIFF/AVI branch parses the main header
    with zero dependencies, so the real-video path executes even in this
    codec-less container; when ffprobe IS on PATH the same assertions
    cover the packet-count branch instead (the fixture is a valid AVI,
    and its avih dwTotalFrames equals its '00db' packet count)."""
    avi = _make_avi(3, 16, 8)
    assert mm._avi_total_frames(avi) == 3
    out = mm.ffprobe_video_decoder(avi, "video")
    assert out == {"n_tokens": 3 * mm.VIDEO_TOKENS_PER_FRAME,
                   "frame_count": 3}
    # the router reaches the same branch
    assert mm.media_decoder(avi, "video") == out
    # truncated payload (declared RIFF size missing) must byte-degrade,
    # exactly as ffprobe would reject it — no environment divergence
    truncated = avi[:40]
    assert mm._avi_total_frames(truncated) is None
    assert (mm.ffprobe_video_decoder(truncated, "video")
            == mm.byte_decoder(truncated, "video"))
    # driven through the executor seam too
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [9], "modality": ["video"], "blob": [avi]})
    rows = list(mm._featurize_batches(mm.media_decoder)(iter([pdf])))
    assert rows[0]["frame_count"].iloc[0] == 3


def _make_mp4(n_frames: int, w: int, h: int, *,
              sample_size: int = 64, tkhd_version: int = 0) -> bytes:
    """Minimal valid ISO-BMFF MP4 built with stdlib struct only — the
    MP4 twin of _make_avi. Genuinely standards-shaped per ISO/IEC
    14496-12: ftyp('isom'), an mdat holding n_frames fixed-size
    samples, and a moov [mvhd + trak [tkhd(w,h) + mdia [mdhd +
    hdlr('vide') + minf [vmhd + dinf/dref + stbl [stsd('mp4v') + stts
    + stsc + stsz + stco]]]]] whose chunk offsets genuinely point into
    the mdat — so ffprobe (when present) demuxes the same n_frames
    packets the stdlib box walk reads from stsz."""
    import struct

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp41")
    mdat_data = b"\x00" * (sample_size * n_frames)
    mdat = box(b"mdat", mdat_data)
    chunk_offset = len(ftyp) + 8           # first sample's file offset

    mvhd = box(b"mvhd", struct.pack(">B3x", 0)
               + struct.pack(">IIII", 0, 0, 1000, n_frames * 100)
               + struct.pack(">IHH8x", 0x00010000, 0x0100, 0)
               + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                             0x40000000)
               + struct.pack(">6I", 0, 0, 0, 0, 0, 0)
               + struct.pack(">I", 2))
    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                         0x40000000)
    if tkhd_version == 0:
        tkhd_body = (struct.pack(">B3s", 0, b"\x00\x00\x07")
                     + struct.pack(">IIIII", 0, 0, 1, 0, n_frames * 100))
    else:
        tkhd_body = (struct.pack(">B3s", 1, b"\x00\x00\x07")
                     + struct.pack(">QQIIQ", 0, 0, 1, 0, n_frames * 100))
    tkhd = box(b"tkhd", tkhd_body
               + struct.pack(">8xHHHH", 0, 0, 0, 0) + matrix
               + struct.pack(">II", w << 16, h << 16))
    mdhd = box(b"mdhd", struct.pack(">B3x", 0)
               + struct.pack(">IIIIHH", 0, 0, 1000, n_frames * 100,
                             0x55C4, 0))
    hdlr = box(b"hdlr", struct.pack(">B3x", 0) + b"\x00" * 4 + b"vide"
               + b"\x00" * 12 + b"\x00")
    vmhd = box(b"vmhd", struct.pack(">B3s", 0, b"\x00\x00\x01")
               + struct.pack(">HHHH", 0, 0, 0, 0))
    dref = box(b"dref", struct.pack(">B3xI", 0, 1)
               + box(b"url ", struct.pack(">B3s", 0, b"\x00\x00\x01")))
    dinf = box(b"dinf", dref)
    sample_entry = box(b"mp4v", b"\x00" * 6 + struct.pack(">H", 1)
                       + struct.pack(">HH12x", 0, 0)
                       + struct.pack(">HHIIIH", w, h, 0x480000, 0x480000,
                                     0, 1)
                       + b"\x00" * 32
                       + struct.pack(">Hh", 0x18, -1))
    stsd = box(b"stsd", struct.pack(">B3xI", 0, 1) + sample_entry)
    stts = box(b"stts", struct.pack(">B3xIII", 0, 1, n_frames, 100))
    stsc = box(b"stsc", struct.pack(">B3xIIII", 0, 1, 1, n_frames, 1))
    stsz = box(b"stsz", struct.pack(">B3xII", 0, sample_size, n_frames))
    stco = box(b"stco", struct.pack(">B3xII", 0, 1, chunk_offset))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", vmhd + dinf + stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def test_video_decoder_real_mp4_always_runs(spark):
    """A real MP4 decodes and n_tokens is frame_count x the 196-patch
    ViT budget. ALWAYS runs (VERDICT r10 item 6, the ffprobe gate's
    stdlib twin for the container a real corpus actually has): the
    decoder's ISO-BMFF branch walks ftyp -> moov -> trak -> tkhd/hdlr
    -> stbl/stsz with zero dependencies; when ffprobe IS on PATH the
    same assertions cover the packet-count branch instead (the fixture
    is a valid MP4 whose stsz sample_count equals its packet count)."""
    mp4 = _make_mp4(5, 32, 16)
    assert mm._mp4_video_frames(mp4) == 5
    out = mm.ffprobe_video_decoder(mp4, "video")
    assert out == {"n_tokens": 5 * mm.VIDEO_TOKENS_PER_FRAME,
                   "frame_count": 5}
    # the router reaches the same branch
    assert mm.media_decoder(mp4, "video") == out
    # version-1 tkhd (64-bit times) parses identically
    assert mm._mp4_video_frames(_make_mp4(3, 16, 8, tkhd_version=1)) == 3
    # completeness discipline — each rejection routes to byte features,
    # exactly as ffprobe would reject it (no environment divergence):
    truncated = mp4[:len(mp4) - 40]        # moov child overruns payload
    assert mm._mp4_video_frames(truncated) is None
    assert (mm.ffprobe_video_decoder(truncated, "video")
            == mm.byte_decoder(truncated, "video"))
    assert mm._mp4_video_frames(b"\x00\x00\x00\x08free") is None  # no ftyp
    assert mm._mp4_video_frames(b"") is None
    # zero-dimension video trak is not decodable content
    assert mm._mp4_video_frames(_make_mp4(5, 0, 16)) is None
    # an AVI payload is not an MP4 (and vice versa — each parser owns
    # exactly its container)
    assert mm._mp4_video_frames(_make_avi(3, 16, 8)) is None
    assert mm._avi_total_frames(mp4) is None
    # driven through the executor seam too
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [11], "modality": ["video"],
                        "blob": [mp4]})
    rows = list(mm._featurize_batches(mm.media_decoder)(iter([pdf])))
    assert rows[0]["frame_count"].iloc[0] == 5


def test_leakage_safe_splits_clusters_cotravel(spark, sf_dir):
    """The operator's whole point: no near-dup cluster may span two
    splits (the contamination leak corpus_splits permits)."""
    from hdfs_with_pyspark_spark.llm.dedup import (
        dedup_components,
        leakage_safe_splits,
    )
    from pyspark.sql import functions as F

    splits = leakage_safe_splits(spark, sf_dir)
    comp = dedup_components(spark, sf_dir).select("doc_id", "component_id")
    spanning = (splits.join(comp, "doc_id")
                      .groupBy("component_id")
                      .agg(F.count_distinct("split").alias("k"))
                      .where(F.col("k") > 1)
                      .count())
    assert spanning == 0
    # and every doc got exactly one assignment
    from hdfs_with_pyspark_spark.sources.io import read_table
    assert splits.count() == read_table(spark, sf_dir, "documents").count()


def test_events_user_retention_offset_zero_covers_all_users(spark, sf_dir):
    """Every user is active in their own cohort week by construction, so
    the offset-0 diagonal must sum to the distinct-user count."""
    from pyspark.sql import functions as F

    from hdfs_with_pyspark_spark.plans.temporal import events_user_retention
    from hdfs_with_pyspark_spark.sources.io import read_table

    ret = events_user_retention(spark, sf_dir)
    diag = (ret.where(F.col("week_offset") == 0)
               .agg(F.sum("n_users")).first()[0])
    n_users = (read_table(spark, sf_dir, "events")
               .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
               .select("user_id").distinct().count())
    assert diag == n_users
    # offsets are non-negative and cohort weeks are Mondays
    assert ret.where(F.col("week_offset") < 0).count() == 0


def test_bm25_ranks_are_dense_and_terms_present(spark, sf_dir):
    """Top-k ranks are exactly 1..k and every ranked doc contains at
    least one query term (BM25 of a term-free doc is no rows)."""
    from pyspark.sql import functions as F

    from hdfs_with_pyspark_spark.llm.text import BM25_TERMS, BM25_TOPK, bm25_topk
    from hdfs_with_pyspark_spark.sources.io import read_table

    out = bm25_topk(spark, sf_dir).collect()
    ranks = sorted(r["rank"] for r in out)
    assert ranks == list(range(1, len(ranks) + 1))
    assert len(ranks) <= BM25_TOPK
    docs = {r["doc_id"]: r["text"]
            for r in read_table(spark, sf_dir, "documents")
            .join(spark.createDataFrame([(r["doc_id"],) for r in out],
                                        "doc_id long"), "doc_id")
            .collect()}
    for r in out:
        toks = set(docs[r["doc_id"]].split(" "))
        assert toks & set(BM25_TERMS), r
        assert r["bm25"] > 0


def test_zipf_fit_matches_closed_form_ols(spark, monkeypatch):
    # A corpus with an exact power-law vocabulary: token w_r appears
    # floor(1000 / r) times. The distributed micro-log OLS must agree
    # with a driver-side numpy polyfit on the same snapped integers to
    # the printed 4 decimals, and r^2 must be near 1 for a power law.
    import numpy as np

    from hdfs_with_pyspark_spark.llm import text as tx

    words = []
    for r in range(1, 26):
        words += [f"w{r:02d}"] * (1000 // r)
    docs = spark.createDataFrame(
        [(1, " ".join(words), "en", "synth", len(words))],
        "doc_id long, text string, lang string, source string, n_chars long")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    row = tx.corpus_zipf_fit(spark, "x").first()

    cnts = sorted((1000 // r for r in range(1, 26)), reverse=True)
    xu = np.array([round(math.log(i + 1) * 1e6) for i in range(len(cnts))])
    yu = np.array([round(math.log(c) * 1e6) for c in cnts])
    slope, intercept_u = np.polyfit(xu.astype(float), yu.astype(float), 1)
    assert row["n_ranks"] == 25
    assert abs(row["zipf_slope"] - round(slope, 4)) <= 1e-4
    assert abs(row["zipf_intercept"] - round(intercept_u / 1e6, 4)) <= 1e-4
    assert 0.99 <= row["r2"] <= 1.0
    assert abs(row["zipf_slope"] - (-1.0)) < 0.05  # the planted exponent


def test_zipf_top_ranks_cap(spark, monkeypatch):
    # More distinct tokens than ZIPF_TOP_RANKS: the fit must use exactly
    # the cap, proving the TakeOrderedAndProject path bounds the frame.
    from hdfs_with_pyspark_spark.llm import text as tx

    monkeypatch.setattr(tx, "ZIPF_TOP_RANKS", 7)
    words = " ".join(f"t{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, words, "en", "synth", len(words))],
        "doc_id long, text string, lang string, source string, n_chars long")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    assert tx.corpus_zipf_fit(spark, "x").first()["n_ranks"] == 7


def test_zipf_degenerate_variance_yields_null(spark, monkeypatch):
    # Every token appears exactly once: ln(cnt) has zero variance, so
    # r^2 is NULL (not a DIVIDE_BY_ZERO, even under ANSI).
    from hdfs_with_pyspark_spark.llm import text as tx

    words = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, words, "en", "synth", len(words))],
        "doc_id long, text string, lang string, source string, n_chars long")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        row = tx.corpus_zipf_fit(spark, "x").first()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert row["n_ranks"] == 10
    assert row["zipf_slope"] is not None  # x-variance > 0 (ranks differ)
    assert row["r2"] is None


def test_hybrid_rrf_scores_follow_from_ranks(spark, sf_dir):
    rows = sim.hybrid_retrieval_rrf(spark, sf_dir).collect()
    assert rows, "fusion returned nothing"
    prev = None
    for r in sorted(rows, key=lambda r: r["hybrid_rank"]):
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        expect_u = 0
        if r["lex_rank"] is not None:
            expect_u += 1_000_000_000 // (sim.RRF_K + r["lex_rank"])
        if r["sem_rank"] is not None:
            expect_u += 1_000_000_000 // (sim.RRF_K + r["sem_rank"])
        assert r["rrf_score"] == round(expect_u / 1e9, 6)
        if prev is not None:  # rank order is score order (ties by doc_id)
            assert prev >= expect_u
        prev = expect_u
    # The semantic query doc itself is on the fused list (cos = 1 top).
    assert any(r["doc_id"] == sim.HYBRID_QUERY_VEC and r["sem_rank"] == 1
               for r in rows)


def test_auc_matches_bruteforce_pair_count(spark, sf_dir):
    # Exact AUC semantics: P(score_pos > score_neg) + 0.5*P(equal),
    # verified against the O(n_pos * n_neg) brute-force pair count on
    # the real corpus slice.
    row = sim.score_label_auc(spark, sf_dir).first()
    from hdfs_with_pyspark_spark.llm.text import text_quality_score
    from hdfs_with_pyspark_spark.sources.io import read_table

    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    lab = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", (F.col("label") == sim.AUC_POS_LABEL).cast("int").alias("y"))
    rows = (q.join(lab, q["doc_id"] == lab["vec_id"])
             .select("quality_score", "y").collect())
    pos = [r["quality_score"] for r in rows if r["y"] == 1]
    neg = [r["quality_score"] for r in rows if r["y"] == 0]
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    expect = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(row["auc"] - round(expect, 6)) <= 1e-6


def test_target_encoding_loo_excludes_own_label(spark, sf_dir):
    # For every doc, loo_ppm recomputed from (source sum - own y) must
    # match, and the smoothed encoding shrinks toward the global rate.
    out = sim.source_target_encoding(spark, sf_dir).collect()
    import collections
    per_src = collections.defaultdict(lambda: [0, 0])
    for r in out:
        per_src[r["source"]][0] += 1
        per_src[r["source"]][1] += r["y"]
    g_n = sum(v[0] for v in per_src.values())
    g_sum = sum(v[1] for v in per_src.values())
    for r in out:
        n, sum_y = per_src[r["source"]]
        if n > 1:
            assert r["loo_ppm"] == (1_000_000 * (sum_y - r["y"])) // (n - 1)
        te = (1_000_000 * (sum_y * g_n + sim.TE_SMOOTHING * g_sum)) \
            // ((n + sim.TE_SMOOTHING) * g_n)
        assert r["te_ppm"] == te


def test_pr_auc_matches_bruteforce_thresholds(spark, sf_dir):
    # AP must equal the step-interpolated sum over descending distinct
    # score thresholds (sklearn's average_precision semantics with
    # threshold groups), recomputed driver-side.
    row = sim.score_label_pr_auc(spark, sf_dir).first()
    from hdfs_with_pyspark_spark.llm.text import text_quality_score
    from hdfs_with_pyspark_spark.sources.io import read_table

    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    lab = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", (F.col("label") == sim.AUC_POS_LABEL).cast("int").alias("y"))
    rows = (q.join(lab, q["doc_id"] == lab["vec_id"])
             .select("quality_score", "y").collect())
    import collections
    groups = collections.Counter()
    pos = collections.Counter()
    for r in rows:
        groups[r["quality_score"]] += 1
        pos[r["quality_score"]] += r["y"]
    tp = pp = 0
    ap_u = 0
    n1 = sum(pos.values())
    for s in sorted(groups, reverse=True):
        tp += pos[s]
        pp += groups[s]
        ap_u += round(1e9 * pos[s] * tp / pp)
    assert row["n_pos"] == n1
    assert abs(row["avg_precision"] - round(ap_u / (1e9 * n1), 6)) <= 1e-6
    assert 0.0 <= row["avg_precision"] <= 1.0


def test_calibration_bins_tie_out_with_auc_counts(spark, sf_dir):
    # Bin counts must partition the joined corpus (sum n == n_pos+n_neg
    # from the AUC query); rates and gaps are consistent ppm integers.
    bins = sim.score_calibration_bins(spark, sf_dir).collect()
    auc = sim.score_label_auc(spark, sf_dir).first()
    assert sum(r["n"] for r in bins) == auc["n_pos"] + auc["n_neg"]
    for r in bins:
        assert 0 <= r["bin_id"] < sim.CAL_BINS
        assert 0 <= r["pos_rate_ppm"] <= 1_000_000
        assert r["abs_gap_ppm"] == abs(r["avg_score_ppm"] - r["pos_rate_ppm"])


def test_retrieval_eval_metric_ordering(spark, sf_dir):
    # With a single relevant doc per query, 1/rank <= 1/log2(rank+1)
    # <= 1 pointwise, so after the ppm means: mrr <= ndcg <= hit-rate.
    from hdfs_with_pyspark_spark.llm.similarity import retrieval_eval_mrr
    r = retrieval_eval_mrr(spark, sf_dir).collect()[0]
    assert r["n_queries"] > 0
    assert 0 <= r["mrr_ppm"] <= r["ndcg_ppm"] <= 1_000_000
    assert r["ndcg_ppm"] <= r["hit_rate_ppm"] <= 1_000_000


def test_feature_hash_audit_monotone_in_dim(spark, sf_dir):
    # Wider hash spaces can only reduce collisions; bucket usage is
    # bounded by both the dim and the vocab; token totals agree.
    from hdfs_with_pyspark_spark.llm.text import (
        FH_DIMS,
        feature_hash_collision_audit,
    )
    rows = {r["hash_dim"]: r
            for r in feature_hash_collision_audit(spark, sf_dir).collect()}
    assert set(rows) == set(FH_DIMS)
    n_tokens = {r["n_tokens"] for r in rows.values()}
    assert len(n_tokens) == 1
    prev = None
    for d in sorted(rows):
        r = rows[d]
        assert r["buckets_used"] <= min(d, r["n_tokens"])
        assert 0 <= r["collided_tokens"] <= r["n_tokens"]
        if prev is not None:
            assert r["collision_ppm"] <= prev["collision_ppm"]
        prev = r


def test_tokenizer_fertility_hand_case(spark, monkeypatch):
    # "ab 12 c!" -> 3 whitespace tokens; BPE-ish: ab,1,2,c,! = 5.
    from hdfs_with_pyspark_spark.llm import text as tx
    docs = spark.createDataFrame([(1, "ab 12 c!", "en", 8)],
                                 "doc_id long, text string, lang string, "
                                 "n_chars long")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    r = tx.tokenizer_fertility_by_lang(spark, "x").collect()[0]
    assert (r["lang"], r["n_docs"], r["ws_tokens"], r["bpe_tokens"]) \
        == ("en", 1, 3, 5)
    assert r["fertility_ppm"] == (1_000_000 * 5) // 3
    assert r["chars_per_bpe_ppm"] == (1_000_000 * 8) // 5


def test_debias_topc_energy_bounds(spark, sf_dir):
    # Top-PC energy is a share of total second-moment energy: bounded
    # by it, non-negative, and the ppm is the exact floor division.
    from hdfs_with_pyspark_spark.llm.similarity import embedding_debias_topc
    r = embedding_debias_topc(spark, sf_dir).collect()[0]
    assert r["n_vectors"] > 0
    assert 0 <= r["var_top_pc_u"] <= r["var_total_u"]
    assert r["var_removed_ppm"] == \
        (1_000_000 * r["var_top_pc_u"]) // max(r["var_total_u"], 1)
    assert 0 <= r["var_removed_ppm"] <= 1_000_000


def test_maxsim_identical_doc_scores_full(spark, monkeypatch):
    # Query 0 = e1; doc 7 identical -> part 0 cosine 1, parts 1-3 have
    # zero-norm query subvectors (guard -> 0): maxsim = 1e6 exactly,
    # rank 1. Orthogonal doc 8 scores 0 and ranks below.
    from hdfs_with_pyspark_spark.llm import similarity as sim
    e1 = [1.0] + [0.0] * 63
    e17 = [0.0] * 17 + [1.0] + [0.0] * 46
    vecs = spark.createDataFrame(
        [(0, e1), (7, e1), (8, e17)],
        "vec_id long, embedding array<float>")
    monkeypatch.setattr(sim, "read_table", lambda s, d, n: vecs)
    monkeypatch.setattr(sim, "N_QUERIES", 1)
    out = sorted(sim.maxsim_retrieval_topk(spark, "x").collect(),
                 key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in out] == [7, 8]
    assert out[0]["maxsim_ppm"] == 1_000_000
    assert out[1]["maxsim_ppm"] == 0


def test_matryoshka_recall_shape(spark, sf_dir):
    # Full coverage denominator Q*K per prefix; more dims can only help
    # on this fixed corpus (8 -> 32 monotone); overlap bounded by truth.
    from hdfs_with_pyspark_spark.llm import similarity as sim
    rows = {r["prefix_dim"]: r
            for r in sim.embedding_matryoshka_recall(spark, sf_dir).collect()}
    assert set(rows) == set(sim.MRL_DIMS)
    for r in rows.values():
        assert r["n_true"] == sim.N_QUERIES * sim.TOP_K
        assert 0 <= r["n_overlap"] <= r["n_true"]
        assert r["recall_ppm"] == (1_000_000 * r["n_overlap"]) // r["n_true"]
    assert rows[32]["recall_ppm"] >= rows[8]["recall_ppm"]


def test_manifest_fingerprint_order_insensitive_and_content_sensitive(
        spark, monkeypatch):
    from hdfs_with_pyspark_spark.llm import text as tx

    def docs(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string, n_chars long")

    a = [(1, "alpha", "s", 5), (2, "beta", "s", 4), (3, "gamma", "s", 5)]
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs(a))
    fp1 = tx.corpus_manifest_fingerprint(spark, "x").collect()[0]
    monkeypatch.setattr(tx, "read_table",
                        lambda s, d, n: docs(list(reversed(a))))
    fp2 = tx.corpus_manifest_fingerprint(spark, "x").collect()[0]
    assert fp1 == fp2                     # order-insensitive
    b = [(1, "alpha", "s", 5), (2, "beta!", "s", 5), (3, "gamma", "s", 5)]
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs(b))
    fp3 = tx.corpus_manifest_fingerprint(spark, "x").collect()[0]
    assert fp3["content_fingerprint"] != fp1["content_fingerprint"]
    assert fp1["n_unique_texts"] == 3


def test_disparate_impact_flags_below_80pct(spark, sf_dir):
    from hdfs_with_pyspark_spark.llm.text import quality_disparate_impact
    rows = quality_disparate_impact(spark, sf_dir).collect()
    assert rows
    best = max(r["keep_rate_ppm"] for r in rows)
    for r in rows:
        assert 0 <= r["n_keep"] <= r["n_docs"]
        assert r["di_ratio_ppm"] == \
            (1_000_000 * r["keep_rate_ppm"]) // max(best, 1)
        assert r["below_four_fifths"] == (r["di_ratio_ppm"] < 800_000)
    # the best source is never flagged
    assert any(r["di_ratio_ppm"] == 1_000_000
               and not r["below_four_fifths"] for r in rows)


def test_knn_label_eval_counts(spark, sf_dir):
    from hdfs_with_pyspark_spark.llm import similarity as sim
    rows = sim.embedding_knn_label_eval(spark, sf_dir).collect()
    assert sum(r["n_queries"] for r in rows) == sim.KNN_EVAL_QUERIES
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n_queries"]
        assert r["accuracy_ppm"] == \
            (1_000_000 * r["n_correct"]) // r["n_queries"]


def test_centroid_drift_self_consistency(spark, monkeypatch):
    # Identical halves -> centroid cosine exactly 1.0 per label.
    from hdfs_with_pyspark_spark.llm import similarity as sim
    base = [(2 * i + h, [float(i % 5 + 1), float(i % 3 - 1), 2.0, -1.0],
             i % 2) for i in range(20) for h in (0, 1)]
    vecs = spark.createDataFrame(
        base, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(sim, "read_table", lambda s, d, n: vecs)
    out = sim.embedding_centroid_drift(spark, "x").collect()
    assert out
    for r in out:
        assert r["n_a"] == r["n_b"]
        assert r["centroid_cos"] == 1.0


def test_token_gini_known_distributions(spark, monkeypatch):
    # All-equal lengths -> Gini (n-1-weighted rank form) = -(?); use the
    # exact rank-sum formula recomputed in Python on a hand corpus.
    from hdfs_with_pyspark_spark.llm import text as tx

    def gini_ppm(values):
        xs = sorted(values)
        n, s = len(xs), sum(xs)
        t = sum((i + 1) * x for i, x in enumerate(xs))
        return (1_000_000 * (2 * t - (n + 1) * s)) // (n * s)

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * ln), "s", 1)
         for i, ln in enumerate([1, 1, 2, 3, 5, 8, 13])],
        "doc_id long, text string, source string, n_chars long")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    r = tx.corpus_token_gini(spark, "x").collect()[0]
    assert r["n_docs"] == 7
    assert r["total_tokens"] == 33
    assert r["gini_ppm"] == gini_ppm([1, 1, 2, 3, 5, 8, 13])


def test_preference_pairs_invariants(spark, sf_dir):
    from hdfs_with_pyspark_spark.llm.text import (
        RLHF_MIN_GAP_PPM,
        RLHF_POOL,
        rlhf_preference_pairs,
    )
    rows = rlhf_preference_pairs(spark, sf_dir).collect()
    assert rows
    per_stratum = {}
    for r in rows:
        assert r["gap_ppm"] >= RLHF_MIN_GAP_PPM
        assert r["chosen_doc_id"] != r["rejected_doc_id"]
        assert 1 <= r["rank"] <= RLHF_POOL
        per_stratum.setdefault((r["source"], r["lang"]), set()).add(r["rank"])
    # ranks are unique within a stratum -> at most POOL pairs each
    assert all(len(v) <= RLHF_POOL for v in per_stratum.values())


def test_prefix_cache_stats_monotone(spark, sf_dir):
    # Longer prefixes can only shrink sharing; identities hold exactly.
    from hdfs_with_pyspark_spark.llm.text import (
        PREFIX_CACHE_LENS,
        corpus_prefix_cache_stats,
    )
    rows = {r["prefix_len"]: r
            for r in corpus_prefix_cache_stats(spark, sf_dir).collect()}
    assert set(rows) == set(PREFIX_CACHE_LENS)
    prev = None
    for k in sorted(rows):
        r = rows[k]
        assert r["n_prefixes"] <= r["n_docs"]
        assert r["hit_rate_ppm"] == (1_000_000
                                     * (r["n_docs"] - r["n_prefixes"])
                                     ) // max(r["n_docs"], 1)
        if prev is not None:
            # eligible docs shrink with k; sharing cannot grow
            assert r["shared_docs"] <= prev["shared_docs"] or \
                r["n_docs"] < prev["n_docs"]
        prev = r


def test_sampling_temperature_flattens(spark, sf_dir):
    # Weights per alpha sum to ~1e6; lower alpha compresses the spread
    # (max/min ratio shrinks); alpha=1.0 is proportional to tokens.
    from hdfs_with_pyspark_spark.llm.text import corpus_sampling_temperature
    rows = corpus_sampling_temperature(spark, sf_dir).collect()
    by_alpha = {}
    for r in rows:
        by_alpha.setdefault(r["alpha_x10"], []).append(r)
    assert set(by_alpha) == {3, 7, 10}
    spread = {}
    for a, rs in by_alpha.items():
        tot = sum(r["weight_ppm"] for r in rs)
        assert abs(tot - 1_000_000) <= len(rs)  # floor-division slack
        ws = [r["weight_ppm"] for r in rs]
        spread[a] = max(ws) / max(min(ws), 1)
    assert spread[3] <= spread[7] <= spread[10]
    # alpha = 1.0 tracks token share
    for r in by_alpha[10]:
        total_tokens = sum(x["tokens"] for x in by_alpha[10])
        expect = (1_000_000 * r["tokens"]) // total_tokens
        assert abs(r["weight_ppm"] - expect) <= 2


def test_code_detection_hand_cases(spark, monkeypatch):
    from hdfs_with_pyspark_spark.llm import text as tx
    code = "def f(x): return {a: b[i] for i in y};"    # symbol-dense
    prose = "the cat and the dog are in the house with a bird"
    docs = spark.createDataFrame(
        [(1, code, "en", len(code)), (2, prose, "en", len(prose))],
        "doc_id long, text string, lang string, n_chars long")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    out = {r["doc_id"]: r for r in
           tx.text_code_detection(spark, "x").collect()}
    assert out[1]["looks_like_code"] is True
    assert out[2]["looks_like_code"] is False
    assert out[1]["symbol_ppm"] > out[2]["symbol_ppm"]
    assert out[2]["stopword_ppm"] > out[1]["stopword_ppm"]


# ------------------------------------------------- round-7 audit queries

def test_minhash_estimate_error_invariants(spark, sf_dir):
    """Estimate and exact ppm live in [0, 1e6]; every verified LSH
    near-dup pair (jaccard >= threshold) appears among the audited
    candidates; an exact-duplicate pair must estimate exactly 1e6
    (identical shingle sets -> identical signatures)."""
    out = dd.minhash_estimate_error_audit(spark, sf_dir).persist()
    rows = out.collect()
    assert rows, "banded candidates must exist on testdata"
    for r in rows:
        assert 0 <= r.est_ppm <= 1_000_000
        assert 0 < r.exact_ppm <= 1_000_000
        assert r.abs_err_ppm == abs(r.est_ppm - r.exact_ppm)
    lsh = dd.dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    missing = lsh.join(out, ["doc_a", "doc_b"], "left_anti").count()
    assert missing == 0
    exact_dups = [r for r in rows if r.exact_ppm == 1_000_000]
    for r in exact_dups:
        assert r.est_ppm == 1_000_000
    out.unpersist()


def test_cross_source_matrix_bounds(spark, sf_dir):
    """Off-diagonal shared-cluster counts are bounded by each side's
    diagonal count (a cluster containing both sources contains each),
    and pairs are emitted in canonical source_a <= source_b form."""
    out = dd.dedup_cross_source_matrix(spark, sf_dir)
    rows = out.collect()
    assert rows
    diag = {r.source_a: r.n_shared_clusters
            for r in rows if r.source_a == r.source_b}
    for r in rows:
        assert r.source_a <= r.source_b
        if r.source_a != r.source_b:
            assert r.n_shared_clusters <= diag.get(r.source_a, 0)
            assert r.n_shared_clusters <= diag.get(r.source_b, 0)


def test_vocab_oov_audit_conservation(spark, sf_dir):
    """Per-source token totals must equal the corpus token count
    (conservation across the vocab join), and a vocab covering every
    distinct token would leave zero OOV -> oov_ppm strictly below 1e6
    whenever any vocab token occurs in the source."""
    from hdfs_with_pyspark_spark.llm import text as tx
    out = tx.tokenizer_vocab_oov_audit(spark, sf_dir).collect()
    assert out
    total = sum(r.n_tokens for r in out)
    truth = (tx.text_token_stats(spark, sf_dir)
               .agg(F.sum("n_ws_tokens")).first()[0])
    assert total == truth
    for r in out:
        assert 0 <= r.n_oov <= r.n_tokens
        assert r.oov_ppm == (1_000_000 * r.n_oov) // r.n_tokens


def test_training_order_audit_conservation(spark, sf_dir):
    """Run-length accounting: per-source doc counts across runs must
    sum to the corpus size, runs are nonempty, and the ppm mean is the
    exact floor division of the recomputed totals."""
    from hdfs_with_pyspark_spark.llm import text as tx
    from hdfs_with_pyspark_spark.sources.io import read_table
    out = tx.corpus_training_order_audit(spark, sf_dir).collect()
    n_docs = read_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in out) == n_docs
    for r in out:
        assert 1 <= r.n_runs <= r.n_docs
        assert 1 <= r.max_run_len <= r.n_docs
        assert r.mean_run_len_ppm == (1_000_000 * r.n_docs) // r.n_runs


def test_quality_outlier_mad_hand_case(spark, sf_dir, monkeypatch):
    """Known histogram: scores 0.26 x4 and 0.9 x1 in one source.
    n=5 -> lower median at rank 3 = qu 2600; deviations {0 x4, 6400 x1}
    -> MAD at rank 3 = 0; the single 6400 deviation exceeds 3*0 and is
    the only outlier."""
    from hdfs_with_pyspark_spark.llm import text as tx
    docs = spark.createDataFrame(
        [(i, "s1", "en", t) for i, t in enumerate(
            ["a a", "b b", "c c", "d d",
             # 50+ distinct tokens -> distinct_ratio 1, len/100 -> 0.9ish
             " ".join(f"w{k}" for k in range(80))])],
        "doc_id long, source string, lang string, text string")
    # quality_score = min(len/100,1)*0.5 + distinct_ratio*0.5:
    # two-token docs ("a a"): 0.02*0.5 + 0.5*0.5 = 0.26 -> qu 2600
    # the 80-token doc: 0.8*0.5 + 1.0*0.5 = 0.9   -> qu 9000
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    out = {r.source: r for r in
           tx.quality_outlier_mad(spark, sf_dir).collect()}
    r = out["s1"]
    assert r.n_docs == 5
    assert r.median_qu == 2600
    assert r.mad_qu == 0
    assert r.n_outliers == 1


def test_anisotropy_known_vectors(spark, monkeypatch):
    """Two antipodal unit vectors -> zero mean -> anisotropy 0; two
    identical unit vectors -> anisotropy 1e6 (ppm)."""
    from hdfs_with_pyspark_spark.llm import similarity as s2
    dim = s2.EMBED_DIM

    def frame(vecs):
        return spark.createDataFrame(
            [(i, v, 0) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>, label long")

    e1 = [1.0] + [0.0] * (dim - 1)
    e1neg = [-1.0] + [0.0] * (dim - 1)
    monkeypatch.setattr(s2, "read_table",
                        lambda s, d, n: frame([e1, e1neg]))
    r = s2.embedding_anisotropy_audit(spark, "ignored").first()
    assert r.n_vectors == 2
    assert r.mu_norm2_u == 0
    assert r.anisotropy_ppm == 0

    monkeypatch.setattr(s2, "read_table",
                        lambda s, d, n: frame([e1, e1]))
    r = s2.embedding_anisotropy_audit(spark, "ignored").first()
    assert r.anisotropy_ppm == 1_000_000


def test_logreg_learns_separable_signal(spark, monkeypatch):
    """On a linearly separable hand corpus (en docs = all stopwords,
    others = all-distinct novel words) five GD iterations must find a
    positive stopword coefficient and classify the training set
    (near-)perfectly; weights stay on the exact nano grid."""
    from hdfs_with_pyspark_spark.llm import text as tx
    rows = []
    for i in range(20):
        if i % 2 == 0:
            rows.append((i, "s", "en", "the the the a a of"))
        else:
            rows.append((i, "s", "de",
                         " ".join(f"w{i}_{k}" for k in range(6))))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    r = tx.quality_logreg_train(spark, "x").first()
    assert r.n_docs == 20
    assert r.w1_nano > 0            # stopword_ratio predicts en
    assert r.w2_nano < 0            # all-distinct text predicts not-en
    assert r.train_acc_ppm >= 900_000


def test_nprobe_curve_monotone_and_consistent(spark, sf_dir):
    """Recall must be non-decreasing in nprobe, each recall equals its
    own overlap ratio, and the nprobe = NPROBE row must agree with
    ann_topk_ivf's verified hit count against brute force."""
    rows = {r.nprobe: r
            for r in sim.ann_ivf_nprobe_curve(spark, sf_dir).collect()}
    assert sorted(rows) == sorted(sim.IVF_CURVE_PROBES)
    probes = sorted(rows)
    for a, b in zip(probes, probes[1:]):
        assert rows[a].recall_ppm <= rows[b].recall_ppm
    for r in rows.values():
        assert 0 <= r.n_overlap <= r.n_true
        assert r.recall_ppm == (1_000_000 * r.n_overlap) // r.n_true
    if sim.NPROBE in rows:
        ivf = sim.ann_topk_ivf(spark, sf_dir).select(
            "query_id", "neighbor_id")
        exact = sim.ann_topk_bruteforce(spark, sf_dir).select(
            "query_id", "neighbor_id")
        hits = ivf.join(exact, ["query_id", "neighbor_id"]).count()
        assert rows[sim.NPROBE].n_overlap == hits


def test_ivf_incremental_index_consistency(spark, sf_dir):
    """The ingest assigns every batch vector to a corpus-trained
    centroid under the standard ranking rule; the persisted index state
    (quantizer + corpus inverted lists) round-trips through parquet and
    covers exactly the corpus; the eval's recalls are internally
    consistent with its hit counts and rebuild_gain identity."""
    out = {r.vec_id: r
           for r in sim.ann_ivf_incremental(spark, sf_dir).collect()}
    batch_n = (sim._vectors(spark, sf_dir)
               .where(f"vec_id < {sim.INCR_VEC_SPLIT}").count())
    assert len(out) == batch_n
    cids = {cid for cid, _ in
            sim.train_incr_corpus_centroids(spark, sf_dir)}
    assert all(r.cid in cids for r in out.values())
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in out.values())
    # the persisted state: quantizer rows == k, lists rows == |corpus|
    cent_path, lists_path = sim._incr_index_paths(spark, sf_dir)
    assert spark.read.parquet(cent_path).count() == sim.N_CENTROIDS
    corpus_n = (sim._vectors(spark, sf_dir)
                .where(f"vec_id >= {sim.INCR_VEC_SPLIT}").count())
    lists = spark.read.parquet(lists_path)
    assert lists.count() == corpus_n
    assert lists.select("vec_id").distinct().count() == corpus_n
    # batch re-assigned against the RE-READ store matches the output
    cent_store = spark.read.parquet(cent_path)
    batch = sim._vectors(spark, sf_dir).where(
        f"vec_id < {sim.INCR_VEC_SPLIT}")
    again = {r.vec_id: r.cid for r in
             sim.assign_nearest(batch, cent_store, kernel="exact").collect()}
    assert again == {k: r.cid for k, r in out.items()}


def test_ivf_incr_recall_eval_identities(spark, sf_dir):
    rows = sim.ann_ivf_incr_recall_eval(spark, sf_dir).collect()
    assert len(rows) == sim.N_QUERIES
    for r in rows:
        assert 0 <= r.n_hit_incr <= sim.TOP_K
        assert 0 <= r.n_hit_rebuild <= sim.TOP_K
        assert r.recall_incr == round(r.n_hit_incr / sim.TOP_K, 4)
        assert r.recall_rebuild == round(r.n_hit_rebuild / sim.TOP_K, 4)
        assert r.rebuild_gain == round(
            (r.n_hit_rebuild - r.n_hit_incr) / sim.TOP_K, 4)
    # the rebuild side IS ann_topk_ivf: hit counts must agree with a
    # direct join against brute force
    ivf = sim.ann_topk_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    exact = sim.ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id")
    hits = {r.query_id: r["count"] for r in
            ivf.join(exact, ["query_id", "neighbor_id"])
               .groupBy("query_id").count().collect()}
    for r in rows:
        assert r.n_hit_rebuild == hits.get(r.query_id, 0)


def test_psi_zero_on_identical_halves_and_large_on_disjoint(spark,
                                                            monkeypatch):
    """Identical score distributions in both md5-parity snapshots give
    exactly PSI 0 (equal smoothed proportions in every bin); disjoint
    distributions cross the 0.1 investigate line."""
    import hashlib

    from hdfs_with_pyspark_spark.llm import text as tx

    def parity(did: int) -> int:
        return int(hashlib.md5(f"snap:{did}".encode()).hexdigest()[:15],
                   16) % 2

    ids = {0: [], 1: []}
    d = 0
    while len(ids[0]) < 5 or len(ids[1]) < 5:
        ids[parity(d)].append(d)
        d += 1
    lo = "a a"                                  # low quality score
    hi = " ".join(f"w{k}" for k in range(120))  # high quality score

    def frame(texts0, texts1):
        rows = ([(i, "s", "en", t) for i, t in zip(ids[0][:5], texts0)]
                + [(i, "s", "en", t) for i, t in zip(ids[1][:5], texts1)])
        return spark.createDataFrame(
            rows, "doc_id long, source string, lang string, text string")

    monkeypatch.setattr(tx, "read_table",
                        lambda s, d_, n: frame([lo, lo, hi, hi, hi],
                                               [lo, lo, hi, hi, hi]))
    r = tx.quality_psi_drift(spark, "x").first()
    assert (r.n_a, r.n_b) == (5, 5)
    assert r.psi_nano == 0 and not r.drifted

    # new data under the same sf_dir: drop the pinned histogram
    state.clear(spark)
    monkeypatch.setattr(tx, "read_table",
                        lambda s, d_, n: frame([lo] * 5, [hi] * 5))
    r = tx.quality_psi_drift(spark, "x").first()
    assert r.psi_nano > tx.PSI_INVESTIGATE_NANO and r.drifted


def test_dsir_eval_selecting_everything_is_identity(spark, sf_dir,
                                                    monkeypatch):
    """KL terms are Gibbs-nonnegative up to nano snapping, and when the
    selection covers the whole corpus (K >= n_docs) the selected
    profile IS the corpus profile, so the two KLs must be equal."""
    from hdfs_with_pyspark_spark.llm import text as tx
    r = tx.dsir_reweighting_eval(spark, sf_dir).first()
    # 1024 snapped terms, each within 0.5 nano of its exact value.
    assert r.kl_corpus_nano >= -1024
    assert r.kl_selected_nano >= -1024

    docs = spark.createDataFrame(
        [(i, "s", "en" if i % 2 == 0 else "de",
          f"tok{i} tok{i + 1} tok{i + 2} tok{i + 3}")
         for i in range(20)],
        "doc_id long, source string, lang string, text string")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    r = tx.dsir_reweighting_eval(spark, "x").first()
    assert r.kl_selected_nano == r.kl_corpus_nano
    assert not r.improved


def test_containment_hand_case_and_orientation(spark, monkeypatch):
    """A short doc fully quoted inside a long doc must surface as
    (contained=short, container=long) with containment 1.0 even though
    its Jaccard is far below the near-dup threshold; two unrelated docs
    must not pair."""
    short = "alpha beta gamma delta epsilon"          # 3 shingles
    long_ = short + " " + " ".join(f"z{k} z{k}x y{k}" for k in range(12))
    other = " ".join(f"q{k} r{k} s{k}" for k in range(10))
    docs = spark.createDataFrame(
        [(1, "s", "en", short), (2, "s", "en", long_),
         (3, "s", "en", other)],
        "doc_id long, source string, lang string, text string")
    from hdfs_with_pyspark_spark.llm import dedup as dd2
    monkeypatch.setattr(dd2, "read_table", lambda s, d, n: docs)
    rows = dd2.dedup_containment(spark, "x").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.contained_doc, r.container_doc) == (1, 2)
    assert r.containment == 1.0
    # And symmetric Jaccard on the same pair sits far below ITS gate:
    jac = dd2.dedup_ngram_jaccard(spark, "x").collect()
    assert not any({p.doc_a, p.doc_b} == {1, 2} for p in jac)


def test_heldout_bigram_hand_case(spark, monkeypatch):
    """Two-doc corpus with ids chosen so md5 parity puts one doc in each
    half. Train 'x y x z': c2 = {xy:1, yx:1, xz:1}, c1 = {x:2, y:1},
    V = 3. Eval 'x y q': P(y|x) = (1+1)/(2+3) = 0.4; P(q|y) = (0+1)/
    (1+3) = 0.25; no unseen contexts -> n_oov_ctx = 0."""
    import hashlib
    import math

    from hdfs_with_pyspark_spark.llm import text as tx

    def parity(did: int) -> int:
        return int(hashlib.md5(f"heldout:{did}".encode())
                   .hexdigest()[:15], 16) % 2
    train_id = next(d for d in range(100) if parity(d) == 0)
    eval_id = next(d for d in range(100) if parity(d) == 1)
    docs = spark.createDataFrame(
        [(train_id, "s1", "en", "x y x z"),
         (eval_id, "s1", "en", "x y q")],
        "doc_id long, source string, lang string, text string")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    r = tx.corpus_heldout_bigram_eval(spark, "ignored").first()
    assert r.source == "s1"
    assert r.n_eval_bigrams == 2
    assert r.n_oov_ctx == 0
    lp = (round(math.log10(0.4) * 1e6) + round(math.log10(0.25) * 1e6))
    assert r.avg_logprob == round(lp / (2 * 1e6), 4)


def test_heldout_bigram_oov_context(spark, monkeypatch):
    """An eval bigram whose context never appears in training counts as
    OOV context and scores (0+1)/(0+V)."""
    import hashlib
    import math

    from hdfs_with_pyspark_spark.llm import text as tx

    def parity(did: int) -> int:
        return int(hashlib.md5(f"heldout:{did}".encode())
                   .hexdigest()[:15], 16) % 2
    train_id = next(d for d in range(100) if parity(d) == 0)
    eval_id = next(d for d in range(100) if parity(d) == 1)
    docs = spark.createDataFrame(
        [(train_id, "s1", "en", "a b"),       # V = {a, b} -> 2
         (eval_id, "s1", "en", "zz ww")],     # ctx zz unseen
        "doc_id long, source string, lang string, text string")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    r = tx.corpus_heldout_bigram_eval(spark, "ignored").first()
    assert (r.n_eval_bigrams, r.n_oov_ctx) == (1, 1)
    assert r.avg_logprob == round(
        round(math.log10((0 + 1) / (0 + 2)) * 1e6) / 1e6, 4)


def test_heldout_bigram_empty_train_half(spark, monkeypatch):
    """A corpus whose every doc lands in the eval half degrades to the
    floored vocabulary (V >= 1): each bigram scores log10(1/1) = 0
    instead of diverging on an infinity cast."""
    import hashlib

    from hdfs_with_pyspark_spark.llm import text as tx

    def parity(did: int) -> int:
        return int(hashlib.md5(f"heldout:{did}".encode())
                   .hexdigest()[:15], 16) % 2
    eval_ids = [d for d in range(200) if parity(d) == 1][:2]
    docs = spark.createDataFrame(
        [(d, "s1", "en", "p q r") for d in eval_ids],
        "doc_id long, source string, lang string, text string")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    r = tx.corpus_heldout_bigram_eval(spark, "ignored").first()
    assert (r.n_eval_bigrams, r.n_oov_ctx) == (4, 4)
    assert r.avg_logprob == 0.0


def test_stream_ann_ingest_equals_batch_assignment(spark, sf_dir):
    """The streamed ingest's final list store must equal the one-shot
    batch assignment of every streamed vector to the same corpus-trained
    quantizer — lost batches, double-appends, or a drifted quantizer
    snapshot all break this identity."""
    from hdfs_with_pyspark_spark.streaming import ops as so
    got = {(r.vec_id, r.cid)
           for r in so.stream_ann_ingest(spark, sf_dir).collect()}
    cent = spark.createDataFrame(
        sim.train_incr_corpus_centroids(spark, sf_dir),
        "cid long, cv array<double>")
    batch = sim._vectors(spark, sf_dir).where(
        f"vec_id < {sim.INCR_VEC_SPLIT}")
    want = {(r.vec_id, r.cid)
            for r in sim.assign_nearest(batch, cent, kernel="exact").collect()}
    assert got == want


def test_cosine_workspace_bit_identical_to_allocating_form():
    """The buffered rounded-cosine workspace (round 11: the 100M/k=4000
    rung measured the per-batch allocating form page-fault-bound) must
    produce BIT-identical bytes to the expression it replaced,
    including buffer-reuse across differently-sized batches and the
    float32 ingest path. Pure numpy — no Spark session."""
    import numpy as np

    rng = np.random.default_rng(20260817)
    ws = sim._CosineWorkspace()
    for _ in range(4):
        n = int(rng.integers(1, 1500))
        k = int(rng.integers(2, 300))
        d = 16
        v = rng.standard_normal((n, d))
        cmat = rng.standard_normal((k, d))
        if n > 1:
            cmat[0] = -v[1]          # exact opposite: sign edge
        v[0] *= 1e-7                 # near-orthogonal tiny row
        vn = np.sqrt((v * v).sum(axis=1))
        cn = np.sqrt((cmat * cmat).sum(axis=1))
        ref = sim._np_round_half_away(v @ cmat.T / np.outer(vn, cn))
        got = ws.rounded_cosine(v, vn, cmat, cn)
        assert ref.tobytes() == got.tobytes()

    import pandas as pd
    for col in (pd.Series([np.arange(4, dtype=np.float32) + 0.25
                           for _ in range(5)]),
                pd.Series([np.arange(4, dtype=np.float64) + 0.25
                           for _ in range(5)]),
                pd.Series([[1.5, 2.5] for _ in range(3)])):
        m = sim._stack_vectors(col)
        ref = np.array(col.tolist(), dtype=np.float64)
        assert m.dtype == np.float64 and m.tobytes() == ref.tobytes()


def test_nearest_centroid_arrow_equivalence(spark, sf_dir):
    """The vectorized GEMM assignment kernel must agree with the exact
    NLJ kernel on every corpus vector — same cid under the same
    ROUND(cos,6) DESC, cid ASC rule, cos within one 6-dp step."""
    cents = sim.train_incr_corpus_centroids(spark, sf_dir)
    cent_df = spark.createDataFrame(cents, "cid long, cv array<double>")
    v = sim._vectors(spark, sf_dir)
    exact = {r.vec_id: (r.cid, r.cos_sim) for r in
             sim.assign_nearest(v, cent_df, kernel="exact").collect()}
    fast = {r.vec_id: (r.cid, r.cos_sim) for r in
            sim.assign_nearest(v, cents, kernel="arrow").collect()}
    assert set(exact) == set(fast)
    for vid, (cid, cos) in exact.items():
        fcid, fcos = fast[vid]
        assert fcid == cid, (vid, cid, fcid)
        assert abs(fcos - cos) <= 1e-6 + 1e-12


def test_nearest_centroid_kernels_agree_on_ranks_and_ties(spark, sf_dir):
    """Both kernels return identical (id, cid, rank) rows for every
    ``keep`` the IVF queries use, and both break an exact cosine tie on
    the lower cid: a centroid copied under a larger cid ranks directly
    after its original, never before it, and drops out first when
    ``keep`` cuts between the two."""
    v = sim._vectors(spark, sf_dir)
    cents = sim.train_ivf_centroids(spark, sf_dir, k=sim.N_CENTROIDS)
    orig = cents[0][0]
    twin = max(cid for cid, _ in cents) + 1
    tied = cents + [(twin, list(cents[0][1]))]
    n = v.count()

    def rows(c, kernel, keep):
        return sorted((r.vec_id, r.cid, r.rank) for r in
                      sim.assign_nearest(v, c, kernel=kernel, keep=keep)
                      .select("vec_id", "cid", "rank").collect())

    n_ties = 0
    for keep in (1, sim.NPROBE, max(sim.IVF_CURVE_PROBES)):
        exact = rows(cents, "exact", keep)
        assert exact == rows(cents, "arrow", keep)
        assert len(exact) == n * keep
        exact = rows(tied, "exact", keep)
        assert exact == rows(tied, "arrow", keep)
        ranks: dict[int, dict[int, int]] = {}
        for vid, cid, rank in exact:
            ranks.setdefault(vid, {})[cid] = rank
        for r in ranks.values():
            assert sorted(r.values()) == list(range(1, keep + 1))
            if r.get(orig, keep) < keep:
                assert r.get(twin) == r[orig] + 1, r
                n_ties += 1
            else:
                assert twin not in r, r
    assert n_ties > 0


def test_train_kmeans_arrow_kernel_equivalence(spark, sf_dir):
    """Training with the GEMM kernel must reproduce the exact kernel's
    centroids on the gated corpus — same init, same assignment rule,
    means agreeing at the 6-dp snap."""
    v = sim._vectors(spark, sf_dir)
    exact = sim._train_kmeans(v, sim.N_CENTROIDS, sim.KMEANS_ITERS)
    fast = sim._train_kmeans(v, sim.N_CENTROIDS, sim.KMEANS_ITERS,
                             kernel="arrow")
    assert [c for c, _ in exact] == [c for c, _ in fast]
    for (_, ev), (_, fv) in zip(exact, fast):
        assert len(ev) == len(fv)
        for a, b in zip(ev, fv):
            assert abs(a - b) <= 1e-6 + 1e-12


def test_ivfpq_composition_properties(spark, sf_dir):
    """Every IVF+PQ result must (a) lie inside the query's probed IVF
    cells (the pruning really prunes) and (b) carry exactly the
    standalone PQ path's ADC score for that (query, neighbor) — the
    composition changes the candidate set, never the scoring."""
    ivfpq = sim.ann_topk_ivfpq(spark, sf_dir).collect()
    assert ivfpq
    # (a) candidate containment: rebuild the probed-cell membership
    v = sim._vectors(spark, sf_dir)
    cent_df = spark.createDataFrame(
        sim.train_ivf_centroids(spark, sf_dir, k=sim.N_CENTROIDS),
        "cid long, cv array<double>")
    assign = {r.vec_id: r.cid for r in
              sim.assign_nearest(v, cent_df, kernel="exact").collect()}
    probes = {}
    from pyspark.sql import functions as F
    q = v.where(F.col("vec_id") < sim.N_QUERIES)
    c2 = sim._with_norm(cent_df, "cv", "cnv")
    q2 = sim._with_norm(q, "v", "nv")
    cos = F.round(F.expr(sim._sql_dot_cols("v", "cv"))
                  / (F.col("nv") * F.col("cnv")), 6)
    for r in (q2.join(F.broadcast(c2), F.lit(True))
                .select("vec_id", "cid", cos.alias("c")).collect()):
        probes.setdefault(r.vec_id, []).append((r.c, -r.cid))
    probe_cells = {qid: {-nc for _, nc in
                         sorted(vals, reverse=True)[:sim.NPROBE]}
                   for qid, vals in probes.items()}
    for r in ivfpq:
        assert assign[r.neighbor_id] in probe_cells[r.query_id], r
    # (b) score identity vs the standalone ADC scan
    pq = {(r.query_id, r.neighbor_id): r.pq_score
          for r in sim.ann_topk_pq(spark, sf_dir).collect()}
    for r in ivfpq:
        key = (r.query_id, r.neighbor_id)
        if key in pq:
            assert pq[key] == r.pq_score, (key, pq[key], r.pq_score)


def test_ivfpq_arrow_kernel_and_dispatcher_agree(spark, sf_dir):
    """The GEMM-kernel composition (the scale-probe path) must return
    exactly the gated exact composition's rows on the test corpus —
    the kernel-agreement contract extended from argmax assignment to
    the ranked nprobe shape — including when the coarse lists and
    codes are passed in pre-built (the persisted-index query path).
    assign_nearest must give both kernels identical cids and reject
    unknown ones."""
    from pyspark.sql import functions as F

    v = sim._vectors(spark, sf_dir)
    cents = sim.train_ivf_centroids(spark, sf_dir, k=sim.N_CENTROIDS)
    books = sim._pq_codebooks(spark, sf_dir)
    exact = sorted(map(tuple, sim.ivfpq_search(
        spark, v, cents, books, kernel="exact").collect()))
    fast = sorted(map(tuple, sim.ivfpq_search(
        spark, v, cents, books, kernel="arrow").collect()))
    assert exact == fast
    prebuilt = sorted(map(tuple, sim.ivfpq_search(
        spark, v, cents, books, kernel="arrow",
        codes=sim.pq_encode(spark, v, books, kernel="exact"),
        assign=sim.assign_nearest(v, cents, kernel="arrow")).collect()))
    assert exact == prebuilt
    # both kernels, same cids; unknown kernel loud
    ae = {r.vec_id: r.cid
          for r in sim.assign_nearest(v, cents, kernel="exact").collect()}
    aa = {r.vec_id: r.cid
          for r in sim.assign_nearest(v, cents, kernel="arrow").collect()}
    assert ae == aa
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sim.assign_nearest(v, cents, kernel="bogus")
    with _pytest.raises(ValueError):
        sim.ivfpq_search(spark, v, cents, books, kernel="exact",
                         assign=sim.assign_nearest(v, cents, kernel="arrow"))


def test_pq_refine_never_loses_recall(spark, sf_dir):
    """The re-rank stage's defining guarantee: a brute-force-true
    neighbor inside the ADC top-K is inside the R-shortlist, and within
    the shortlist the exact re-rank can only be displaced by vectors
    with strictly higher true cosine — of which fewer than K exist for
    a true top-K member. So per query, refined hits are a SUPERSET of
    plain-PQ hits and refine_gain >= 0 always."""
    rows = sim.ann_pq_refine_recall_eval(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["refine_gain"] >= 0, r
        assert r["n_hit_refined"] >= r["n_hit_pq"], r
    # containment, not just counts: pq's true hits all survive refine
    bf = {(r.query_id, r.neighbor_id)
          for r in sim.ann_topk_bruteforce(spark, sf_dir).collect()}
    pq_hits = {(r.query_id, r.neighbor_id)
               for r in sim.ann_topk_pq(spark, sf_dir).collect()} & bf
    ref_hits = {(r.query_id, r.neighbor_id)
                for r in sim.ann_topk_pq_refine(spark, sf_dir).collect()} & bf
    assert pq_hits <= ref_hits


def test_filtered_search_label_semantics(spark, sf_dir):
    """Every filtered-search hit must share the query's label, and the
    composed filter must beat the classic broken alternative (label-
    blind top-K then post-filter) — the trap the query exists to avoid:
    post-filtering returns only whatever same-label rows happened to
    rank in the global top-K."""
    from hdfs_with_pyspark_spark.sources.io import read_table
    from pyspark.sql import functions as F

    labels = {r.vec_id: r.label
              for r in read_table(spark, sf_dir, "embeddings")
              .select("vec_id", F.col("label").cast("long").alias("label"))
              .collect()}
    out = sim.ann_topk_ivf_filtered(spark, sf_dir).collect()
    assert out
    for r in out:
        assert labels[r.query_id] == r.label == labels[r.neighbor_id], r
    # the label-blind IVF top-K, post-filtered to the query's label,
    # finds strictly fewer same-label neighbors in aggregate
    blind = sim.ann_topk_ivf(spark, sf_dir).collect()
    post = sum(1 for r in blind
               if labels[r.neighbor_id] == labels[r.query_id])
    assert len(out) > post, (len(out), post)


# ------------------------------------------- round-9 wave-3 additions

def test_method_agreement_partitions_pair_sets(spark, sf_dir):
    """The 5 categories partition the union of the two (shared-id-
    restricted) pair sets: both + the two text_only splits = |text
    pairs|, both + the two embedding_only splits = |embedding pairs|;
    spine always 5 rows. The splits (ADVICE r9) separate genuine method
    disagreement from the other method's LSH candidate miss: a
    cand_miss pair's directly-verified opposite score clears that
    method's own threshold, a disagree pair's does not."""
    from hdfs_with_pyspark_spark.sources.io import read_table

    out = {r["category"]: r for r in
           sim.dedup_method_agreement(spark, sf_dir).collect()}
    assert set(out) == {"both", "text_only_disagree", "text_only_cand_miss",
                        "embedding_only_disagree",
                        "embedding_only_cand_miss"}
    shared = (sim._vectors(spark, sf_dir).select(F.col("vec_id").alias("id"))
              .join(read_table(spark, sf_dir, "documents")
                    .select(F.col("doc_id").alias("id")), "id"))
    tp = (dd.dedup_minhash_lsh(spark, sf_dir)
          .join(shared.withColumnRenamed("id", "doc_a"), "doc_a")
          .join(shared.withColumnRenamed("id", "doc_b"), "doc_b").count())
    ep = (sim.dedup_embedding_lsh(spark, sf_dir)
          .join(shared.withColumnRenamed("id", "vec_a"), "vec_a")
          .join(shared.withColumnRenamed("id", "vec_b"), "vec_b").count())
    t_only = (out["text_only_disagree"]["n_pairs"]
              + out["text_only_cand_miss"]["n_pairs"])
    e_only = (out["embedding_only_disagree"]["n_pairs"]
              + out["embedding_only_cand_miss"]["n_pairs"])
    assert out["both"]["n_pairs"] + t_only == tp
    assert out["both"]["n_pairs"] + e_only == ep
    # every row now carries BOTH modality scores (reported or directly
    # verified), and the split is consistent with each method's gate
    cos_gate = int(round(sim.COSINE_DUP_THRESHOLD * 1e6))
    jac_gate = int(round(dd.JACCARD_THRESHOLD * 1e6))
    miss = out["text_only_cand_miss"]
    if miss["n_pairs"]:
        assert miss["sum_cos_e6"] >= miss["n_pairs"] * cos_gate
    dis = out["text_only_disagree"]
    if dis["n_pairs"]:
        assert dis["sum_cos_e6"] < dis["n_pairs"] * cos_gate
    emiss = out["embedding_only_cand_miss"]
    if emiss["n_pairs"]:
        assert emiss["sum_jaccard_e6"] >= emiss["n_pairs"] * jac_gate
    edis = out["embedding_only_disagree"]
    if edis["n_pairs"]:
        # <= (not <): a raw jaccard just below the gate may e6-round
        # onto it; the gate itself compares the raw ratio
        assert edis["sum_jaccard_e6"] <= edis["n_pairs"] * jac_gate


def test_logreg_infer_decile_calibration_shape(spark, sf_dir):
    """Equal-frequency deciles: doc counts cover the corpus, bins are
    balanced up to tie granularity, and mean predicted probability is
    nondecreasing in the bin index (bins are ordered by score)."""
    from hdfs_with_pyspark_spark.llm import text as tx
    from hdfs_with_pyspark_spark.sources.io import read_table

    rows = sorted(tx.quality_logreg_infer(spark, sf_dir).collect(),
                  key=lambda r: r["p_bin"])
    n_corpus = read_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_corpus
    assert all(0 <= r["p_bin"] <= 9 for r in rows)
    means = [r["mean_p_ppm"] for r in rows]
    assert means == sorted(means)
    for r in rows:
        assert 0 <= r["n_pos"] <= r["n_docs"]
        assert r["pos_rate_ppm"] == 1_000_000 * r["n_pos"] // r["n_docs"]


def test_lsh_planner_matches_closed_form_and_is_monotone(spark, sf_dir):
    """p_at_threshold matches the closed-form S-curve; with the hash
    budget fixed, recall is monotone decreasing in rows-per-band."""
    rows = {(r["bands"], r["n_rows"]): r
            for r in dd.dedup_lsh_param_planner(spark, sf_dir).collect()}
    assert set(rows) == set(dd.LSH_PLANNER_GRID)
    n_truth = dd.dedup_ngram_jaccard(spark, sf_dir).count()
    for (b, r), row in rows.items():
        assert row["n_pairs"] == n_truth
        want = round((1.0 - (1.0 - dd.JACCARD_THRESHOLD ** r) ** b) * 1e6)
        assert abs(row["p_at_threshold_e6"] - want) <= 1
        jh = round((1.0 - 0.5 ** (1.0 / b)) ** (1.0 / r) * 1e6)
        assert abs(row["j_half_e6"] - jh) <= 1
    recalls = [rows[g]["expected_recall_ppm"] for g in dd.LSH_PLANNER_GRID]
    assert recalls == sorted(recalls, reverse=True)  # (32,1) best ... (1,32) worst


def test_ivfpq_refine_never_loses_recall(spark, sf_dir):
    """Within the shared IVF candidate set, exact re-ranking of the ADC
    shortlist can only keep or improve true-neighbor recall: every
    brute-force-true hit in the ADC top-K survives into the refined
    top-K (the refine-gain >= 0 property, IVF+PQ composition)."""
    adc = {(r["query_id"], r["neighbor_id"])
           for r in sim.ann_topk_ivfpq(spark, sf_dir).collect()}
    ref = {(r["query_id"], r["neighbor_id"])
           for r in sim.ann_topk_ivfpq_refine(spark, sf_dir).collect()}
    bf = {(r["query_id"], r["neighbor_id"])
          for r in sim.ann_topk_bruteforce(spark, sf_dir).collect()}
    assert (adc & bf) <= ref
    ev = sim.ann_ivfpq_refine_recall_eval(spark, sf_dir).collect()
    assert all(r["refine_gain"] >= 0 for r in ev)
    assert all(r["n_hit_refined"] >= r["n_hit_ivfpq"] for r in ev)


def test_pq_encode_arrow_kernel_equivalence(spark, sf_dir):
    """The GEMM encode twin produces the IDENTICAL codes frame as the
    exact window encode on the gated corpus (the assign_nearest
    equivalence contract, extended to the PQ index build)."""
    v = sim._vectors(spark, sf_dir)
    books = sim._pq_codebooks(spark, sf_dir)
    exact = sim.pq_encode(spark, v, books, kernel="exact")
    fast = sim.pq_encode(spark, v, books, kernel="arrow")
    cols = [f"code{s}" for s in range(sim.PQ_SUB)]
    joined = exact.alias("e").join(fast.alias("f"), "vec_id")
    n = v.count()
    assert joined.count() == n
    mismatch = joined.where(
        " OR ".join(f"e.{c} <> f.{c}" for c in cols)).count()
    assert mismatch == 0


def test_ivfpq_store_prune_cells_equivalence(spark, sf_dir, tmp_path):
    """Querying through a cell-partitioned persisted store with the
    probed-cid partition filter (prune_cells) returns the IDENTICAL
    top-K as the unpruned path — pruning removes only cells no query
    probes, never a candidate."""
    v = sim._vectors(spark, sf_dir)
    cents = sim.train_ivf_centroids(spark, sf_dir, k=sim.N_CENTROIDS)
    books = sim._pq_codebooks(spark, sf_dir)
    store_path = str(tmp_path / "store")
    lists = sim.assign_nearest(v, cents, kernel="arrow") \
               .select("vec_id", "cid")
    lists.join(sim.pq_encode(spark, v, books, kernel="arrow"), "vec_id") \
         .write.mode("overwrite").partitionBy("cid").parquet(store_path)
    store = spark.read.parquet(store_path)
    base = sim.ivfpq_search(spark, v, cents, books, kernel="arrow",
                            codes=store,
                            assign=store.select("vec_id", "cid")).collect()
    pruned = sim.ivfpq_search(spark, v, cents, books, kernel="arrow",
                              codes=store,
                              assign=store.select("vec_id", "cid"),
                              prune_cells=True).collect()
    key = lambda rows: {(r["query_id"], r["neighbor_id"], r["rank"])
                        for r in rows}
    assert key(pruned) == key(base)
    assert len(pruned) > 0


def test_pq_topk_is_shortlist_prefix(spark, sf_dir):
    """r11 eval restructure invariant: ann_topk_pq's pair set equals the
    rank <= TOP_K prefix of the PQ_REFINE_R ADC shortlist (same scored
    set, same ordering) — what lets the refine recall evals score both
    arms from ONE scored pass."""
    from hdfs_with_pyspark_spark.llm.similarity import (
        TOP_K, _pq_adc_shortlist, ann_topk_pq)

    short = _pq_adc_shortlist(spark, sf_dir)
    prefix = {(r["query_id"], r["vec_id"], r["rank"])
              for r in short.where(F.col("rank") <= TOP_K).collect()}
    topk = {(r["query_id"], r["neighbor_id"], r["rank"])
            for r in ann_topk_pq(spark, sf_dir).collect()}
    assert prefix == topk and len(topk) > 0


def test_ivfpq_topk_is_shortlist_prefix(spark, sf_dir):
    """Twin of test_pq_topk_is_shortlist_prefix for the IVF+PQ arm
    (ADVICE r11): ann_topk_ivfpq's pair set equals the rank <= TOP_K
    prefix of ivfpq_search(top_k=PQ_REFINE_R, kernel='exact') — the
    untested half of the claim that lets ann_ivfpq_refine_recall_eval
    score both arms from one shortlist (top_k must not affect candidate
    generation or ordering)."""
    from hdfs_with_pyspark_spark.llm.similarity import (
        N_CENTROIDS, PQ_REFINE_R, TOP_K, _pq_codebooks, _vectors,
        ann_topk_ivfpq, ivfpq_search, train_ivf_centroids)

    short = ivfpq_search(spark, _vectors(spark, sf_dir),
                         train_ivf_centroids(spark, sf_dir, k=N_CENTROIDS),
                         _pq_codebooks(spark, sf_dir),
                         top_k=PQ_REFINE_R, kernel="exact")
    prefix = {(r["query_id"], r["neighbor_id"], r["rank"])
              for r in short.where(F.col("rank") <= TOP_K).collect()}
    topk = {(r["query_id"], r["neighbor_id"], r["rank"])
            for r in ann_topk_ivfpq(spark, sf_dir).collect()}
    assert prefix == topk and len(topk) > 0


def test_dedup_components_lineage_truncated(spark, sf_dir):
    """r11: the converged label frame is localCheckpoint'd, so composers
    inherit a plan rooted at the materialized RDD instead of the full
    iterative propagation lineage (guide §3.3; the r11-open
    dedup_cross_source_matrix plan was 107k lines)."""
    from hdfs_with_pyspark_spark.llm.dedup import dedup_components

    comp = dedup_components(spark, sf_dir)
    plan = comp._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    # The whole composed plan must stay small — the pre-checkpoint form
    # exceeded tens of thousands of lines through composers.
    assert len(plan.splitlines()) < 200
    # and the result is still a well-formed clustering
    rows = comp.collect()
    assert len(rows) > 0
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component_id"], set()).add(r["doc_id"])
    for cid, members in by_comp.items():
        assert cid == min(members)  # min-label fixpoint
