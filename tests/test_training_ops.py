"""Training-data operators: dedup, similarity, text stats, multimodal
plumbing, and the checkpoint/lineage resume layer."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import linguistjs_spark.operators.dedup as DD
import linguistjs_spark.operators.similarity as SIM
import linguistjs_spark.operators.text_stats as TS
from linguistjs_spark.operators.multimodal import extract_media_features, synthetic_media_df

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    # planted exact duplicates must collapse to the min id
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    d = DD.exact_dedup(docs.unionByName(dup))
    base = docs.count()
    assert d.count() == spark.read.parquet(f"{SF}/documents.parquet").select(
        DD.normalized_text(F.col("text")).alias("t")
    ).distinct().count()
    assert d.filter(F.col("n_copies") >= 2).count() >= 1
    # representative is the min doc_id, never the planted 1M+ copy
    assert d.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_minhash_finds_planted_near_dups(spark, docs):
    # append a lightly mutated copy of doc 0: high Jaccard expected
    base_text = docs.filter("doc_id = 0").collect()[0]["text"]
    mutated = base_text + " tail tail"
    extra = spark.createDataFrame(
        [(9_000_000, mutated, "en", "srcX", len(mutated))],
        schema=docs.schema,
    )
    pairs = DD.minhash_dedup_pairs(docs.unionByName(extra), threshold=0.6)
    hits = pairs.filter((F.col("a") == 0) & (F.col("b") == 9_000_000)).collect()
    assert len(hits) == 1 and hits[0]["jaccard"] >= 0.6


def test_cross_corpus_near_dup(spark, docs):
    # reference carries: an exact twin of doc 0 (two copies, testing the
    # smallest-ref-id tie-break), a lightly mutated twin of doc 1 (near-dup
    # above threshold), and an unrelated doc — which must NOT match
    base0 = docs.filter("doc_id = 0").collect()[0]["text"]
    base1 = docs.filter("doc_id = 1").collect()[0]["text"]
    ref_rows = [
        (100, base0), (101, base0),          # exact twins, tie -> ref 100
        (102, base1 + " tail tail"),          # near-dup of doc 1
        (103, "completely unrelated reference words " * 10),
    ]
    reference = spark.createDataFrame(ref_rows, "doc_id long, text string")
    corpus = docs.filter("doc_id < 5").select("doc_id", "text")
    got = {r.doc_id: r for r in DD.cross_corpus_near_dup(
        corpus, reference, threshold=0.6).collect()}
    assert got[0].ref_id == 100 and got[0].jaccard == 1.0  # tie-break
    assert got[1].ref_id == 102 and 0.6 <= got[1].jaccard < 1.0
    assert set(got) == {0, 1}  # docs 2-4 match nothing


def test_minhash_verify_matches_exact_jaccard(spark, docs):
    # LSH-surfaced pairs carry the EXACT shingle Jaccard (verified join)
    sigs = DD.with_minhash(docs.limit(50))
    rows = {r["doc_id"]: set(r["shingles"]) for r in sigs.collect()}
    pairs = DD.jaccard_verify(
        DD.lsh_candidate_pairs(sigs), sigs, threshold=0.0
    ).collect()
    for p in pairs:
        a, b = rows[p["a"]], rows[p["b"]]
        exact = len(a & b) / len(a | b)
        assert abs(p["jaccard"] - exact) < 1e-9


def test_simhash_identical_and_near(spark, docs):
    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    sims = DD.with_simhash(docs.unionByName(dup))
    pairs = DD.simhash_near_pairs(sims, max_hamming=0)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    for i in range(3):
        assert (i, i + 1_000_000) in got or any(a == i or b == i for a, b in got)


def test_bruteforce_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = mat[ids == 0][0]
    cos = mat @ q / np.sqrt((mat * mat).sum(1) * (q @ q))
    order = np.lexsort((ids, -cos))
    expect = list(ids[order][:10])
    got = [r["vec_id"] for r in SIM.brute_force_topk(emb, list(q), k=10).collect()]
    assert got == expect


def test_lsh_topk_recall(spark, emb):
    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = mat[ids == 3][0]
    cos = mat @ q / np.sqrt((mat * mat).sum(1) * (q @ q))
    truth = set(ids[np.lexsort((ids, -cos))][:10])
    idx = SIM.with_lsh_buckets(emb, bits=8)
    got = {r["vec_id"] for r in SIM.lsh_topk(idx, list(q), k=10, bits=8,
                                             probe_hamming=3).collect()}
    # approximate: require decent recall of the true top-10
    assert len(got & truth) >= 5


def test_embedding_near_dup_pairs(spark, emb):
    dup = emb.limit(2).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    pairs = SIM.embedding_near_dup_pairs(emb.unionByName(dup), threshold=0.999,
                                         bits=8)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (0, 1_000_000) in got and (1, 1_000_001) in got


def test_doc_stats_columns(spark, docs):
    st = TS.doc_stats(docs.limit(20)).collect()
    for r in st:
        words = [w for w in r["text"].split() if w]
        assert r["n_tokens"] == len(words)
        assert r["n_bytes"] == len(r["text"].encode("utf-8"))
        assert r["n_bpe_tokens"] >= r["n_tokens"]


def test_media_feature_plumbing(spark):
    media = synthetic_media_df(spark, 30)
    feats = extract_media_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["feature"]) == 16
        assert r["n_bytes"] > 0
    with pytest.raises(Exception):
        extract_media_features(media, fake=False).collect()


@pytest.mark.skipif(
    not __import__(
        "linguistjs_spark.operators.multimodal", fromlist=["x"]
    ).real_image_decode_available(),
    reason="Pillow not importable in this environment",
)
def test_media_real_pil_decode(spark):
    # VERDICT r02 item 9: when Pillow IS present the fake must not be used —
    # width/height come from the actual decoded image, and the contract
    # (FEATURE_SCHEMA, 16-float feature) is unchanged
    import io

    from PIL import Image

    def png(w, h, shade):
        img = Image.new("L", (w, h), color=shade)
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()

    rows = [(1, png(5, 3, 0), "image", None, None, None),
            (2, png(8, 2, 255), "image", None, None, None)]
    from linguistjs_spark.operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {r.doc_id: r for r in
           extract_media_features(media, fake=False).collect()}
    assert (got[1].feat_width, got[1].feat_height) == (5, 3)
    assert (got[2].feat_width, got[2].feat_height) == (8, 2)
    for r in got.values():
        assert len(r.feature) == 16
        assert abs(sum(r.feature) - 1.0) < 1e-6
    # all-black image: every pixel lands in histogram bin 0
    assert got[1].feature[0] == pytest.approx(1.0)
    # all-white: bin 15
    assert got[2].feature[15] == pytest.approx(1.0)


def test_image_near_dup_planted_pairs(spark):
    # aHash hamming near-dup: each planted pair differs at one pixel whose
    # value straddles the mean, so its hashes differ in exactly one bit
    from linguistjs_spark.operators.multimodal import image_near_dup

    media = synthetic_media_df(spark, 64, plant_near_dups=6)
    pairs = {(r.a, r.b): r.hamming
             for r in image_near_dup(media, max_hamming=3, fake=True).collect()}
    for p in range(6):
        assert pairs.get((1000 + 2 * p, 1001 + 2 * p)) == 1
    # exhaustive twin agreement (also proves the pigeonhole join is lossless)
    from linguistjs_spark.ann_twin import image_near_dup_expected

    expected = {(a, b): h for a, b, h in image_near_dup_expected(64, 6, 3)}
    assert pairs == expected
    # non-image rows never reach the hash kernel
    assert all(a >= 1000 or a % 3 == 0 for a, _ in pairs)


@pytest.mark.skipif(
    not __import__(
        "linguistjs_spark.operators.multimodal", fromlist=["x"]
    ).real_image_decode_available(),
    reason="Pillow not importable in this environment",
)
def test_image_near_dup_real_pil_path(spark):
    # real decode path: identical images collide (hamming 0); a flat image
    # vs its one-quadrant-inverted variant lands far apart (> 3)
    import io

    from PIL import Image

    from linguistjs_spark.operators.multimodal import MEDIA_SCHEMA, image_near_dup

    def png(pixels):
        img = Image.new("L", (16, 16))
        img.putdata(pixels)
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()

    # gradient image: halves split dark/bright so the thumbnail has
    # structure (an all-constant image hashes to 0 everywhere)
    grad = [0 if (i // 16) < 8 else 255 for i in range(256)]
    flipped = [255 - v for v in grad]
    rows = [(1, png(grad), "image", None, None, None),
            (2, png(grad), "image", None, None, None),
            (3, png(flipped), "image", None, None, None)]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {(r.a, r.b): r.hamming
           for r in image_near_dup(media, max_hamming=3, fake=False).collect()}
    assert got == {(1, 2): 0}


def _wav_bytes(rate, n_ch, n_frames, sampwidth=2, loud_16th=None):
    """Deterministic PCM WAV: silence, with one 16th of the timeline at
    full square-wave amplitude when loud_16th is given (integer samples —
    no float synthesis, so the payload is platform-exact)."""
    import io
    import wave

    lo, hi = n_frames * (loud_16th or 0) // 16, n_frames * ((loud_16th or 0) + 1) // 16
    amp = {1: 100, 2: 20000, 3: 2**22, 4: 2**30}[sampwidth]
    frames = bytearray()
    for i in range(n_frames):
        v = (amp if i % 2 else -amp) if (loud_16th is not None and lo <= i < hi) else 0
        if sampwidth == 1:
            v = v + 128  # 8-bit WAV is unsigned
        frames += int(v).to_bytes(sampwidth, "little", signed=(sampwidth != 1)) * n_ch
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_ch)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_media_real_wav_decode(spark):
    # audio decode is real for PCM WAV via the stdlib wave module: true
    # rate/channels/frames, and the 16-slice RMS envelope localizes energy
    from linguistjs_spark.operators.multimodal import MEDIA_SCHEMA, is_wav

    rows = [
        (1, _wav_bytes(8000, 1, 1600, sampwidth=2, loud_16th=3), "audio",
         None, None, None),
        (2, _wav_bytes(16000, 2, 320, sampwidth=1, loud_16th=None), "audio",
         None, None, None),
    ]
    assert all(is_wav(r[1]) for r in rows)
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {r.doc_id: r for r in
           extract_media_features(media, fake=False).collect()}
    assert (got[1].feat_width, got[1].feat_height, got[1].frame_count) == \
        (8000, 1, 1600)
    assert (got[2].feat_width, got[2].feat_height, got[2].frame_count) == \
        (16000, 2, 320)
    f1 = got[1].feature
    assert len(f1) == 16 and f1[3] == pytest.approx(1.0)
    assert all(v == 0.0 for i, v in enumerate(f1) if i != 3)
    assert got[2].feature == [0.0] * 16  # pure silence
    # 24-bit PCM fails loud rather than mis-scoring (no numpy 3-byte dtype)
    bad = spark.createDataFrame(
        [(3, _wav_bytes(8000, 1, 32, sampwidth=3), "audio", None, None, None)],
        schema=MEDIA_SCHEMA)
    with pytest.raises(Exception, match="24-bit"):
        extract_media_features(bad, fake=False).collect()


def test_resumable_run_idempotent(spark, tmp_path):
    from linguistjs_spark.streaming.resume import read_labels, resumable_run
    from linguistjs_spark.sources.pages import pages_df

    out = str(tmp_path)
    pages_df(spark, n_bulk=80).write.mode("overwrite").parquet(out + "/pages")
    pg = spark.read.parquet(out + "/pages")

    with pytest.raises(RuntimeError):
        resumable_run(spark, pg, out + "/run", num_buckets=4, fail_after=2)
    r2 = resumable_run(spark, pg, out + "/run", num_buckets=4)
    assert sorted(r2["processed"] + r2["skipped"]) == [0, 1, 2, 3]
    assert len(r2["skipped"]) == 2  # first run's completed buckets not redone
    assert read_labels(spark, out + "/run").count() == pg.count()
    # third run: everything skipped (fully idempotent)
    r3 = resumable_run(spark, pg, out + "/run", num_buckets=4)
    assert r3["processed"] == [] and len(r3["skipped"]) == 4


def test_resume_fails_loudly_on_unreadable_lineage(spark, tmp_path):
    """A corrupt _lineage must stop the run, not read as "nothing done"
    and silently reprocess every bucket; a missing or empty one is a fresh
    start."""
    import glob
    import os

    from linguistjs_spark.streaming.resume import completed_buckets, resumable_run
    from linguistjs_spark.sources.pages import pages_df

    out = str(tmp_path)
    assert completed_buckets(spark, out + "/run/_lineage", "any") == set()
    os.makedirs(out + "/empty/_lineage/_temporary")
    assert completed_buckets(spark, out + "/empty/_lineage", "any") == set()
    pages_df(spark, n_bulk=20).write.mode("overwrite").parquet(out + "/pages")
    pg = spark.read.parquet(out + "/pages")

    with pytest.raises(RuntimeError, match="injected failure"):
        resumable_run(spark, pg, out + "/run", num_buckets=4, fail_after=2)
    files = glob.glob(out + "/run/_lineage/*.parquet")
    assert files
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        resumable_run(spark, pg, out + "/run", num_buckets=4)


def test_ivf_topk_recall(spark, emb):
    import numpy as np

    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = mat[ids == 7][0]
    cos = mat @ q / np.sqrt((mat * mat).sum(1) * (q @ q))
    truth = set(ids[np.lexsort((ids, -cos))][:10])

    cents = SIM.ivf_centroids(emb, n_centroids=8)
    idx = SIM.with_ivf_buckets(emb, cents)
    # every vector lands in exactly one bucket
    assert idx.count() == len(rows)
    got = {r["vec_id"] for r in SIM.ivf_topk(idx, cents, list(q), k=10,
                                             n_probe=4).collect()}
    assert len(got & truth) >= 5


def test_minhash_survives_bucket_skew(spark):
    """Pathological LSH skew: 300 near-identical docs collapse into the
    same band buckets, producing one giant candidate bucket (~45k pairs).
    The pass must complete and the exact-Jaccard verify must confirm the
    planted near-duplicates — the small-scale shape of AQE skew handling
    on the bucket self-join."""
    from linguistjs_spark.operators import dedup as DD

    base = "the quick brown fox jumps over the lazy dog " * 20
    rows = [(i, base + f"tail marker {i % 5}") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = DD.minhash_dedup_pairs(docs, threshold=0.8)
    n = pairs.count()
    # every same-tail pair is a true near-dup (60 docs per tail group);
    # cross-tail pairs also exceed 0.8 jaccard given the shared 180-word base
    assert n >= 5 * (60 * 59 // 2), n


def test_near_dup_multiprobe_recovers_boundary_pair(spark, emb):
    """A near-dup whose projection on one hyperplane is ~zero lands one bit
    away from its twin; single-bucket joins miss it (VERDICT r01 #7). The
    boundary twin is constructed deterministically by reflecting a real
    vector across its weakest hyperplane (smallest |projection|): the
    reflection flips exactly that plane's sign while barely moving the
    vector (cosine stays ~1), using the python hash twin to compute the
    plane components without a Spark roundtrip."""
    import numpy as np

    from linguistjs_spark.hash_twin import oracle_lsh_plane_component

    bits = 8
    base = emb.filter(F.col("vec_id") == 5).collect()[0]
    v = np.array(base["embedding"], dtype=np.float64)
    planes = np.array(
        [[oracle_lsh_plane_component(i, j) for i in range(len(v))]
         for j in range(bits)]
    )
    projs = planes @ v
    j = int(np.argmin(np.abs(projs)))
    p = planes[j]
    refl = v - 2.0 * projs[j] / (p @ p) * p
    cos = float(v @ refl / np.sqrt((v @ v) * (refl @ refl)))
    assert cos > 0.95  # reflection across a near-orthogonal plane barely moves v

    planted = spark.createDataFrame(
        [(1_000_005, [float(x) for x in refl])], "vec_id long, embedding array<float>"
    ).withColumn("label", F.lit("planted"))
    both = emb.unionByName(planted, allowMissingColumns=True)
    idx = SIM.with_lsh_buckets(both, bits=bits)
    buckets = {r["vec_id"]: r["bucket"] for r in
               idx.filter(F.col("vec_id").isin(5, 1_000_005)).collect()}
    assert bin(buckets[5] ^ buckets[1_000_005]).count("1") == 1  # truly boundary

    got = {(r["a"], r["b"]) for r in SIM.embedding_near_dup_pairs(
        both, threshold=0.95, bits=bits, probe_hamming=1).collect()}
    assert (5, 1_000_005) in got
    # and with probing disabled the pair is invisible — the hole the fix closes
    got0 = {(r["a"], r["b"]) for r in SIM.embedding_near_dup_pairs(
        both, threshold=0.95, bits=bits, probe_hamming=0).collect()}
    assert (5, 1_000_005) not in got0


def test_duplicated_span_stats_planted(spark, docs):
    # a planted full copy duplicates every span of its source; an untouched
    # unique long doc should not be 100% duplicated against this corpus
    corpus = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") < 3).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    out = DD.duplicated_span_stats(corpus, n=20)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == docs.count() + 3
    for i in range(3):
        assert rows[i]["dup_ratio_ppm"] == 1_000_000
        assert rows[i + 1_000_000]["n_spans"] == rows[i]["n_spans"]
    # ratio bounds + distinct-span accounting hold everywhere
    for r in rows.values():
        assert 0 <= r["n_dup_spans"] <= r["n_spans"]


def test_dsir_twin_parity_and_direction(spark, docs):
    from linguistjs_spark.operators import training_select as TSEL

    target = docs.filter(F.col("source").isin("src0", "src1"))
    w = TSEL.fit_dsir_weights(target, docs, buckets=512)
    rows = docs.select("doc_id", "text", "source").collect()
    tw = TSEL.twin_fit_weights(
        [r["text"] for r in rows if r["source"] in ("src0", "src1")],
        [r["text"] for r in rows],
        512,
    )
    assert tw == w  # identical integer counts -> identical IEEE doubles
    scored = {r["doc_id"]: r for r in TSEL.dsir_scores(docs, w).collect()}
    for r in rows:
        exp = TSEL.twin_score(r["text"], tw)
        assert scored[r["doc_id"]]["dsir_score"] == exp  # bit-exact fold
    # direction: target-slice docs must average higher than the rest
    t_scores = [scored[r["doc_id"]]["dsir_score"] for r in rows
                if r["source"] in ("src0", "src1")]
    o_scores = [scored[r["doc_id"]]["dsir_score"] for r in rows
                if r["source"] not in ("src0", "src1")]
    assert sum(t_scores) / len(t_scores) > sum(o_scores) / len(o_scores)


def test_semantic_dedup_drops_planted_copies(spark, emb):
    from linguistjs_spark.ann_twin import semantic_dedup_expected

    planted = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.25)).alias("embedding"),
    )
    union = emb.select("vec_id", "embedding").unionByName(planted)
    cents = SIM.ivf_centroids(union, n_centroids=8)
    got = [
        (r["vec_id"], r["centroid"], r["keep"], r["dup_of"])
        for r in SIM.semantic_dedup(union, cents, threshold=0.95)
        .orderBy("vec_id").collect()
    ]
    assert got == semantic_dedup_expected(SF, n_centroids=8, threshold=0.95)
    dropped = {v: d for v, _, k, d in got if not k}
    # every planted copy lost to its original (cosine-preserving scale)
    assert dropped == {i + 1_000_000: i for i in range(8)}


def test_resumable_training_mix_crash_idempotent(spark, tmp_path):
    """Crash-injection over the COMPOSED pipeline (VERDICT r03 item 9):
    dedup -> decontam -> stratified sample, checkpointed per fingerprint
    bucket. A crashed run resumes without redoing finished buckets, and
    the final mix is row-identical to the one-shot composed plan (the
    fingerprint-aligned bucketing makes per-bucket dedup globally
    correct)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from linguistjs_spark.operators.decontam import contamination_flags
    from linguistjs_spark.operators.sampling import stratified_sample
    from linguistjs_spark.streaming.resume import (
        resumable_training_mix,
        training_mix_rollup,
    )

    langs = ["en", "de", "fr", "es"]
    rows = [
        (i, langs[i % 4], f"document body {i % 37} with shared tail")
        for i in range(200)  # i%37 -> exact duplicates across buckets
    ]
    out = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).write.mode("overwrite").parquet(out + "/docs")
    docs = spark.read.parquet(out + "/docs")
    fracs = {"en": 0.9, "de": 0.6, "fr": 0.6, "es": 0.4}

    with pytest.raises(RuntimeError):
        resumable_training_mix(
            spark, docs, out + "/mix", fracs, num_buckets=4, fail_after=2)
    r2 = resumable_training_mix(
        spark, docs, out + "/mix", fracs, num_buckets=4)
    assert len(r2["skipped"]) == 2 and sorted(
        r2["processed"] + r2["skipped"]) == [0, 1, 2, 3]
    r3 = resumable_training_mix(
        spark, docs, out + "/mix", fracs, num_buckets=4)
    assert r3["processed"] == [] and len(r3["skipped"]) == 4

    # one-shot composed plan on the same input (the q_training_mix shape)
    w = Window.partitionBy(F.xxhash64("text")).orderBy("doc_id")
    winners = (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1).drop("_rn")
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    clean = contamination_flags(winners, bench, n=13).filter(
        ~F.col("is_contaminated"))
    expect = sorted(
        (r.doc_id for r in stratified_sample(
            clean, fracs, strata_col="lang", key_col="doc_id", seed=7
        ).collect())
    )
    got = sorted(
        r.doc_id
        for r in spark.read.parquet(out + "/mix/mix").collect()
    )
    assert got == expect and len(got) > 0
    mix = {r.lang: r.n_docs for r in
           training_mix_rollup(spark, out + "/mix").collect()}
    assert set(mix) <= set(langs) and sum(mix.values()) == len(got)
