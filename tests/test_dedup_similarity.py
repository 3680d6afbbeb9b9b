"""Dedup suite + similarity search tests with planted duplicates."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawlingathome_server_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    """80 base docs + planted exact dups + planted near-dups."""
    rng = np.random.RandomState(5)
    vocab = [f"w{i}" for i in range(120)]
    rows = []
    for i in range(80):
        words = [vocab[j] for j in rng.randint(0, 120, 40)]
        rows.append((i, " ".join(words)))
    # exact dups: 100..104 copy 0..4
    for i in range(5):
        rows.append((100 + i, rows[i][1]))
    # near dups: 200..204 = docs 10..14 with 2 words changed
    for i in range(5):
        words = rows[10 + i][1].split()
        words[3], words[17] = "zzz", "qqq"
        rows.append((200 + i, " ".join(words)))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup_finds_planted(spark, docs):
    out = dedup.exact_dedup(docs).filter(F.col("n_copies") > 1).collect()
    dup_keepers = sorted(r["keeper_doc_id"] for r in out)
    assert dup_keepers == [0, 1, 2, 3, 4]
    assert all(r["n_copies"] == 2 for r in out)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = dedup.minhash_dedup(docs, threshold=0.5).collect()
    got = {(r["a"], r["b"]) for r in pairs} | {(r["b"], r["a"]) for r in pairs}
    for i in range(5):
        assert (10 + i, 200 + i) in got, f"near-dup pair {10+i}/{200+i} missed"
    for i in range(5):
        assert (i, 100 + i) in got, f"exact pair {i}/{100+i} missed"
    # jaccard sanity: exact dups score 1.0
    exact = [r for r in pairs if (r["a"], r["b"]) in {(i, 100 + i) for i in range(5)}
             or (r["b"], r["a"]) in {(i, 100 + i) for i in range(5)}]
    assert all(abs(r["jaccard"] - 1.0) < 1e-9 for r in exact)


def test_minhash_no_false_positives_on_random_docs(spark, docs):
    pairs = dedup.minhash_dedup(docs, threshold=0.5).collect()
    planted = {(i, 100 + i) for i in range(5)} | {(10 + i, 200 + i) for i in range(5)}
    for r in pairs:
        key = (min(r["a"], r["b"]), max(r["a"], r["b"]))
        assert key in planted, f"unexpected dup pair {key} (jaccard={r['jaccard']})"


def test_simhash_finds_near_dups(spark, docs):
    cands = dedup.simhash_candidates(docs, max_hamming=10).collect()
    got = {(min(r["a"], r["b"]), max(r["a"], r["b"])) for r in cands}
    for i in range(5):
        assert (i, 100 + i) in got  # exact dups: hamming 0
    hamming0 = [r for r in cands if r["hamming"] == 0]
    assert len(hamming0) >= 5


def test_ngram_jaccard_on_candidates(spark, docs):
    pairs = spark.createDataFrame(
        [(0, 100), (10, 200), (0, 50)], ["a", "b"]
    )
    out = {(r["a"], r["b"]): r["ngram_jaccard"] for r in
           dedup.ngram_jaccard_pairs(docs, pairs).collect()}
    assert abs(out[(0, 100)] - 1.0) < 1e-9  # exact copy
    assert 0.5 < out[(10, 200)] < 1.0  # near dup
    assert out[(0, 50)] < 0.2  # unrelated


def test_signatures_deterministic_across_partitioning(spark, docs):
    for sketch in (dedup.minhash_signatures, dedup.simhash_signatures):
        s1 = {r[0]: r[1] for r in sketch(docs.repartition(1)).collect()}
        s2 = {r[0]: r[1] for r in sketch(docs.repartition(7)).collect()}
        assert s1 == s2


# --- similarity ------------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(9)
    base = rng.standard_normal((60, 16)).astype(np.float32)
    # planted near-identical pairs: 100+i ≈ i
    near = base[:5] + rng.standard_normal((5, 16)).astype(np.float32) * 0.01
    rows = [(i, base[i].tolist()) for i in range(60)]
    rows += [(100 + i, near[i].tolist()) for i in range(5)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk(spark, vectors):
    probes = vectors.filter(F.col("vec_id") >= 100)
    out = similarity.brute_force_topk(vectors, probes, k=1).collect()
    for r in out:
        assert r["cand_id"] == r["probe_id"] - 100
        assert r["cosine_sim"] > 0.99


def test_lsh_topk_recall_on_planted(spark, vectors):
    probes = vectors.filter(F.col("vec_id") >= 100)
    out = similarity.lsh_topk(vectors, probes, dim=16, k=1, n_planes=16, n_bands=8)
    got = {r["probe_id"]: r["cand_id"] for r in out.collect()}
    hits = sum(got.get(100 + i) == i for i in range(5))
    assert hits >= 4, f"LSH recall too low: {hits}/5"


def test_cosine_near_dup_pairs(spark, vectors):
    pairs = similarity.cosine_near_dup_pairs(
        vectors, dim=16, threshold=0.99, n_planes=16, n_bands=8
    ).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    found = sum(((i, 100 + i) in got or (100 + i, i) in got) for i in range(5))
    assert found >= 4


def test_lsh_is_subset_quality_vs_brute_force(spark, vectors):
    """LSH top-1 cosine ≤ brute-force top-1 cosine (it's approximate),
    and within a reasonable margin on this data."""
    probes = vectors.filter(F.col("vec_id") >= 100)
    bf = {r["probe_id"]: r["cosine_sim"] for r in
          similarity.brute_force_topk(vectors, probes, k=1).collect()}
    lsh = {r["probe_id"]: r["cosine_sim"] for r in
           similarity.lsh_topk(vectors, probes, dim=16, k=1, n_planes=16, n_bands=8).collect()}
    for pid, sim in lsh.items():
        assert sim <= bf[pid] + 1e-9


# --- multimodal ------------------------------------------------------------


def test_multimodal_image_features(spark):
    media = multimodal.gen_media(spark, n=60)
    feats = multimodal.decode_image_features(media, dim=8, fake=True)
    rows = feats.collect()
    n_images = media.filter("kind = 'image'").count()
    assert len(rows) == n_images
    assert all(len(r["features"]) == 8 for r in rows)
    # deterministic: same payload → same features
    again = {r["media_id"]: r["features"] for r in
             multimodal.decode_image_features(media.repartition(5), dim=8, fake=True).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["features"]


def test_multimodal_real_mode_raises_on_compressed(spark):
    """Opaque (compressed-format) payloads still raise without fake=True;
    decodable containers (PPM/WAV/raw streams) never need the fake path."""
    media = multimodal.gen_media(spark, n=10, real_payloads=False)
    with pytest.raises(Exception) as exc_info:
        multimodal.decode_image_features(media, fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or "codec library" in str(
        exc_info.value
    )


def test_multimodal_real_ppm_decode(spark):
    """REAL pixel decode: a solid-color PPM yields exact channel means."""
    import numpy as np

    arr = np.zeros((10, 20, 3), dtype=np.uint8)
    arr[:, :, 0] = 255  # pure red
    row = [(1, "u", "image", multimodal.encode_ppm(arr), "image/x-portable-pixmap",
            20, 10, None)]
    media = spark.createDataFrame(row, schema=multimodal.MEDIA_SCHEMA)
    out = multimodal.decode_image_features(media, dim=6, fake=False).collect()[0]
    assert out["decode_ok"]
    r_mean, g_mean, b_mean = out["features"][:3]
    assert abs(r_mean - 1.0) < 1e-6 and g_mean == 0.0 and b_mean == 0.0


def test_multimodal_real_resize_roundtrip(spark):
    """REAL resample: output blob is a valid PPM with the computed dims."""
    media = multimodal.gen_media(spark, n=40)
    out = multimodal.resize_images(media, max_side=24, fake=False).collect()
    assert out
    for r in out:
        arr = multimodal.decode_ppm(bytes(r["resized"]))
        assert arr is not None
        assert arr.shape == (r["out_height"], r["out_width"], 3)


def test_multimodal_real_wav_features(spark):
    """REAL WAV-PCM decode: a pure sine's RMS ≈ amplitude/√2 and its
    zero-crossing rate ≈ 2·freq/sr."""
    import numpy as np

    sr, freq, amp = 8000, 400, 10000
    t = np.arange(sr) / sr
    sig = (np.sin(2 * np.pi * freq * t) * amp).astype(np.int16)
    import io as _io
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(sig.tobytes())
    media = spark.createDataFrame(
        [(1, "u", "audio", buf.getvalue(), "audio/wav", None, None, 1000)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.extract_audio_features(media, fake=False).collect()[0]
    assert out["decode_ok"] and out["sample_rate"] == sr and out["n_samples"] == sr
    assert abs(out["rms"] - amp / np.sqrt(2)) / (amp / np.sqrt(2)) < 0.01
    assert abs(out["zero_crossing_rate"] - 2 * freq / sr) < 0.01


def test_multimodal_frame_sampling(spark):
    media = multimodal.gen_media(spark, n=60)
    frames = multimodal.sample_video_frames(media, every_ms=1000, fake=True)
    pdf = frames.toPandas()
    vids = media.filter("kind = 'video'").select("media_id", "duration_ms").collect()
    for r in vids:
        n = max(1, r["duration_ms"] // 1000)
        assert (pdf["media_id"] == r["media_id"]).sum() == n


def test_simhash_pigeonhole_completeness(spark, docs):
    """The block-join candidate set must contain EVERY pair with hamming
    ≤ max_hamming (pigeonhole recall contract, r01 verdict item #6):
    compare against brute-force hamming over all signature pairs."""
    max_h = 7
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(docs, hash_mode="md5", n_bits=56).collect()
    }
    ids = sorted(sigs)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= max_h
    }
    got = {
        (r["a"], r["b"])
        for r in dedup.simhash_candidates(
            docs, max_hamming=max_h, hash_mode="md5", n_bits=56
        ).collect()
    }
    assert want, "fixture must contain at least one close pair"
    assert got == want


def test_simhash_rejects_insufficient_blocks(spark, docs):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.simhash_candidates(docs, max_hamming=10, n_blocks=4)


def test_minhash_md5_mode_finds_same_planted(spark, docs):
    pairs = dedup.minhash_dedup(docs, threshold=0.5, mode="md5").collect()
    got = {(r["a"], r["b"]) for r in pairs} | {(r["b"], r["a"]) for r in pairs}
    # exact duplicates (jaccard=1) match in every band — guaranteed recall
    for i in range(5):
        assert (i, 100 + i) in got
    # near-dups are probabilistic per hash family (P(candidate) ≈ 0.99
    # at j≈0.7 with 16×4 banding) — require majority recall
    found = sum((10 + i, 200 + i) in got for i in range(5))
    assert found >= 3, got


def test_minhash_expr_variant_finds_same_planted(spark, docs):
    pairs = dedup.minhash_dedup(docs, threshold=0.5, mode="expr").collect()
    got = {(min(r["a"], r["b"]), max(r["a"], r["b"])) for r in pairs}
    planted = {(i, 100 + i) for i in range(5)} | {(10 + i, 200 + i) for i in range(5)}
    assert planted <= got
    assert got <= planted  # and nothing else on this corpus


def test_multimodal_features_feed_ann(spark):
    """Composed multimodal pipeline: decode image binaries → feature
    vectors → LSH ANN over them. Planted duplicate payloads must be each
    other's nearest neighbors (identical bytes → identical fake features
    → cosine 1)."""
    media = multimodal.gen_media(spark, n=80)
    imgs = media.filter("kind = 'image'")
    # plant: re-register the first image's payload under a new id
    first = imgs.limit(1).collect()[0]
    dup = spark.createDataFrame(
        [(9999, "http://dup", "image", bytes(first["payload"]), "image/jpeg",
          first["width"], first["height"], None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.decode_image_features(imgs.union(dup), dim=16, fake=True)
    vecs = feats.select(
        F.col("media_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    probes = vecs.filter(F.col("vec_id") == 9999)
    out = similarity.lsh_topk(vecs, probes, dim=16, k=1, n_planes=16, n_bands=8).collect()
    assert len(out) == 1
    assert out[0]["cand_id"] == first["media_id"]
    assert out[0]["cosine_sim"] > 0.999999


def test_multimodal_resize(spark):
    media = multimodal.gen_media(spark, n=50)
    out = multimodal.resize_images(media, max_side=128, fake=True).collect()
    assert len(out) == media.filter("kind = 'image' AND width IS NOT NULL").count()
    for r in out:
        assert max(r["out_width"], r["out_height"]) <= 128
        assert 0 < r["scale"] <= 1.0
    # aspect ratio preserved (within rounding)
    dims = {r["media_id"]: (r["out_width"], r["out_height"]) for r in out}
    src = {r["media_id"]: (r["width"], r["height"])
           for r in media.filter("kind = 'image'").collect()}
    for mid, (ow, oh) in dims.items():
        w, h = src[mid]
        assert abs(ow / oh - w / h) < 0.1


def test_ivf_topk_recall_vs_brute_force(spark, vectors):
    """IVF (MLlib-KMeans coarse quantizer + nprobe list search) must
    recover most exact neighbors; with nprobe == n_lists it IS exact."""
    probes = vectors.limit(3)
    exact = {
        (r["probe_id"], r["cand_id"])
        for r in similarity.brute_force_topk(vectors, probes, k=5).collect()
    }
    full = {
        (r["probe_id"], r["cand_id"])
        for r in similarity.ivf_topk(
            vectors, probes, k=5, n_lists=8, nprobe=8
        ).collect()
    }
    assert full == exact  # nprobe == n_lists → exhaustive → exact
    approx = {
        (r["probe_id"], r["cand_id"])
        for r in similarity.ivf_topk(
            vectors, probes, k=5, n_lists=8, nprobe=3
        ).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5  # coarse recall bound


def test_minhash_mega_bucket_is_capped(spark):
    """A boilerplate mega-bucket (400 identical docs) must be truncated
    at max_bucket BEFORE pair generation — candidate pairs stay bounded
    by C(cap,2) per band instead of C(400,2), and the pipeline still
    links every capped member to the keeper set via the surviving pairs."""
    rows = [(i, "the same boilerplate text repeated here " * 5) for i in range(400)]
    rows += [(1000 + i, f"unique doc {i} with words w{i} w{i+1} w{i+2} filler") for i in range(50)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    sigs = dedup.minhash_signatures(docs)
    cap = 20
    pairs = dedup.lsh_candidate_pairs(sigs, max_bucket=cap)
    got = pairs.collect()
    # bounded: all pairs come from the first `cap` members per bucket —
    # far fewer than C(400,2)=79800
    assert 0 < len(got) <= 16 * cap * (cap - 1) // 2
    members = {r["a"] for r in got} | {r["b"] for r in got}
    assert members <= set(range(cap)) | set(range(1000, 1050))


def test_line_dedup_drops_boilerplate_keeps_order(spark):
    """C4-style cross-corpus line dedup: a line appearing in >= min_docs
    DISTINCT docs is dropped everywhere; rare lines survive in original
    order; blank lines are exempt (byte-faithful reassembly); a repeat
    WITHIN one doc doesn't count as cross-doc."""
    from crawlingathome_server_spark.operators.dedup import line_dedup

    boiler = "accept all cookies to continue"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler}\nalpha one\n\nbeta two"),
            (2, f"gamma three\n{boiler}\ndelta four"),
            (3, f"{boiler}\nepsilon five"),
            # repeated line within ONE doc only: stays (1 distinct doc)
            (4, "zeta six\nzeta six\neta seven"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=3).collect()}
    assert out[1]["text"] == "alpha one\n\nbeta two"
    assert out[1]["n_lines_dropped"] == 1 and out[1]["n_lines_kept"] == 3
    assert out[2]["text"] == "gamma three\ndelta four"
    assert out[3]["text"] == "epsilon five"
    assert out[4]["text"] == "zeta six\nzeta six\neta seven"
    assert out[4]["n_lines_dropped"] == 0

    # partitioning invariance (the reassembly sort is per-doc)
    again = {
        r["doc_id"]: r["text"]
        for r in line_dedup(docs.repartition(7), min_docs=3).collect()
    }
    assert again == {k: v["text"] for k, v in out.items()}

    # min_docs=2 also kills a two-doc line; validation rejects < 2
    out2 = {r["doc_id"]: r["text"] for r in line_dedup(docs, min_docs=2).collect()}
    assert out2[3] == "epsilon five"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        line_dedup(docs, min_docs=1)


#: null, empty, below-shingle-size and whitespace-padded texts included
_SKETCH_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "one two",
    None,
    "",
    "  x y z " * 40,
    "a b c d e f g h i j k l m n o p q r s t u v w",
]


@pytest.mark.parametrize("hash_mode", ["xxhash64", "md5"])
@pytest.mark.parametrize("sketch", ["minhash", "simhash"])
def test_signatures_match_python_reference(spark, sketch, hash_mode):
    """The production kernels (numpy pass over JVM hash arrays) equal a
    plain-Python reference — exact big-int arithmetic — applied to the
    same hash arrays collected from Spark. Null text gives a null
    signature, except xxhash64 simhash, which drops the row."""
    from crawlingathome_server_spark.functions.parity import md5_long

    docs = spark.createDataFrame(list(enumerate(_SKETCH_TEXTS)), "doc_id long, text string")
    if sketch == "minhash":
        sigs = dedup.minhash_signatures(docs, hash_mode=hash_mode)
        hs = dedup.shingle_hashes_expr("text", 3, hash_mode)
        perms = [(int(a), int(b)) for a, b in zip(*dedup._perm_params(64, 7))]

        def ref(h):
            return [min((x * a + b) % dedup._MERSENNE for x in h) for a, b in perms]

    else:
        n_bits = 64 if hash_mode == "xxhash64" else 56
        sigs = dedup.simhash_signatures(docs, hash_mode=hash_mode, n_bits=n_bits)
        word_hash = F.xxhash64 if hash_mode == "xxhash64" else (lambda w: md5_long(w, n_hex=14))
        hs = F.transform(F.split(F.trim("text"), r"\s+"), lambda w: word_hash(w))

        def ref(h):
            votes = [sum(1 if (x >> j) & 1 else -1 for x in h) for j in range(n_bits)]
            sig = sum(1 << j for j, v in enumerate(votes) if v > 0)
            return sig - (1 << 64) if sig >> 63 else sig

    got = {r[0]: r[1] for r in sigs.collect()}
    want = {
        r["doc_id"]: None if r["text"] is None else ref(r["hs"])
        for r in docs.select("doc_id", "text", hs.alias("hs")).collect()
    }
    if sketch == "simhash" and hash_mode == "xxhash64":
        del want[2]
    assert got == want


def test_md5_pipelines_match_duckdb_oracle(spark, docs):
    """The md5 minhash and simhash pipelines (signatures, banding or
    blocks, candidate join, verify) equal their DuckDB oracle SQL as
    sets on the planted-duplicate corpus."""
    import duckdb

    from crawlingathome_server_spark import oracles

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    got = {
        (r["a"], r["b"], round(r["jaccard"], 12))
        for r in dedup.minhash_dedup(docs, threshold=0.5, mode="md5").collect()
    }
    want = {(a, b, round(j, 12)) for a, b, j in con.execute(oracles.minhash_lsh_sql()).fetchall()}
    assert got == want and got
    got = set(
        map(
            tuple,
            dedup.simhash_candidates(docs, hash_mode="md5", n_bits=56, max_hamming=7)
            .select("a", "b", "hamming")
            .collect(),
        )
    )
    want = set(con.execute(oracles.simhash_sql(n_bits=56, max_hamming=7)).fetchall())
    assert got == want and got
