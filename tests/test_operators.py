"""Operator-level unit tests (dedup, similarity, multimodal, canonicalize)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from keywords4cv_spark.operators import canonicalize, dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_duplicates_finds_injected_dup(spark):
    rows = [
        (1, "the quick brown fox", "en"),
        (2, "The  quick BROWN fox!", "en"),  # same after normalization
        (3, "something else entirely", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.rep_doc_id: r.n_docs for r in dedup.exact_duplicates(df).collect()}
    assert out == {1: 2, 3: 1}


def test_jaccard_pairs_detect_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base, "en"),
        (2, base + " iota", "en"),  # near dup
        (3, "totally different words here now okay fine", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.jaccard_verified_pairs(df).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.8
    assert all(3 not in p for p in pairs)


def test_simhash_close_for_similar_docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    rows = [(1, base, "en"), (2, base + " iota", "en"), (3, "xx yy zz ww vv uu tt ss", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sh = {r.doc_id: r.simhash for r in dedup.simhash16(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])


def test_byte_histogram_matches_numpy(spark, docs):
    got = {r.doc_id: [r[f"bin{i}"] for i in range(8)] for r in
           multimodal.byte_histogram(docs).collect()}
    for r in docs.select("doc_id", "text").collect():
        arr = np.frombuffer(r.text.encode(), dtype=np.uint8)
        want = np.bincount(arr >> 5, minlength=8)[:8].tolist()
        assert got[r.doc_id] == want, r.doc_id


def test_payload_metadata_md5(spark, docs):
    got = {r.doc_id: (r.n_bytes, r.payload_md5) for r in
           multimodal.payload_metadata(docs).collect()}
    for r in docs.select("doc_id", "text").limit(20).collect():
        raw = r.text.encode()
        assert got[r.doc_id] == (len(raw), hashlib.md5(raw).hexdigest())


def test_bmp_round_trip_exact():
    img = multimodal.synth_image(42)
    assert multimodal.decode_image(multimodal.encode_bmp(img)).tolist() == img.tolist()
    # odd widths exercise the 4-byte row padding
    odd = img[:, :5]
    assert multimodal.decode_image(multimodal.encode_bmp(odd)).tolist() == odd.tolist()


def test_ppm_decode_matches_raw():
    img = multimodal.synth_image(7)
    h, w = img.shape[:2]
    ppm = b"P6\n# comment\n%d %d\n255\n" % (w, h) + img.tobytes()
    assert multimodal.decode_image(ppm).tolist() == img.tolist()


def test_decode_image_unknown_magic_gated():
    with pytest.raises((NotImplementedError, Exception)):
        multimodal.decode_image(b"\x89PNG fake but long enough to parse")
    with pytest.raises(ValueError):
        multimodal.decode_image(b"short")


def test_resize_and_mean_pool():
    img = multimodal.synth_image(3)
    small = multimodal.resize_image(img, 4, 4)
    assert small.shape == (4, 4, 3)
    pooled = multimodal.mean_pool(img, 2)
    assert pooled.shape == (img.shape[0] // 2, img.shape[1] // 2, 3)
    assert pooled[0, 0, 0] == int(img[:2, :2, 0].astype(float).mean())


def test_sample_frames_deterministic():
    frames = [multimodal.synth_image(i) for i in range(6)]
    payload = multimodal.encode_video(frames)
    kept = multimodal.sample_frames(payload, every=2)
    assert len(kept) == 3
    for got, want in zip(kept, frames[::2]):
        assert got.tolist() == want.tolist()
    with pytest.raises(ValueError):
        multimodal.sample_frames(b"not a container")


def test_image_stats_distributed(spark, docs):
    got = {r.doc_id: r for r in multimodal.image_stats(docs.limit(12)).collect()}
    for doc_id, row in got.items():
        img = multimodal.synth_image(doc_id)
        assert (row.height, row.width) == img.shape[:2]
        means = img.reshape(-1, 3).mean(axis=0)
        assert abs(row.mean_r - means[0]) < 1e-9
        tiny = multimodal.resize_image(img, 4, 4)
        assert row.resized_md5 == hashlib.md5(tiny.tobytes()).hexdigest()


def test_video_frame_stats_distributed(spark, docs):
    rows = multimodal.video_frame_stats(docs.limit(5), n_frames=6, every=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, frames in by_doc.items():
        assert len(frames) == 3  # every 2nd of 6
        first = multimodal.synth_image(doc_id * 6)
        assert abs(frames[0].mean_px - first.mean()) < 1e-9


def test_dbscan_numpy_basic():
    pts = np.array(
        [[1, 0], [0.999, 0.01], [0.998, 0.02], [0, 1], [0.01, 0.999], [-1, 0.1]]
    )
    labels = canonicalize.dbscan_numpy(pts, eps=0.05, min_samples=2)
    assert labels[0] == labels[1] == labels[2] != -1
    assert labels[3] == labels[4] != -1
    assert labels[5] == -1
    assert labels[0] != labels[3]


def test_canonical_clusters_spark_vs_local(spark):
    """Bucketed Spark DBSCAN == local numpy DBSCAN run per bucket."""
    rng = np.random.default_rng(3)
    centers = rng.normal(size=(5, 16))
    vecs, rows = [], []
    for i in range(60):
        c = centers[i % 5]
        v = c + rng.normal(scale=0.01, size=16)
        rows.append((i, v.astype(np.float32).tolist()))
        vecs.append(v)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = canonicalize.canonical_clusters(df, eps=0.05, min_samples=2, n_planes=2)
    got = {r.vec_id: (r.bucket, r.rep_vec_id) for r in out.collect()}
    assert len(got) == 60
    # local oracle: same bucketing + same dbscan per bucket
    buckets = {}
    for i, v in enumerate(vecs):
        b = 0
        for j in range(2):
            proj = sum(
                float(np.float32(v[k])) * similarity.plane_sign(j, k)
                for k in range(16)
            )
            if proj > 0:
                b |= 1 << j
        buckets.setdefault(b, []).append(i)
    for b, ids in buckets.items():
        ids = sorted(ids)
        labels = canonicalize.dbscan_numpy(
            np.array([np.asarray(rows[i][1], dtype=np.float64) for i in ids]),
            0.05,
            2,
        )
        reps: dict[int, int] = {}
        for i, lab in zip(ids, labels):
            if lab >= 0:
                reps.setdefault(lab, i)
        for i, lab in zip(ids, labels):
            want_rep = i if lab < 0 else reps[lab]
            assert got[i] == (b, want_rep), (i, got[i], (b, want_rep))


def test_simhash_near_dups_banding_lossless(spark, docs):
    """Banded candidates must find EVERY pair with hamming ≤ 3 (pigeonhole
    over the 4×16-bit chunks of the 64-bit signature) — verify against a
    brute-force pass over signatures."""
    sh = {
        r.doc_id: (r.c0, r.c1, r.c2, r.c3)
        for r in dedup.simhash64(docs).collect()
    }

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(sh[a], sh[b]))

    ids = sorted(sh)
    want = {
        (a, b): ham(a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(a, b) <= 3
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_near_dups(docs).collect()
    }
    assert got == want


def test_signature_spaces_shrink_buckets(spark, docs, emb):
    """VERDICT r2 #2: the candidate-generation bucket spaces must grow
    with signature width / corpus size so within-bucket verification
    never goes quadratic.

    - SimHash: the 64-bit chunk banding's worst band bucket must hold
      no more docs than the old 16-bit nibble banding's worst bucket
      (2^16 buckets/band vs 2^4).
    - LSH: max bucket occupancy is non-increasing in plane count, and
      the corpus-scaled rule grows the plane count with n."""
    # --- SimHash band-bucket occupancy, old vs new banding ---
    sh64 = dedup.simhash64(docs).collect()
    sh16 = dedup.simhash16(docs).collect()
    from collections import Counter

    nib = Counter()
    for r in sh16:
        for p in range(4):
            nib[(p, (r.simhash >> (4 * p)) & 15)] += 1
    chunk = Counter()
    for r in sh64:
        for p, c in enumerate((r.c0, r.c1, r.c2, r.c3)):
            chunk[(p, c)] += 1
    assert max(chunk.values()) < max(nib.values()), (
        max(chunk.values()),
        max(nib.values()),
    )
    # --- LSH bucket occupancy monotone in plane count ---
    def max_bucket(planes):
        counts = (
            similarity.lsh_buckets(emb, planes)
            .groupBy("bucket")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        return int(counts)

    m2, m4, m8 = max_bucket(2), max_bucket(4), max_bucket(8)
    assert m2 >= m4 >= m8
    assert m8 < m2  # strictly shrinks across the sweep
    # --- corpus-scaled plane rule grows with n ---
    assert similarity.n_planes_for(500) == 4
    assert similarity.n_planes_for(2_000) == 6
    assert similarity.n_planes_for(10**12) == 35
    assert similarity.n_planes_for(10) >= 1


def test_dup_components_label_propagation(spark):
    """Chain 1-2-3-4 collapses to one component labelled by its min;
    isolated pair 10-11 stays its own component."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: (r.rep_doc_id, r.component_size)
        for r in dedup.dup_components(edges).collect()
    }
    assert got == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 2), 11: (10, 2),
    }


def test_dup_components_distributed_loop_matches_local(spark):
    """local_threshold=0 forces the distributed doubling loop; it must
    produce the same labels/sizes as the size-gated driver union-find."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: (r.rep_doc_id, r.component_size)
        for r in dedup.dup_components(edges, local_threshold=0).collect()
    }
    assert got == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 2), 11: (10, 2),
    }


def test_dup_components_local_solver_chain_and_dup_edges(spark):
    """The numpy local solver must converge on a long chain (needs
    multiple propagation rounds — reach doubles per round) and absorb
    duplicate/reversed edges; non-contiguous doc_ids exercise the
    compaction. Also must agree with the distributed loop."""
    chain = [(100 + 3 * i, 100 + 3 * (i + 1)) for i in range(40)]
    extra = [(7, 900), (900, 7), (7, 900), (5000, 4999)]  # dups + reversed
    edges = spark.createDataFrame(chain + extra, "doc_a long, doc_b long")
    expect = {}
    chain_nodes = sorted({x for e in chain for x in e})
    for n in chain_nodes:
        expect[n] = (100, len(chain_nodes))
    for n in (7, 900):
        expect[n] = (7, 2)
    for n in (4999, 5000):
        expect[n] = (4999, 2)
    got = {
        r.doc_id: (r.rep_doc_id, r.component_size)
        for r in dedup.dup_components(edges).collect()
    }
    assert got == expect
    got_dist = {
        r.doc_id: (r.rep_doc_id, r.component_size)
        for r in dedup.dup_components(edges, local_threshold=0).collect()
    }
    assert got_dist == expect


def test_ivf_topk_matches_exact_on_clustered_data(spark):
    """IVF-Flat with well-separated clusters: probing the nearest lists
    returns the same top-k as exact brute-force cosine (recall = 1 when
    a probe's true neighbours share its list)."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 16)) * 10.0
    rows = []
    for i in range(80):
        c = centers[i % 4]
        v = (c + rng.normal(scale=0.05, size=16)).astype(np.float32)
        rows.append((i, f"label{i % 4}", v.tolist()))
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    probes = [0, 1, 2, 3]
    exact = {
        (r.probe_id, r.rank): r.vec_id
        for r in similarity.cosine_topk(spark, emb, probes, k=3).collect()
    }
    ivf = {
        (r.probe_id, r.rank): r.vec_id
        for r in similarity.ivf_topk(
            spark, emb, probes, k=3, nprobe=1, nlist=4
        ).collect()
    }
    assert ivf == exact
    # recall@k vs brute force at the default ~sqrt(n) list sizing: the
    # trained quantizer may split a cluster across lists, so nprobe=2
    # must still recover most true neighbours (deterministic value —
    # the whole pipeline is RNG-free)
    ivf_default = {
        (r.probe_id, r.rank): r.vec_id
        for r in similarity.ivf_topk(spark, emb, probes, k=3, nprobe=2).collect()
    }
    hits = sum(1 for key, v in exact.items() if ivf_default.get(key) == v)
    recall = hits / len(exact)
    assert recall >= 0.8, recall


def test_jaccard_prunes_to_candidate_docs(spark, docs):
    """The verify join must only ship token sets of docs that appear in
    a candidate pair (the 100 TB shuffle-volume guard)."""
    pairs = dedup.jaccard_verified_pairs(docs)
    rows = pairs.collect()
    assert len(rows) > 0
    # every verified pair is an LSH candidate (sanity: pruning did not
    # change semantics)
    cand = {
        (r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(docs).collect()
    }
    assert {(r.doc_a, r.doc_b) for r in rows} <= cand


def test_lsh_buckets_match_plane_sign(spark, emb):
    sample = emb.limit(30).collect()
    got = {
        r.vec_id: r.bucket
        for r in similarity.lsh_buckets(spark.createDataFrame(sample)).collect()
    }
    for r in sample:
        b = 0
        for j in range(similarity.N_PLANES):
            proj = sum(
                float(x) * similarity.plane_sign(j, i) for i, x in enumerate(r.embedding)
            )
            if proj > 0:
                b |= 1 << j
        assert got[r.vec_id] == b, r.vec_id


def test_wav_round_trip_exact():
    import numpy as np

    samples, rate = multimodal.synth_audio(17)
    dec, dec_rate = multimodal.decode_wav(multimodal.encode_wav(samples, rate))
    assert dec_rate == rate
    assert dec[:, 0].tolist() == samples.tolist()
    # stereo + negative values survive
    stereo = np.stack([samples, -samples], axis=1).astype(np.int16)
    d2, r2 = multimodal.decode_wav(multimodal.encode_wav(stereo, 44100))
    assert r2 == 44100 and d2.tolist() == stereo.tolist()


def test_wav_chunk_walker_skips_unknown_chunks():
    import struct

    samples, rate = multimodal.synth_audio(3)
    wav = multimodal.encode_wav(samples, rate)
    # splice an odd-sized LIST chunk between fmt and data (pad byte rules)
    fmt_end = 12 + 8 + 16
    junk = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"  # odd size + pad
    spliced = wav[:fmt_end] + junk + wav[fmt_end:]
    spliced = struct.pack("<4sI", b"RIFF", len(spliced) - 8) + spliced[8:]
    dec, dec_rate = multimodal.decode_wav(spliced)
    assert dec_rate == rate and dec[:, 0].tolist() == samples.tolist()
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFFxxxxNOPE")


def test_audio_stats_distributed(spark, docs):
    import numpy as np

    got = {r.doc_id: r for r in multimodal.audio_stats(docs.limit(8)).collect()}
    for doc_id, row in got.items():
        samples, rate = multimodal.synth_audio(doc_id)
        x = samples.astype(np.int64)
        assert row.n_samples == len(x) and row.sample_rate == rate
        assert row.sum_sq == int((x * x).sum())
        assert row.zero_crossings == int(np.count_nonzero(x[:-1] * x[1:] < 0))
        assert abs(row.mean_amp - x.sum() / len(x)) < 1e-12


def test_quality_scores_filter_over_tokenless_docs(spark):
    """A caller's filter on quality is pushed below the no-token filter;
    a doc that tokenizes to nothing must not raise DIVIDE_BY_ZERO."""
    from keywords4cv_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "!!! ??", "en"), (2, "the data pipeline runs every night", "en")],
        "doc_id long, text string, lang string",
    )
    rows = textstats.quality_scores(docs).filter(F.col("quality") >= 0.1).collect()
    assert [r.doc_id for r in rows] == [2]
