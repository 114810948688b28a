"""Dedup / similarity / text / multimodal vs pandas-numpy oracles on the
real documents/embeddings testdata."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fast_causal_inference_spark.datapipe import dedup, similarity, text
from fast_causal_inference_spark.datapipe.multimodal import (
    image_features,
    image_resize,
    synthesize_media_column,
    video_frame_sample,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from fast_causal_inference_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    from fast_causal_inference_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "embeddings").cache()


# -- text -------------------------------------------------------------------


def test_token_count(spark, docs):
    got = docs.select("doc_id", text.token_count("text").alias("n"),
                      "text").limit(20).collect()
    for r in got:
        assert r["n"] == len(r["text"].split())


def test_language_id(spark):
    # note: the testdata's `lang` labels do NOT reflect the actual text
    # (all docs are English-ish word salad), so detection is validated on
    # constructed samples per language instead
    samples = [
        ("the cat is in the house and it is warm", "en"),
        ("el perro está en la casa y el gato en el jardín", "es"),
        ("der Hund und die Katze sind in den Haus mit der Maus", "de"),
        ("le chat et le chien sont dans les maisons de la ville", "fr"),
        ("今天天气很好我们去公园散步吧", "zh"),
        ("zxqv foo123 bar456", "unknown"),
    ]
    df = spark.createDataFrame(samples, "text string, want string")
    got = df.select("want", text.language_id("text").alias("pred")).collect()
    for r in got:
        assert r["pred"] == r["want"], r


def test_quality_and_fingerprint(spark, docs):
    out = docs.select(text.quality_score("text").alias("q"),
                      text.fingerprint("text").alias("fp"),
                      "text").limit(50).collect()
    for r in out:
        assert 0.0 <= r["q"] <= 1.0
    # fingerprint is whitespace-insensitive
    one = docs.limit(1)
    a = one.select(text.fingerprint("text")).collect()[0][0]
    b = one.select(text.fingerprint(
        F.concat(F.lit("  "), F.regexp_replace("text", " ", "   ")))).collect()[0][0]
    assert a == b


# -- dedup ------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """documents ∪ copies of 10 docs (new ids) ∪ slightly-edited copies."""
    base = docs.select("doc_id", "text")
    copies = docs.limit(10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    near = docs.limit(10).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"))
    return base.unionByName(copies).unionByName(near).cache()


def test_exact_dedup(spark, docs, docs_with_dups):
    n_docs = docs.count()
    out = dedup.exact_dedup(docs_with_dups)
    assert out.count() == n_docs + 10          # near-dups survive exact dedup
    # survivors keep the LOWEST id
    assert out.where(F.col("doc_id") >= 100000).count() == 10
    groups = dedup.exact_dup_groups(docs_with_dups)
    assert groups.count() == 10
    assert groups.agg(F.max("n_dups")).collect()[0][0] == 2


def test_minhash_lsh_finds_near_dups(spark, docs_with_dups):
    pairs = dedup.minhash_lsh_pairs(docs_with_dups, threshold=0.5,
                                    num_hashes=64, bands=16).toPandas()
    # the 10 exact copies must be found (jaccard 1.0)
    exact = pairs[(pairs.id_b - pairs.id_a == 100000) & (pairs.jaccard == 1.0)]
    assert len(exact) == 10
    # the 10 edited copies should be caught as near-dups
    near = pairs[(pairs.id_b - pairs.id_a == 200000)]
    assert len(near) >= 8
    assert (near.jaccard < 1.0).all() and (near.jaccard > 0.5).all()


def test_minhash_dedup_drops_losers(spark, docs, docs_with_dups):
    out = dedup.minhash_dedup(docs_with_dups, threshold=0.5)
    pairs = dedup.minhash_lsh_pairs(docs_with_dups, threshold=0.5).toPandas()
    losers = set(pairs.id_b)
    # exactly the higher-id member of each detected pair is dropped
    assert out.count() == docs_with_dups.count() - len(losers)
    assert out.where(F.col("doc_id").isin([int(x) for x in losers])).count() == 0
    # every copied doc (id+100000) is a loser of its original
    assert {(r.id_a, r.id_b) for r in pairs.itertuples()
            if r.id_b - r.id_a == 100000 and r.jaccard == 1.0} \
        == {(i, i + 100000) for i in
            docs.limit(10).toPandas().doc_id.astype(int)}


def test_simhash_pairs(spark, docs_with_dups):
    pairs = dedup.simhash_pairs(docs_with_dups, max_hamming=0).toPandas()
    exact = pairs[(pairs.id_b - pairs.id_a == 100000)]
    assert len(exact) >= 10                     # identical text → same simhash
    assert (exact.hamming == 0).all()


def test_simhash_block_combination_matches_bruteforce(spark, docs_with_dups):
    # the Manku block-combination candidate scheme (default b = k+4 = 12,
    # C(12,4)=495 keys) must have EXACT recall at the wide radius: every
    # pair within hamming 8 of the all-pairs scan, nothing else
    sigs = dedup.simhash_signatures(docs_with_dups).toPandas()
    ids = sigs.id.to_numpy()
    s = sigs.sig.to_numpy().astype(np.uint64)
    xor = s[:, None] ^ s[None, :]
    ham = np.zeros_like(xor, dtype=np.int64)
    for _ in range(64):
        ham += (xor & np.uint64(1)).astype(np.int64)
        xor >>= np.uint64(1)
    iu = np.triu_indices(len(ids), k=1)
    want = {(int(min(a, b)), int(max(a, b)), int(h))
            for a, b, h in zip(ids[iu[0]], ids[iu[1]], ham[iu])
            if h <= 8}
    got = dedup.simhash_pairs(docs_with_dups, max_hamming=8).toPandas()
    assert {(int(r.id_a), int(r.id_b), int(r.hamming))
            for r in got.itertuples()} == want


def test_simhash_pairs_validation():
    import pyspark.sql

    df = None  # validation fires before any DataFrame use
    with pytest.raises(ValueError, match="at least max_hamming\\+1"):
        dedup.simhash_pairs(df, max_hamming=8, chunks=8)
    with pytest.raises(ValueError, match="64 signature bits"):
        dedup.simhash_pairs(df, max_hamming=70, chunks=80)
    with pytest.raises(ValueError, match="combination keys per document"):
        dedup.simhash_pairs(df, max_hamming=16, chunks=32)


def test_ngram_jaccard_matches_bruteforce(spark, docs_with_dups):
    got = dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.6).toPandas()
    pdf = docs_with_dups.toPandas()

    def sh(t):
        toks = t.lower().split()
        return {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))}

    sets = {r.doc_id: sh(r.text) for r in pdf.itertuples()}
    want = set()
    for a in sets:
        for b in sets:
            if a < b:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= 0.6:
                    want.add((a, b))
    assert {(r.id_a, r.id_b) for r in got.itertuples()} == want


# -- similarity -------------------------------------------------------------


@pytest.fixture(scope="module")
def emb_pdf(emb):
    return emb.toPandas()


def brute_topk(emb_pdf, qvec, k):
    M = np.stack(emb_pdf.embedding.to_numpy())
    sims = M @ qvec / (np.linalg.norm(M, axis=1) * np.linalg.norm(qvec))
    order = np.lexsort((emb_pdf.vec_id.to_numpy(), -sims))
    return emb_pdf.vec_id.to_numpy()[order][:k], np.sort(sims)[::-1][:k]


def test_knn_bruteforce_exact(spark, emb, emb_pdf):
    qp = emb_pdf.head(3)
    queries = spark.createDataFrame(
        [(int(r.vec_id), [float(x) for x in r.embedding])
         for r in qp.itertuples()], "query_id long, query_vec array<float>")
    got = similarity.knn_bruteforce(emb, queries, k=5).toPandas()
    for qid in qp.vec_id:
        qvec = np.array(emb_pdf[emb_pdf.vec_id == qid].embedding.iloc[0])
        want_ids, want_sims = brute_topk(emb_pdf, qvec, 5)
        sub = got[got.query_id == qid].sort_values("rank")
        assert list(sub.vec_id) == list(want_ids)
        assert sub.score.to_numpy() == pytest.approx(want_sims, rel=1e-5)
        assert sub.iloc[0].vec_id == qid        # self is its own best match


def test_lsh_knn_recall(spark, emb, emb_pdf):
    qp = emb_pdf.head(5)
    queries = spark.createDataFrame(
        [(int(r.vec_id), [float(x) for x in r.embedding])
         for r in qp.itertuples()], "query_id long, query_vec array<float>")
    # uniform-random embeddings are hyperplane-LSH's worst case (all cosines
    # near 0) — use few planes so buckets stay populated
    got = similarity.lsh_knn(emb, queries, k=5, n_tables=8, n_planes=6) \
        .toPandas()
    hits = 0
    for qid in qp.vec_id:
        qvec = np.array(emb_pdf[emb_pdf.vec_id == qid].embedding.iloc[0])
        want_ids, _ = brute_topk(emb_pdf, qvec, 5)
        sub = set(got[got.query_id == qid].vec_id)
        hits += len(sub & set(want_ids))
    assert hits / (5 * len(qp)) > 0.3           # recall@5 over brute force
    # self must always collide with itself
    for qid in qp.vec_id:
        assert qid in set(got[got.query_id == qid].vec_id)


def test_embedding_near_dup(spark, emb, emb_pdf):
    # duplicate 5 vectors with new ids → must be found at cosine ≈ 1
    extra = spark.createDataFrame(
        [(int(r.vec_id) + 50000, [float(x) for x in r.embedding], int(r.label))
         for r in emb_pdf.head(5).itertuples()],
        "vec_id long, embedding array<float>, label int")
    both = emb.unionByName(extra)
    pairs = similarity.embedding_near_dup_pairs(both, threshold=0.99).toPandas()
    found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    for r in emb_pdf.head(5).itertuples():
        assert (r.vec_id, r.vec_id + 50000) in found


# -- multimodal -------------------------------------------------------------


def test_multimodal_plumbing(spark, docs):
    media = synthesize_media_column(docs.limit(20), "text")
    feats = image_features(media, n_features=16, strict=False).toPandas()
    assert feats.features.map(len).eq(16).all()
    # deterministic: same payload → same features
    feats2 = image_features(media, n_features=16, strict=False).toPandas()
    a = feats.sort_values("doc_id").features.iloc[0]
    b = feats2.sort_values("doc_id").features.iloc[0]
    assert list(a) == list(b)
    resized = image_resize(media, strict=False).toPandas()
    assert resized.resized.map(len).eq(32).all()
    frames = video_frame_sample(media, max_frames=4, strict=False)
    pdf = frames.toPandas()
    assert pdf.groupby("doc_id").frame_idx.max().le(3).all()
    assert len(pdf) >= 20


def test_multimodal_strict_raises(spark, docs):
    media = synthesize_media_column(docs.limit(2), "text")
    with pytest.raises(Exception):
        image_features(media, strict=True).collect()


def test_knn_bruteforce_query_cap(spark, docs):
    import pandas as pd

    from fast_causal_inference_spark.datapipe.similarity import knn_bruteforce

    base = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(50), "embedding": [[1.0, 0.0]] * 50}))
    q = base.select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec"))
    with pytest.raises(ValueError, match="max_queries"):
        knn_bruteforce(base, q, k=3, max_queries=10)
    out = knn_bruteforce(base, q.limit(2), k=3)
    assert out.count() == 6


def test_one_hot_cardinality_cap(spark):
    import pandas as pd

    from fast_causal_inference_spark.functions.features import one_hot_encode

    df = spark.createDataFrame(pd.DataFrame({"c": [str(i) for i in range(40)]}))
    with pytest.raises(ValueError, match="max_categories"):
        one_hot_encode(df, ["c"], max_categories=10)
    ok = one_hot_encode(df, ["c"], max_categories=40)
    assert len([c for c in ok.columns if c.startswith("c_")]) == 40


def test_connected_components_chain_and_clique(spark):
    import pandas as pd

    from fast_causal_inference_spark.datapipe.dedup import (
        connected_components,
    )

    # chain 1-2-3-4, clique 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(pd.DataFrame({
        "id_a": [1, 2, 3, 10, 10, 11, 20],
        "id_b": [2, 3, 4, 11, 12, 12, 21]}))
    comp = connected_components(pairs).toPandas()
    got = dict(zip(comp.id, comp.component))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_connected_components_matches_union_find(spark):
    """The vectorized min-label driver path (round 11) must equal a
    plain union-find on adversarial shapes: a long chain (worst case
    for label propagation — pointer jumping must converge), random
    graphs, and lexicographically-ordered string ids."""
    import numpy as np
    import pandas as pd

    from fast_causal_inference_spark.datapipe.dedup import (
        connected_components,
    )

    def reference(us, vs):
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        nodes = set()
        for u, v in zip(us, vs):
            if u == v:                   # self-loops are dropped upstream
                continue
            nodes.add(u)
            nodes.add(v)
            ru, rv = find(u), find(v)
            if ru != rv:
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        return {n: find(n) for n in sorted(nodes)}

    cases = []
    # 500-node path: diameter 499, needs O(log n) pointer-jump rounds
    cases.append((list(range(500)), list(range(1, 501))))
    rng = np.random.default_rng(7)
    for _ in range(3):
        us = rng.integers(0, 200, 300).tolist()
        vs = rng.integers(0, 200, 300).tolist()
        cases.append((us, vs))
    # string ids: min is lexicographic
    cases.append((["b", "c", "x"], ["a", "b", "y"]))

    for us, vs in cases:
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": us, "id_b": vs}))
        got = connected_components(pairs).toPandas()
        want = reference(us, vs)
        assert dict(zip(got.id, got.component)) == want
        # output is sorted by id (golden-pinned row order)
        assert list(got.id) == sorted(want)


def test_dedup_clusters_transitive(spark):
    import pandas as pd

    from fast_causal_inference_spark.datapipe.dedup import dedup_clusters

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 9],
        "text": ["a"] * 5}))
    # 1~2, 2~3, 3~4 — transitively all dupes of 1; 9 untouched
    pairs = spark.createDataFrame(pd.DataFrame({
        "id_a": [1, 2, 3], "id_b": [2, 3, 4]}))
    kept = sorted(r["doc_id"] for r in dedup_clusters(docs, pairs).collect())
    assert kept == [1, 9]


def test_ivf_knn_recall(spark):
    import pandas as pd

    from fast_causal_inference_spark.datapipe.similarity import (
        ivf_knn,
        knn_bruteforce,
    )
    from fast_causal_inference_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    exact = knn_bruteforce(emb, q, k=5).toPandas()
    approx = ivf_knn(emb, q, k=5, n_lists=16, n_probe=6, seed=3).toPandas()
    # recall@5 of IVF with 6/16 probes should be high on this corpus
    hits = 0
    for qid in exact.query_id.unique():
        e = set(exact.loc[exact.query_id == qid, "vec_id"])
        a = set(approx.loc[approx.query_id == qid, "vec_id"])
        hits += len(e & a)
    assert hits / len(exact) > 0.6
    # the probed query always finds itself (cosine 1)
    self_hits = approx[(approx.query_id == approx.vec_id)]
    assert len(self_hits) == 5


def test_audio_features_plumbing(spark, docs):
    from fast_causal_inference_spark.datapipe.multimodal import (
        audio_features,
        synthesize_media_column,
    )

    media = synthesize_media_column(docs.limit(20), "text")
    out = audio_features(media, n_mfcc=5, strict=False).select("doc_id", "audio_features")
    pdf = out.toPandas()
    assert len(pdf) == 20
    assert all(len(v) == 5 for v in pdf.audio_features)
    # deterministic: same payload -> same features
    pdf2 = audio_features(media, n_mfcc=5, strict=False).select("audio_features").toPandas()
    a = [list(map(float, v)) for v in pdf.audio_features]
    b = [list(map(float, v)) for v in pdf2.audio_features]
    assert a == b

    with pytest.raises(Exception):
        audio_features(media, strict=True).collect()


def test_codec_roundtrips():
    """Pure-Python BMP/PPM/WAV codecs: encode->decode identity."""
    import numpy as np

    from fast_causal_inference_spark.datapipe.multimodal import (
        decode_bmp,
        decode_image,
        decode_ppm,
        decode_wav,
        encode_bmp,
        encode_ppm,
        encode_wav,
    )

    rng = np.random.default_rng(0)
    for h, w in [(1, 1), (3, 5), (16, 9)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img)
        assert np.array_equal(decode_ppm(encode_ppm(img)), img)
        assert np.array_equal(decode_image(encode_ppm(img)), img)
    x = (rng.standard_normal(4000) * 500).astype(np.int16)
    y, rate = decode_wav(encode_wav(x, 8000))
    assert rate == 8000 and np.array_equal(x, y)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")
    with pytest.raises(NotImplementedError):
        decode_wav(b"ID3....")


def test_image_audio_kernels_real(spark):
    """image_stats/image_resize/audio_stats/audio_features run REAL decode
    paths on synthesized BMP/WAV payloads."""
    import numpy as np

    from fast_causal_inference_spark.datapipe.multimodal import (
        audio_features,
        audio_stats,
        decode_bmp,
        image_resize,
        image_stats,
        synthesize_audio_column,
        synthesize_image_column,
    )

    d = spark.createDataFrame([(i, f"doc number {i}") for i in range(20)],
                              "doc_id int, text string")
    img = synthesize_image_column(d, "text")
    st = image_stats(img).toPandas()
    assert (st.width.between(1, 16)).all() and (st.height.between(1, 16)).all()
    # constant-fill images: mean == the hash-derived color, an exact integer
    assert (st.mean_pixel == st.mean_pixel.round()).all()
    rz = image_resize(img, width=4, height=3, strict=True).toPandas()
    shapes = {decode_bmp(bytes(b)).shape for b in rz.resized}
    assert shapes == {(3, 4, 3)}
    aud = synthesize_audio_column(d, "text")
    au = audio_stats(aud).toPandas()
    assert (au.n_samples >= 100).all() and (au.sample_rate == 16000).all()
    assert (au.rms == au.rms.round()).all()          # constant signal
    af = audio_features(aud, n_mfcc=5, strict=True).toPandas()
    assert all(len(v) == 5 and np.isfinite(v).all()
               for v in af.audio_features)


def test_strict_raises_for_codec_formats(spark):
    from fast_causal_inference_spark.datapipe.multimodal import (
        audio_features,
        image_features,
    )

    d = spark.createDataFrame([(1, bytearray(b"\x89PNG fake"))],
                              "doc_id int, payload binary")
    with pytest.raises(Exception, match="PIL|cv2|NotImplemented"):
        image_features(d, strict=True).collect()
    a = spark.createDataFrame([(1, bytearray(b"ID3 fake mp3"))],
                              "doc_id int, payload binary")
    with pytest.raises(Exception, match="codec|NotImplemented"):
        audio_features(a, strict=True).collect()


# -- quality: PII / repetition / decontamination ----------------------------


def test_pii_profile_and_redact(spark):
    from fast_causal_inference_spark.datapipe import quality

    rows = [
        (1, "contact bob@example.com or +1-(555)-123-4567 now"),
        (2, "ssn 123-45-6789 card 4111-1111-1111-1111 ip 10.0.0.1"),
        (3, "nothing sensitive here"),
        (4, ""),
        (5, "call (555) 123-4567 or 555-123-4567 or 555.123.4567"),
        (6, "pan 4111111111111111 amex 378282246310005"),
        (7, "version 999.999.999.999 date 2026-08-13 id 123-456"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in quality.pii_profile(df).collect()}
    assert got[1]["pii_email_cnt"] == 1
    assert got[1]["pii_phone_cnt"] == 1
    assert got[2]["pii_ssn_cnt"] == 1
    assert got[2]["pii_credit_card_cnt"] == 1
    assert got[2]["pii_ipv4_cnt"] == 1
    assert got[3]["pii_total"] == 0
    assert got[4]["pii_total"] == 0
    assert got[5]["pii_phone_cnt"] == 3          # common US formats
    assert got[6]["pii_credit_card_cnt"] == 2    # bare 16-digit + Amex 15
    assert got[7]["pii_total"] == 0              # out-of-range octets, dates

    red = {r["doc_id"]: r["red"] for r in df.select(
        "doc_id", quality.pii_redact("text").alias("red")).collect()}
    assert red[1] == "contact [PII] or [PII] now"
    assert red[2] == "ssn [PII] card [PII] ip [PII]"
    assert red[3] == "nothing sensitive here"
    assert red[5] == "call [PII] or [PII] or [PII]"
    assert red[6] == "pan [PII] amex [PII]"

    # kinds=[] means NO kinds, not all kinds
    none_scanned = quality.pii_profile(df, kinds=[]).collect()
    assert all(r["pii_total"] == 0 for r in none_scanned)

    with pytest.raises(ValueError):
        quality.pii_count("text", "dna")


def test_dup_line_stats(spark):
    from fast_causal_inference_spark.datapipe import quality

    rows = [
        (1, "a b\nc d\na b\n\n  \ne f"),   # 4 lines, 'a b' twice
        (2, "x\ny\nz"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in df.select(
        "doc_id",
        quality.dup_line_frac("text").alias("f"),
        quality.dup_line_char_frac("text").alias("cf")).collect()}
    # doc 1: lines [a b, c d, a b, e f] -> 1 dup of 4; dup chars 6 of 12
    assert got[1]["f"] == pytest.approx(0.25)
    assert got[1]["cf"] == pytest.approx(6 / 12)
    assert got[2]["f"] == 0.0 and got[2]["cf"] == 0.0
    assert got[3]["f"] == 0.0 and got[3]["cf"] == 0.0


def test_repetition_profile(spark):
    from fast_causal_inference_spark.datapipe import quality

    rows = [
        (1, "spam ham spam ham spam ham eggs"),
        (2, "all tokens unique here today"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in
           quality.repetition_profile(df, ngram_n=2).collect()}
    # doc 1 2-grams: spam ham x3, ham spam x2, ham eggs x1
    assert got[1]["top_ngram"] == "spam ham"
    assert got[1]["top_ngram_cnt"] == 3
    assert got[1]["top_ngram_char_frac"] == pytest.approx(
        3 * len("spam ham") / len("spam ham spam ham spam ham eggs"))
    assert got[2]["top_ngram_cnt"] == 1


def test_decontaminate(spark, docs):
    from fast_causal_inference_spark.datapipe import quality

    # benchmark = a deterministic slice of the corpus itself -> those docs
    # (and their near-verbatim overlaps) must be flagged
    bench = docs.where(F.col("doc_id") % 7 == 0)
    n_bench = bench.count()
    assert n_bench > 0
    flagged = quality.decontaminate(docs, bench, n=5, mode="flag")
    fl = {r["doc_id"]: r["contaminated"] for r in flagged.collect()}
    # every benchmark doc with >=5 tokens shares its own grams
    bench_ids = [r["doc_id"] for r in bench.collect()]
    assert all(fl[i] for i in bench_ids)

    dropped = quality.decontaminate(docs, bench, n=5, mode="drop")
    kept = set(r["doc_id"] for r in dropped.select("doc_id").collect())
    assert kept == {i for i, c in fl.items() if not c}

    ov = quality.contamination_overlap(docs, bench, n=5)
    assert ov.where(F.col("n_overlap_grams") <= 0).count() == 0

    with pytest.raises(ValueError):
        quality.decontaminate(docs, bench, mode="bogus")


def test_ngram_prefix_ppjoin_filter_is_exact(spark, docs_with_dups):
    """Prefix + PPJoin positional pruning must lose NO true pair: the
    filtered pipeline equals the unfiltered (prefix_filter=False) one at
    several thresholds."""
    for thr in (0.4, 0.6, 0.8):
        fast = dedup.ngram_jaccard_pairs(docs_with_dups, threshold=thr) \
            .select("id_a", "id_b", F.round("jaccard", 9).alias("j")) \
            .toPandas()
        slow = dedup.ngram_jaccard_pairs(docs_with_dups, threshold=thr,
                                         prefix_filter=False) \
            .select("id_a", "id_b", F.round("jaccard", 9).alias("j")) \
            .toPandas()
        a = set(map(tuple, fast.to_numpy()))
        b = set(map(tuple, slow.to_numpy()))
        assert a == b, (thr, a ^ b)


def test_relational_verify_matches_array_jaccard(spark, docs_with_dups):
    """The intersection-count verification must equal the array
    array_intersect/array_union Jaccard on every emitted pair."""
    pairs = dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.5)
    sh = docs_with_dups.select(
        F.col("doc_id").alias("id"),
        dedup.shingle_hashes(F.col("text")).alias("sh"))
    joined = (pairs
              .join(sh.select(F.col("id").alias("id_a"),
                              F.col("sh").alias("sh_a")), "id_a")
              .join(sh.select(F.col("id").alias("id_b"),
                              F.col("sh").alias("sh_b")), "id_b")
              .withColumn("j2", dedup.jaccard(F.col("sh_a"),
                                              F.col("sh_b"))))
    bad = joined.where(
        F.abs(F.col("jaccard") - F.col("j2")) > 1e-9).count()
    assert bad == 0


def test_repeated_substring_spans(spark):
    import pandas as pd

    from fast_causal_inference_spark.datapipe.dedup import (
        repeated_substring_spans,
    )

    shared = " ".join(f"w{i}" for i in range(40))
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["alpha beta " + shared + " gamma",
                 "other prefix words here " + shared + " tail",
                 "completely different text with no overlap present"]})
    out = repeated_substring_spans(spark.createDataFrame(docs),
                                   n=10, min_run_tokens=30).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.run_tokens == 40 and r.start_a == 2 and r.start_b == 4
    # below the threshold -> no span
    none = repeated_substring_spans(spark.createDataFrame(docs),
                                    n=10, min_run_tokens=41).toPandas()
    assert none.empty


def test_embedding_pca_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    from fast_causal_inference_spark.datapipe.similarity import (
        embedding_pca,
        project_embeddings,
    )

    rng = np.random.default_rng(0)
    A = rng.standard_normal((6, 6))
    X = rng.standard_normal((2000, 6)) @ np.diag([5, 3, 1, .5, .2, .1]) @ A
    pdf = pd.DataFrame({"vec_id": range(2000),
                        "embedding": [r.tolist() for r in X]})
    pdf.loc[5, "embedding"] = None
    df = spark.createDataFrame(pdf)
    m = embedding_pca(df, k=3)
    Xc = np.delete(X, 5, axis=0)
    C = np.cov(Xc.T, bias=True)
    ev, evec = np.linalg.eigh(C)
    order = np.argsort(ev)[::-1][:3]
    assert np.allclose(m["explained_variance"], ev[order], rtol=1e-8)
    assert np.allclose(m["mean"], Xc.mean(axis=0), atol=1e-10)
    for i in range(3):
        assert abs(np.dot(m["components"][i], evec[:, order[i]])) > 0.9999
    proj = project_embeddings(df, m).toPandas().sort_values("vec_id")
    assert proj.pca.iloc[5] is None
    P = np.stack(proj[proj.vec_id != 5].pca.to_numpy())
    assert np.allclose(P, (Xc - Xc.mean(axis=0)) @ m["components"].T,
                       atol=1e-8)
    w = project_embeddings(df, m, whiten=True).toPandas()
    PW = np.stack(w[w.vec_id != 5].pca.to_numpy())
    assert np.allclose(PW.var(axis=0), 1.0, atol=0.02)


def test_embedding_kmeans_blobs(spark):
    import numpy as np
    import pandas as pd

    from fast_causal_inference_spark.datapipe.similarity import (
        embedding_kmeans,
    )

    rng = np.random.default_rng(0)
    X = np.vstack([rng.normal(c, 0.1, (300, 4)) for c in (0.0, 5.0, -5.0)])
    pdf = pd.DataFrame({"vec_id": range(900),
                        "embedding": [r.tolist() for r in X]})
    pdf.loc[3, "embedding"] = None
    out, C = embedding_kmeans(spark.createDataFrame(pdf), n_clusters=3,
                              seed=1)
    assert C.shape == (3, 4)
    p = out.toPandas()
    assert p[p.vec_id == 3].cluster.isna().all()
    valid = p[p.vec_id != 3].copy()
    valid["blob"] = valid.vec_id.astype(int).apply(
        lambda i: 0 if i < 300 else (1 if i < 600 else 2))
    # each planted blob maps to exactly one learned cluster
    assert (valid.groupby("blob").cluster.nunique() == 1).all()
    assert valid.cluster.nunique() == 3


def test_semantic_dedup_keep_policies(spark):
    import numpy as np
    import pandas as pd

    from fast_causal_inference_spark.datapipe.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    rng = np.random.default_rng(0)
    base = rng.normal(0, 1, 8)
    base /= np.linalg.norm(base)
    vecs = [base.tolist(),
            (base + rng.normal(0, 0.001, 8)).tolist(),   # near-dup of base
            (base + rng.normal(0, 0.3, 8)).tolist(),     # same cluster
            (-base).tolist()]                            # other cluster
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1, 2, 3], "embedding": vecs}))
    pairs = semantic_dedup_pairs(df, threshold=0.999, n_lists=2,
                                 sample_per_list=2, seed=3,
                                 with_centroid_sim=True).toPandas()
    assert len(pairs) == 1 and {"centroid_sim_a",
                                "centroid_sim_b"} <= set(pairs.columns)
    low = semantic_dedup(df, threshold=0.999, n_lists=2,
                         sample_per_list=2, seed=3).toPandas()
    assert sorted(low.vec_id) == [0, 2, 3]
    far = semantic_dedup(df, threshold=0.999, n_lists=2, sample_per_list=2,
                         seed=3, keep="centroid_far").toPandas()
    # exactly one of the dup pair survives; keeper is the centroid-farther
    kept = set(far.vec_id) & {0, 1}
    assert len(kept) == 1
    r = pairs.iloc[0]
    expect_keep = int(r.id_a if r.centroid_sim_a <= r.centroid_sim_b
                      else r.id_b)
    assert kept == {expect_keep}
    with pytest.raises(ValueError, match="keep"):
        semantic_dedup(df, keep="median")


def test_ivfpq_knn_recall_and_encode(spark):
    import numpy as np
    import pandas as pd

    from fast_causal_inference_spark.datapipe.similarity import (
        ivfpq_encode,
        ivfpq_knn,
        knn_bruteforce,
        train_ivfpq,
    )
    from fast_causal_inference_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    model = train_ivfpq(emb, n_lists=16, m=8, ks=32, seed=3)
    assert model["C"].shape[1] == 64 and model["codebooks"].shape == (8, 32, 8)
    codes = ivfpq_encode(emb, model).cache()
    cpdf = codes.toPandas()
    assert cpdf.__list.between(0, 15).all()
    assert all(len(c) == 8 and max(c) < 32 and min(c) >= 0
               for c in cpdf.__code)
    assert len(cpdf) == emb.where(F.col("embedding").isNotNull()).count()

    exact = knn_bruteforce(emb, q, k=5).toPandas()
    approx = ivfpq_knn(emb, q, k=5, n_lists=16, m=8, ks=32, n_probe=6,
                       refine=4, seed=3, model=model, codes=codes).toPandas()
    hits = 0
    for qid in exact.query_id.unique():
        e = set(exact.loc[exact.query_id == qid, "vec_id"])
        a = set(approx.loc[approx.query_id == qid, "vec_id"])
        hits += len(e & a)
    assert hits / len(exact) > 0.6
    # the probed query always finds itself, and rerank scores are exact
    self_rows = approx[approx.query_id == approx.vec_id]
    assert len(self_rows) == 5
    assert np.allclose(self_rows.score, 1.0)
    # deterministic: retrain + re-search reproduces identical rows
    again = ivfpq_knn(emb, q, k=5, n_lists=16, m=8, ks=32, n_probe=6,
                      refine=4, seed=3).toPandas()
    pd.testing.assert_frame_equal(
        approx.sort_values(["query_id", "rank"]).reset_index(drop=True),
        again.sort_values(["query_id", "rank"]).reset_index(drop=True))
    codes.unpersist()


def test_ivfpq_validation(spark):
    from fast_causal_inference_spark.datapipe.similarity import (
        ivfpq_knn,
        train_ivfpq,
    )
    from fast_causal_inference_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="divisible"):
        train_ivfpq(emb, n_lists=4, m=7)
    q = emb.select(F.col("vec_id").alias("query_id"),
                   F.col("embedding").alias("query_vec"))
    with pytest.raises(ValueError, match="max_queries"):
        ivfpq_knn(emb, q, k=3, n_lists=4, m=8, ks=8, max_queries=2)


def test_release_dedup_caches(spark):
    """The suite's internal caches (shingle index, prefix ranker) are
    registered and released in bulk; release is idempotent."""
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.datapipe.cachereg import (
        release_dedup_caches,
    )
    from fast_causal_inference_spark.datapipe.dedup import (
        ngram_jaccard_pairs,
    )

    release_dedup_caches()                      # clean slate
    toy = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array(*[
            F.conv(F.xxhash64("id", F.lit(i)).cast("string"), 10, 36)
            for i in range(8)])).alias("text"))
    pairs = ngram_jaccard_pairs(toy, threshold=0.5)
    pairs.count()
    assert release_dedup_caches() >= 2          # inv + ranked at least
    assert release_dedup_caches() == 0          # registry cleared
    pairs.count()                               # output still computable


def test_knn_null_vectors_never_rank(spark):
    """NULL/zero-norm corpus vectors must not appear as neighbors: the
    top-k window ranks rows AFTER a score-notnull filter (desc ordering
    alone still row_numbers NULLs into the tail ranks)."""
    import pandas as pd

    from fast_causal_inference_spark.datapipe.similarity import (
        knn_bruteforce,
    )

    pdf = pd.DataFrame({
        "vec_id": list(range(24)),
        "embedding": [[1.0, float(i)] for i in range(4)]
        + [None] * 10 + [[0.0, 0.0]] * 10})
    q = pd.DataFrame({"qid": [0], "qv": [[1.0, 1.0]]})
    out = knn_bruteforce(spark.createDataFrame(pdf),
                         spark.createDataFrame(q), k=10,
                         id_col="vec_id", vec_col="embedding",
                         query_id_col="qid", query_vec_col="qv").toPandas()
    # only the 4 valid vectors qualify; no NULL-score garbage rows
    assert len(out) == 4
    assert out["score"].notna().all()


def test_exact_dedup_keep_validation(spark):
    import pandas as pd

    from fast_causal_inference_spark.datapipe.dedup import exact_dedup

    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a", "a"]}))
    with pytest.raises(ValueError, match="keep"):
        exact_dedup(df, keep="lowest")
    assert exact_dedup(df, keep="max").collect()[0]["doc_id"] == 2


def test_connected_components_schema_path_independent(spark):
    """Empty, driver union-find, and (schema-wise) distributed paths all
    preserve the input id type."""
    from pyspark.sql.types import IntegerType

    from fast_causal_inference_spark.datapipe.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)],
        "id_a int, id_b int")
    out = connected_components(pairs)
    assert isinstance(out.schema["id"].dataType, IntegerType)
    assert isinstance(out.schema["component"].dataType, IntegerType)
    comp = {r["id"]: r["component"] for r in out.collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    empty = connected_components(pairs.where("id_a > 100"))
    assert isinstance(empty.schema["id"].dataType, IntegerType)


def test_decode_fn_injection_seam(spark):
    """Round 9: featurize stages accept a custom decode_fn that
    replaces the pure-Python codecs inside the mapInPandas body — the
    production seam for native codec libraries."""
    import numpy as np
    import pandas as pd

    from fast_causal_inference_spark.datapipe.multimodal import (
        audio_stats,
        image_stats,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2],
                      "payload": [b"not-an-image", b"x"]}))

    def fake_image_decode(payload):
        # a stand-in for e.g. a libjpeg-turbo wrapper
        return np.full((4, 6, 3), len(payload), dtype=np.uint8)

    rows = {r["doc_id"]: r for r in
            image_stats(df, decode_fn=fake_image_decode).collect()}
    assert rows[1]["width"] == 6 and rows[1]["height"] == 4
    assert rows[1]["mean_pixel"] == 12.0     # len(b"not-an-image")
    assert rows[2]["mean_pixel"] == 1.0

    def fake_audio_decode(payload):
        return np.full(100, len(payload), dtype=np.int16), 8000

    arows = {r["doc_id"]: r for r in
             audio_stats(df, decode_fn=fake_audio_decode).collect()}
    assert arows[1]["n_samples"] == 100
    assert arows[1]["sample_rate"] == 8000
    assert arows[1]["rms"] == 12.0

    # default path still decodes real payloads (seam is opt-in)
    from fast_causal_inference_spark.datapipe.multimodal import (
        encode_bmp,
    )
    img = np.full((3, 5, 3), 9, dtype=np.uint8)
    df2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "payload": [encode_bmp(img)]}))
    r = image_stats(df2).collect()[0]
    assert (r["width"], r["height"], r["mean_pixel"]) == (5, 3, 9.0)


# ----------------------------------------- round 10: BMP/PPM widening

def test_bmp_32bit_and_8bit_palette_roundtrip():
    """32-bit BI_RGB and 8-bit palette (BI_RGB + BI_RLE8) leave the
    only-24-bit raise; hand-built container bytes + own encoder."""
    import struct

    import numpy as np

    from fast_causal_inference_spark.datapipe.multimodal import (
        decode_bmp,
        encode_bmp,
        encode_bmp8,
    )

    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
    # 32-bit: hand-build from the 24-bit encoder's layout
    h, w = img.shape[:2]
    data = b"".join(
        np.hstack([img[y, :, ::-1],
                   np.full((w, 1), 0xAA, np.uint8)]).tobytes()
        for y in range(h - 1, -1, -1))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 32, 0, len(data),
                       2835, 2835, 0, 0)
    assert np.array_equal(decode_bmp(header + info + data), img)
    # 8-bit palette, both compressions, incl. long runs for RLE
    pal = rng.integers(0, 256, (17, 3), dtype=np.uint8)
    idx = rng.integers(0, 17, (9, 23), dtype=np.uint8)
    idx[3, :] = 7                              # a full-row run
    idx[5, 10:] = 2
    want = pal[idx]
    for rle in (False, True):
        got = decode_bmp(encode_bmp8(idx, pal, rle=rle))
        assert np.array_equal(got, want), rle
    # RLE must actually compress the runs
    assert len(encode_bmp8(np.full((16, 64), 3, np.uint8), pal,
                           rle=True)) < \
        len(encode_bmp8(np.full((16, 64), 3, np.uint8), pal, rle=False))
    # 24-bit path unchanged
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)
    # named raise for the still-unsupported shapes
    bad = bytearray(encode_bmp(img))
    struct.pack_into("<H", bad, 28, 4)        # bpp=4
    import pytest as _pytest
    with _pytest.raises(NotImplementedError, match="bpp=4"):
        decode_bmp(bytes(bad))


def test_bmp_rle8_absolute_and_delta_modes():
    """Hand-built RLE8 stream exercising absolute mode (word-aligned)
    and the delta escape."""
    import struct

    import numpy as np

    from fast_causal_inference_spark.datapipe.multimodal import (
        decode_bmp,
    )

    pal = np.array([[10, 10, 10], [20, 20, 20], [30, 30, 30],
                    [40, 40, 40]], np.uint8)
    pal_bytes = b"".join(bytes([b, g, r, 0]) for r, g, b in pal)
    # 4x3 bottom-up: row0: abs run [1,2,3] then pixel 0; row1: delta
    # (1,1) then run; row2 after delta: 2 of color 3
    body = (b"\x00\x03\x01\x02\x03\x00"      # absolute 3 (padded)
            + b"\x01\x00"                     # run 1 of color 0
            + b"\x00\x00"                     # EOL
            + b"\x00\x02\x01\x01"             # delta dx=1 dy=1
            + b"\x02\x03"                     # 2 of color 3 at (1,2)
            + b"\x00\x01")                    # EOB
    off = 54 + len(pal_bytes)
    header = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, 4, 3, 1, 8, 1, len(body),
                       2835, 2835, 4, 0)
    out = decode_bmp(header + info + pal_bytes + body)
    # bottom row (y=2 after flip): indices 1,2,3,0
    assert out[2].tolist() == [[20, 20, 20], [30, 30, 30],
                               [40, 40, 40], [10, 10, 10]]
    # delta leaves skipped cells at index 0; (1,2),(1,3)... y=0 row top
    assert out[0, 1].tolist() == [40, 40, 40]
    assert out[0, 2].tolist() == [40, 40, 40]
    assert out[0, 0].tolist() == [10, 10, 10]


def test_ppm_arbitrary_maxval():
    import numpy as np
    import pytest as _pytest

    from fast_causal_inference_spark.datapipe.multimodal import (
        decode_ppm,
    )

    # maxval 100, 1 byte/sample: 50 -> round(50*255/100) = 128
    p = b"P2\n" # placeholder to silence linters
    p = (b"P6\n3 1\n100\n"
         + bytes([0, 0, 0, 50, 50, 50, 100, 100, 100]))
    out = decode_ppm(p)
    assert out[0].tolist() == [[0, 0, 0], [128, 128, 128],
                               [255, 255, 255]]
    # maxval 65535, 2-byte MSB samples
    import struct
    vals = [0, 32768, 65535]
    p16 = (b"P6\n1 3\n65535\n"
           + b"".join(struct.pack(">HHH", v, v, v) for v in vals))
    out16 = decode_ppm(p16)
    assert [r[0][0] for r in out16] == [0, 128, 255]
    with _pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n0\n\x00\x00\x00")


@pytest.mark.parametrize("memory, edges", [
    ("8g", 20_000_000),              # the session default: unchanged cutoff
    ("8G", 20_000_000),
    (" 8gb ", 20_000_000),
    ("8192", 20_000_000),            # a bare number is MiB, as Spark reads it
    ("512m", 1_250_000),
    ("2t", 5_120_000_000),
    ("1g", 2_500_000),
])
def test_cc_driver_cutoff_from_driver_memory(memory, edges):
    assert dedup.driver_edge_cutoff(memory) == edges


@pytest.mark.parametrize("memory", ["", "eight", "8x", "-1g", "1.5g"])
def test_cc_driver_cutoff_rejects_non_sizes(memory):
    with pytest.raises(ValueError, match="not a memory size"):
        dedup.driver_edge_cutoff(memory)
