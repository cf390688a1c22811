"""Unit tests for dedup / text / similarity / multimodal / stats operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from seronet_data_validator_spark.operators import dedup, similarity, text
from seronet_data_validator_spark.operators.multimodal import (
    audio_features,
    audio_resample,
    image_features,
)
from seronet_data_validator_spark.operators.stats import (
    drift_report,
    ks_from_quantiles,
    profile,
    psi_from_quantiles,
)
from seronet_data_validator_spark.sources.clips import generate_clips


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
    (2, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup of 1
    (4, "completely different content about spark distributed query engines"),
    (5, "yet another unrelated document discussing audio codecs and wav files"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_duplicates(spark, docs):
    out = dedup.exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0]["n"] == 2 and out[0]["keep_id"] == 1 and out[0]["dup_ids"] == [1, 2]


def test_minhash_dedup_finds_near_and_exact(spark, docs):
    pairs = dedup.minhash_dedup(docs, jaccard_threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # exact dup: jaccard 1.0
    assert (1, 3) in got or (2, 3) in got  # near dup
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in got)


def test_simhash_near_duplicates(spark, docs):
    fp = dedup.simhash(docs)
    vals = {r["doc_id"]: r["simhash"] for r in fp.collect()}
    assert vals[1] == vals[2]  # identical text -> identical fingerprint
    pairs = dedup.simhash_near_duplicates(fp, max_hamming=8).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert (4, 5) not in got


def test_token_count_and_quality(spark, docs):
    tc = text.token_count(docs).collect()
    assert {r["doc_id"]: r["n_tokens_ws"] for r in tc}[1] == 13
    q = text.quality_score(docs)
    row = {r["doc_id"]: r for r in q.collect()}[1]
    assert 0 <= row["quality_score"] <= 1
    assert row["stopword_ratio_en"] > 0


def test_language_id(spark):
    rows = [
        (1, "the cat sat on the mat and it is a good day for the walk"),
        (2, "der hund ist nicht zu klein und die katze ist mit den anderen"),
        (3, "le chat est sur la table et les enfants sont pour une promenade"),
        (4, "el perro es un animal y los gatos son una especie que vive por aqui"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"] for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es"}


def test_fingerprint_stability(spark, docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(docs).collect()}
    assert fp[1] == fp[2]           # identical docs
    assert fp[1] != fp[4]           # different docs


def test_portable_shingles_minhash_same_dup_structure(spark, docs):
    # Portable shingles feed the unchanged minhash fold: identical docs get
    # identical signatures; the estimated jaccard of the near-dup pair stays
    # far above the unrelated pair's, as with the xxhash64 shingles.
    sig = {
        r["doc_id"]: r["minhash_sig"]
        for r in dedup.minhash_signature(dedup.shingles_portable(docs)).collect()
    }
    assert sig[1] == sig[2]
    est = lambda a, b: sum(x == y for x, y in zip(sig[a], sig[b])) / len(sig[a])
    assert est(1, 3) > est(1, 4)
    assert all(0 <= v < (1 << 31) - 1 for s in sig.values() for v in s)


def test_simhash_portable_same_dup_structure(spark, docs):
    vals = {r["doc_id"]: r["simhash"] for r in dedup.simhash_portable(docs).collect()}
    assert vals[1] == vals[2]  # identical text -> identical signature
    ham = lambda a, b: bin((vals[a] ^ vals[b]) & ((1 << 64) - 1)).count("1")
    assert ham(1, 3) < ham(1, 4)  # near-dup closer than unrelated


def test_fingerprint_portable_matches_xxhash_dup_structure(spark, docs):
    # Portable Karp-Rabin variant: same dup-detection structure as the
    # xxhash64 production variant, plus a hand-computed known value.
    fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint_portable(docs).collect()}
    assert fp[1] == fp[2] and fp[1] != fp[4]
    assert all(0 <= v < 1_000_000_007 for v in fp.values())

    short = spark.createDataFrame([(1, "just three tokens")], "doc_id long, text string")
    row = text.fingerprint_portable(short).collect()[0]
    mod = 1_000_000_007
    def tok_h(t):
        acc = 0
        for c in t:
            acc = (acc * 31 + ord(c)) % mod
        return acc
    expect = 0
    for t in ["just", "three", "tokens"]:
        expect = (expect * 131 + tok_h(t)) % mod
    assert row["fingerprint"] == expect  # <window tokens: single truncated gram


def test_brute_force_topk_and_ivf_agree(spark):
    rng = np.random.default_rng(9)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(100)],
        "vec_id long, embedding array<float>",
    ).cache()
    queries = spark.createDataFrame(
        [(0, [float(x) for x in rng.normal(0, 1, 8)])],
        "query_id long, query_vec array<float>",
    )
    exact = similarity.brute_force_topk(corpus, queries, k=5).collect()
    assert len(exact) == 5
    assert [r["rank"] for r in sorted(exact, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
    cents = similarity.train_centroids(corpus, n_cells=4, iters=2)
    assigned = similarity.assign_cells(corpus, cents).cache()
    approx = similarity.ivf_topk(assigned, queries, cents, k=5, nprobe=4)  # nprobe=all -> exact
    got = {r["vec_id"] for r in approx.collect()}
    want = {r["vec_id"] for r in exact}
    assert got == want  # probing every cell must reproduce brute force


def test_audio_features_and_resample(spark):
    clips = generate_clips(spark, 20, seed=42).cache()
    feats = audio_features(clips).collect()
    assert len(feats) == 20
    for r in feats:
        assert r["n_samples"] > 0 and 0 < r["rms"] < 1 and r["peak"] <= 1.0
    res = audio_resample(clips, 16000)
    out = audio_features(res).collect()
    assert all(r["sr_hz"] == 16000 for r in out)


def test_image_features_compressed_stubbed(spark):
    """Compressed formats stay honestly stubbed (no codec libs in this
    container): NULL features, plumbing intact."""
    df = spark.createDataFrame([("a", b"\x89PNG fake")], "item_id string, bytes binary")
    out = image_features(df).collect()
    assert len(out) == 1 and out[0]["width"] is None


def test_image_features_decodes_ppm_and_bmp(spark):
    """Uncompressed public formats decode natively (numpy over the PPM P6 /
    24-bit BI_RGB BMP specs): real (width, height, mean_luma)."""
    import numpy as np

    from seronet_data_validator_spark.operators.multimodal import bmp_bytes, ppm_bytes

    rgb = np.zeros((2, 3, 3), np.uint8)
    rgb[0, :, 0] = 255  # top row pure red
    rgb[1, :, 2] = 255  # bottom row pure blue
    expected_luma = (0.299 * 255 + 0.114 * 255) / 2
    gray = np.array([[0, 100], [200, 255]], np.uint8)
    pgm = b"P5\n2 2\n255\n" + gray.tobytes()  # binary PGM, netpbm spec
    df = spark.createDataFrame(
        [("ppm", bytearray(ppm_bytes(rgb))), ("bmp", bytearray(bmp_bytes(rgb))),
         ("pgm", bytearray(pgm)),
         ("trunc", bytearray(ppm_bytes(rgb)[:-4]))],
        "item_id string, bytes binary",
    )
    out = {r["item_id"]: r for r in image_features(df).collect()}
    for k in ("ppm", "bmp"):
        assert (out[k]["width"], out[k]["height"]) == (3, 2)
        assert abs(out[k]["mean_luma"] - expected_luma) < 1e-6, k
    # P5 grayscale: luma of replicated-gray equals the mean gray value
    assert (out["pgm"]["width"], out["pgm"]["height"]) == (2, 2)
    assert abs(out["pgm"]["mean_luma"] - float(gray.mean())) < 1e-6
    assert out["trunc"]["width"] is None  # truncated payload → NULL, no crash


def test_profile_and_drift(spark):
    df = spark.range(0, 1000).select(
        F.col("id").cast("double").alias("x"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") % 7).cast("double").alias("y"),
        F.when(F.col("id") % 2 == 0, "").otherwise("v").alias("s"),
    )
    p = profile(df, ["x", "y"], ["s"])
    rows = {r["column_name"]: r for r in p.collect()}
    assert rows["x"]["n"] == 1000 and rows["x"]["null_rate"] == 0.0
    assert abs(rows["y"]["null_rate"] - 0.1) < 1e-9
    assert rows["s"]["n_blank"] == 500
    assert rows["x"]["quantiles"] is not None
    # drift: same dist -> ~0; shifted dist -> large
    q = [float(i) for i in range(1, 20)]
    assert ks_from_quantiles(q, q) == 0.0
    assert ks_from_quantiles(q, [x + 100 for x in q]) == pytest.approx(0.95, abs=0.1)
    assert psi_from_quantiles(q, q) == pytest.approx(0.0, abs=1e-9)
    assert psi_from_quantiles(q, [x + 100 for x in q]) > 1.0
    shifted = df.select((F.col("x") + 500).alias("x"), "y", "s")
    rep = drift_report(profile(shifted, ["x"]), p.where(F.col("column_name") == "x"))
    assert rep[0]["drifted"] is True


def test_connected_components_transitive_chain(spark):
    """a~b, b~c, (d~e) with no a~c pair: components must be {a,b,c} and
    {d,e}, each labelled by its minimum id."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # a 200-node chain: plain 1-hop min propagation would need 200 rounds
    # (silently truncated at max_iter=20); pointer jumping needs ~8
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    comp = dedup.connected_components(pairs)
    rows = comp.collect()
    assert len(rows) == 201
    assert {r["component"] for r in rows} == {0}


def test_asof_join_semantics(spark):
    """Union+window as-of join: inclusive (<=) match, per-key isolation,
    NULLs when no prior right row exists."""
    from seronet_data_validator_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (1, 5, "l0"), (2, 15, "l3")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 7, 0.7), (1, 10, 1.0), (1, 19, 1.9), (2, 99, 9.9)],
        "k long, ts long, value double",
    )
    out = {
        r["tag"]: (r["asof_ts"], r["asof_value"])
        for r in asof_join(left, right, on="k").collect()
    }
    assert out["l0"] == (None, None)        # nothing at or before ts=5
    assert out["l1"] == (10, 1.0)           # equal timestamp matches (<=)
    assert out["l2"] == (19, 1.9)           # latest prior, not first
    assert out["l3"] == (None, None)        # key 2's only right row is later


def test_asof_join_null_attrs_not_stitched(spark):
    """A right row with a NULL attribute must NOT have that field back-filled
    from an OLDER right row: the match is the whole most-recent row, atomically
    (struct-based last(), not per-column last(ignorenulls))."""
    from seronet_data_validator_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 30, "l")], "k long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, 10, 0.5, "old"), (1, 20, None, "new")],
        "k long, ts long, value double, label string",
    )
    row = asof_join(left, right, on="k").collect()[0]
    assert row["asof_ts"] == 20
    assert row["asof_label"] == "new"
    # the critical assertion: value comes from the ts=20 row (NULL), not ts=10
    assert row["asof_value"] is None


def test_sessionize_gap_semantics(spark):
    """Gap-based sessions: gap == threshold stays in session, gap > starts a
    new one, per-key isolation; one shuffle + one sort for the whole op."""
    from seronet_data_validator_spark.operators.temporal import sessionize

    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),  # s0
        (1, "2024-01-01 00:40:00"),                              # exactly 30min -> s0
        (1, "2024-01-01 01:40:01"),                              # > 1h gap -> s1
        (2, "2024-01-01 00:00:00"),                              # other key -> own s0
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    out = sessionize(df, gap_seconds=1800)
    got = sorted((r["user_id"], str(r["ts"]), r["session_idx"]) for r in out.collect())
    assert [g[2] for g in got] == [0, 0, 0, 1, 0]

    # ONE keyed shuffle for both windows (AQE prints the final plan twice,
    # and the parallelized local input adds its own round-robin exchange —
    # count only the hash exchange on the session key, pre-finalization)
    plan = sessionize(df, gap_seconds=1800)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_range_join_bucket_boundaries(spark):
    """Bucketed range join: pairs across a bucket edge are found, each pair
    exactly once, window bounds inclusive [0, W], per-key isolation."""
    from seronet_data_validator_spark.operators.temporal import range_join

    mk = lambda sec: f"2024-01-01 00:{sec // 60:02d}:{sec % 60:02d}"
    left = spark.createDataFrame(
        [(1, 100, mk(55)), (1, 101, mk(170)), (2, 200, mk(55))],
        "k long, event_id long, ts string",
    ).select("k", "event_id", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, 900, mk(54)),    # before left 100 -> no
         (1, 901, mk(65)),    # 10s after 100, crosses the 60s bucket edge
         (1, 902, mk(115)),   # exactly W=60s after 100 -> inclusive yes
         (1, 903, mk(116)),   # 61s after 100 -> no; before 101 -> no
         (1, 905, mk(181)),   # 11s after 101, next bucket -> yes
         (2, 904, mk(56))],   # other key, after its own left
        "k long, event_id long, ts string",
    ).select("k", "event_id", F.col("ts").cast("timestamp").alias("ts"))

    out = range_join(left, right, on="k", within_seconds=60)
    pairs = sorted((r["event_id"], r["r_event_id"]) for r in out.collect())
    assert pairs == [(100, 901), (100, 902), (101, 905), (200, 904)]


def test_deterministic_split_and_quota(spark):
    from seronet_data_validator_spark.operators.sampling import (
        deterministic_split,
        per_key_cap,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", 100 - i) for i in range(300)],
        "doc_id long, source string, n_chars long",
    )
    full = {r["doc_id"]: r["split"] for r in deterministic_split(df).collect()}
    # fractions roughly honored on 300 ids
    from collections import Counter
    c = Counter(full.values())
    assert c["train"] > 280 and set(c) <= {"train", "val", "test"}
    # STABILITY: a row's split never changes when the corpus shrinks/grows
    sub = {r["doc_id"]: r["split"]
           for r in deterministic_split(df.where(F.col("doc_id") < 50)).collect()}
    assert all(full[k] == v for k, v in sub.items())
    # and is partition-invariant
    rep = {r["doc_id"]: r["split"]
           for r in deterministic_split(df.repartition(7)).collect()}
    assert rep == full

    capped = per_key_cap(df, key="source", n=10, order_by="n_chars")
    rows = capped.collect()
    assert len(rows) == 30
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["n_chars"])
    # best-first: source s{k} holds i = k, k+3, ... with n_chars = 100 - i,
    # so its 10 largest are 100-k down to 100-(k+27)
    for src, vals in by_src.items():
        k = int(src[1])
        assert sorted(vals, reverse=True) == [100 - k - 3 * j for j in range(10)]


def test_vocabulary_counts(spark, docs):
    out = {r["token"]: (r["term_count"], r["doc_freq"])
           for r in text.vocabulary(docs, top_n=100).collect()}
    # 'the' appears twice in each of docs 1-3, never in 4-5
    assert out["the"] == (6, 3)
    # 'fast' once in each of docs 1-3
    assert out["fast"] == (3, 3)


def test_pack_documents_layout(spark):
    from seronet_data_validator_spark.operators.sampling import pack_documents

    df = spark.createDataFrame(
        [(1, "a", 900), (2, "a", 900), (3, "a", 900), (4, "a", 100), (5, "b", 50)],
        "doc_id long, source string, n_tokens long",
    )
    out = {r["doc_id"]: (r["pack_id"], r["pack_offset"])
           for r in pack_documents(df, budget_tokens=1000, group_col="source").collect()}
    assert out[1] == (0, 0)        # starts pack 0
    assert out[2] == (0, 900)      # starts inside pack 0 (straddles into 1)
    assert out[3] == (1, 1800)     # starts inside pack 1
    assert out[4] == (2, 2700)     # starts inside pack 2
    assert out[5] == (0, 0)        # group b has its own layout


def test_tfidf_scores(spark, docs):
    import math

    out = text.tfidf(docs).collect()
    by = {(r["doc_id"], r["token"]): r for r in out}
    # 'the' appears twice in docs 1-3, df=3, N=5
    r = by[(1, "the")]
    assert r["tf"] == 2 and r["doc_freq"] == 3
    assert abs(r["tfidf"] - round(2 * (math.log(6 / 4) + 1), 4)) < 1e-9
    # a token unique to doc 4 gets the max idf
    r4 = by[(4, "spark")]
    assert r4["doc_freq"] == 1
    assert abs(r4["tfidf"] - round(math.log(6 / 2) + 1, 4)) < 1e-9


def test_centroid_distances(spark):
    from seronet_data_validator_spark.operators.similarity import (
        centroid_distances,
        group_centroids,
    )

    rows = [
        (1, 0, [0.0, 0.0]), (2, 0, [2.0, 0.0]),   # centroid (1, 0)
        (3, 1, [10.0, 10.0]),                      # its own centroid
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    cent = {(r["label"], r["dim"]): r["mean_val"] for r in group_centroids(df).collect()}
    assert cent[(0, 0)] == 1.0 and cent[(0, 1)] == 0.0 and cent[(1, 0)] == 10.0
    dist = {r["vec_id"]: r["dist"] for r in centroid_distances(df).collect()}
    assert dist == {1: 1.0, 2: 1.0, 3: 0.0}


def test_ngram_contamination(spark):
    train = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten"),
         (2, "totally unrelated training content with different words here now")],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(10, "zzz one two three four five six seven eight qqq"),  # shares 8-grams with 1
         (11, "no overlap whatsoever in this tiny evaluation document at all")],
        "doc_id long, text string",
    )
    out = dedup.ngram_contamination(train, test, n=8).collect()
    got = {(r["test_id"], r["train_id"]): r["shared_ngrams"] for r in out}
    # test 10 shares exactly one 8-gram ("one ... eight") with train 1
    assert got == {(10, 1): 1}
    # portable variant finds the same pair set
    outp = dedup.ngram_contamination(train, test, n=8, portable=True).collect()
    assert {(r["test_id"], r["train_id"]): r["shared_ngrams"] for r in outp} == got


def test_weighted_mix_proportions(spark):
    from seronet_data_validator_spark.operators.sampling import weighted_mix

    rows = [(i, "a" if i < 400 else ("b" if i < 600 else "c")) for i in range(700)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = weighted_mix(df, group_col="source", weights={"a": 0.25, "b": 0.25, "c": 0.5})
    from collections import Counter
    c = Counter(r["source"] for r in out.collect())
    # c is the binding group (100 rows / 0.5 -> K=200): kept ≈ 50/50/100
    assert c["c"] == pytest.approx(100, abs=15)
    assert c["a"] == pytest.approx(50, abs=15)
    assert c["b"] == pytest.approx(50, abs=15)
    # deterministic + partition-invariant
    ids = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in weighted_mix(
            df.repartition(9), group_col="source",
            weights={"a": 0.25, "b": 0.25, "c": 0.5},
        ).collect()
    )
    assert ids == ids2


def test_pii_scan_and_redact(spark):
    rows = [
        (1, "mail me at a.b+c@ex.co or 555-12-3456 today"),
        (2, "call 415-555-1234 from 10.0.0.1 please"),
        (3, "nothing sensitive here"),
        (4, "two mails x@y.io z@w.dev and ssn 123-45-6789"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.pii_redact(text.pii_scan(df)).collect()}
    assert (out[1]["n_email"], out[1]["n_ssn"]) == (1, 1)
    assert (out[2]["n_phone"], out[2]["n_ipv4"]) == (1, 1)
    assert out[3]["n_pii_total"] == 0 and out[3]["text_redacted"] == rows[2][1]
    assert (out[4]["n_email"], out[4]["n_ssn"]) == (2, 1)
    assert out[1]["text_redacted"] == "mail me at [EMAIL] or [SSN] today"
    assert out[2]["text_redacted"] == "call [PHONE] from [IPV4] please"
    assert out[4]["text_redacted"] == "two mails [EMAIL] [EMAIL] and ssn [SSN]"
    # SSN pattern wins over phone on xxx-xx-xxxx; phone never matches it
    assert out[1]["n_phone"] == 0


def test_repetition_stats(spark):
    rows = [
        (1, "spam spam spam spam"),            # all dup, one token dominates
        (2, "a b c d"),                        # all distinct
        (3, "x y x y x y"),                    # distinct tokens 2, 2-grams repeat
        (4, "solo"),                           # single token edge case
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert out[1]["dup_token_ratio"] == 0.75 and out[1]["top_token_ratio"] == 1.0
    assert out[2]["dup_token_ratio"] == 0.0 and out[2]["dup_2gram_ratio"] == 0.0
    assert out[3]["dup_token_ratio"] == pytest.approx(1 - 2 / 6, abs=1e-4)
    # 5 bigrams, 2 distinct ("x y", "y x")
    assert out[3]["dup_2gram_ratio"] == pytest.approx(1 - 2 / 5, abs=1e-4)
    assert out[4]["n_tokens"] == 1 and out[4]["dup_2gram_ratio"] == 0.0
    assert out[2]["top_token_ratio"] == 0.25


def test_document_filter_gates_and_reasons(spark):
    keep_text = (
        "the quick brown fox jumps over a lazy dog and runs to the old "
        "mill in town for food today again"
    )  # 21 tokens, en stopwords, no gate trips
    rows = [
        (1, keep_text),
        (2, "hello world"),  # too short; no stopwords -> zh tie-break -> lang
        (3, keep_text + " contact a@b.co"),  # pii only
        (4, " ".join(["the"] * 25)),  # repetition gates, lang stays en
        (5, " ".join("abcdefghijklmnopqrst")),  # 20 1-char tokens -> token_len
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.document_filter(df).collect()}
    assert out[1]["keep"] and out[1]["reasons"] == ""
    assert out[1]["lang_pred"] == "en" and out[1]["n_tokens"] == 21
    # reasons are name-sorted and comma-joined
    assert out[2]["reasons"] == "lang,repetition_top,too_short"
    assert out[3]["reasons"] == "pii" and not out[3]["keep"]
    assert out[4]["reasons"] == "repetition_2gram,repetition_top"
    assert out[5]["reasons"] == "token_len"
    # threshold overrides reach the gates
    out2 = {
        r["doc_id"]: r
        for r in text.document_filter(df, min_tokens=1, max_pii=5).collect()
    }
    assert "too_short" not in out2[2]["reasons"]
    assert out2[3]["keep"]


def test_unigram_logprob_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.unigram_logprob(df).collect()}
    # corpus counts: a=2 b=2 c=1, N=5
    assert out[1]["n_tokens"] == 3
    assert out[1]["avg_logprob"] == pytest.approx(round(math.log(0.4), 4))
    assert out[1]["perplexity"] == pytest.approx(2.5, abs=1e-4)
    avg2 = (math.log(0.4) + math.log(0.2)) / 2
    assert out[2]["avg_logprob"] == pytest.approx(round(avg2, 4))
    assert out[2]["perplexity"] == pytest.approx(round(math.exp(-avg2), 4))


def test_global_sort_rank_matches_naive_window(spark):
    from pyspark.sql import Window

    from seronet_data_validator_spark.operators.sampling import global_sort_rank
    from seronet_data_validator_spark.operators.text import portable_token_hash

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["shuffle_rank"]
        for r in global_sort_rank(df, buckets=7).collect()
    }
    # naive single-window reference on the same scrambled hash
    hkey = (portable_token_hash(F.col("doc_id").cast("string"))
            * 1_103_515_245 + 12_345) % 1_000_000_007
    naive = {
        r["doc_id"]: r["rk"]
        for r in df.withColumn("_h", hkey)
        .withColumn("rk", F.row_number().over(
            Window.orderBy(F.col("_h"), F.col("doc_id"))))
        .collect()
    }
    assert got == naive
    assert sorted(got.values()) == list(range(1, 201))  # dense permutation
    # partition invariance
    got2 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in global_sort_rank(df.repartition(13), buckets=7).collect()
    }
    assert got2 == got


def test_duplicate_spans_semantics(spark):
    """ExactSubstr profile: cross-doc shared spans, within-doc repeats, and
    the short-doc single-span clamp all counted as designed."""
    w = 4
    rows = [
        # docs 1 and 2 share their full text: every span duplicated
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        # within-doc repeat: 'x1 x2 x3 x4' appears twice inside doc 3
        (3, "x1 x2 x3 x4 q r s x1 x2 x3 x4"),
        # short doc (< window tokens): one clamped span, unique
        (4, "just three tokens"),
        # fully unique doc
        (5, "u1 u2 u3 u4 u5 u6 u7"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_spans"], r["dup_spans"])
        for r in dedup.duplicate_spans(df, window=w).collect()
    }
    # 6 tokens, window 4 -> 3 spans each, all shared between docs 1 and 2
    assert out[1] == (3, 3) and out[2] == (3, 3)
    # doc 3: 11 tokens -> 8 spans; positions 0 and 7 both hash 'x1 x2 x3 x4'
    n3, d3 = out[3]
    assert n3 == 8 and d3 == 2
    assert out[4] == (1, 0)
    assert out[5] == (4, 0)
    # portable variant agrees on the dup/unique verdict per doc
    outp = {
        r["doc_id"]: (r["n_spans"], r["dup_spans"])
        for r in dedup.duplicate_spans(df, window=w, portable=True).collect()
    }
    assert outp == out


def test_semantic_dedup_pairs(spark):
    """SemDeDup: planted near-identical vectors are recovered; every
    reported cosine matches an exact numpy recomputation."""
    rng = np.random.RandomState(5)
    base = rng.randn(40, 8)
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(base)]
    for i in range(5):  # 100+i = tiny perturbation of i
        v = base[i] + rng.randn(8) * 1e-3
        rows.append((100 + i, [float(x) for x in v], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.semantic_dedup_pairs(df, n_cells=4, threshold=0.99).collect()
    found = {(r["id_a"], r["id_b"]) for r in out}
    for i in range(5):
        assert (i, 100 + i) in found, f"planted near-dup {i} missed"
    vecs = {r[0]: np.asarray(r[1]) for r in rows}
    for r in out:
        a, b = vecs[r["id_a"]], vecs[r["id_b"]]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= 0.989 and abs(cos - r["cos_sim"]) < 1e-3


def test_token_count_bpe_segmentation(spark):
    from seronet_data_validator_spark.operators.text import token_count_bpe

    rows = [(1, "don't stop"), (2, "hello world 123!"), (3, "a,b"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["n_tokens_bpe"] for r in token_count_bpe(df).collect()}
    # don | 't | ' stop'           -> 3
    # hello | ' world' | ' 123' | ! -> 4
    # a | , | b                    -> 3
    assert out == {1: 3, 2: 4, 3: 3, 4: 0}


def test_stratified_sample_deterministic_and_nested(spark):
    from seronet_data_validator_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 2 else "de") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    half = stratified_sample(df, strata_col="lang", fractions={"en": 0.5}, default_fraction=0.2)
    ids_half = {r["doc_id"] for r in half.collect()}
    assert ids_half == {r["doc_id"] for r in half.collect()}  # deterministic
    more = stratified_sample(df, strata_col="lang", fractions={"en": 0.8}, default_fraction=0.4)
    assert ids_half <= {r["doc_id"] for r in more.collect()}  # nested samples
    en = [i for i in ids_half if i % 2]
    de = [i for i in ids_half if not i % 2]
    # 200 per stratum at 50% / 20%: generous binomial-ish bands
    assert 60 <= len(en) <= 140 and 10 <= len(de) <= 70


def test_ks_two_sample_exact(spark):
    from pyspark.sql import functions as F
    from seronet_data_validator_spark.operators.stats import ks_two_sample

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            ("b", 2.0), ("b", 3.0), ("b", 4.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = ks_two_sample(df, value_col="v", sample_a=F.col("grp") == "a").first()
    # ECDFs: A={1,2,3}, B={2,3,4,4}; max gap at v=3: |1 - 0.5| = 0.5
    assert out["ks_d"] == 0.5 and out["n_a"] == 3 and out["n_b"] == 4
    # identical samples -> D = 0
    same = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0), ("a", 7.0), ("b", 7.0)], "grp string, v double"
    )
    assert ks_two_sample(same, value_col="v", sample_a=F.col("grp") == "a").first()["ks_d"] == 0.0
    # empty sample A -> null statistic, counts still reported
    out = ks_two_sample(df, value_col="v", sample_a=F.lit(False)).first()
    assert out["ks_d"] is None and out["n_a"] == 0 and out["n_b"] == 7


def test_editdist_verify(spark):
    from seronet_data_validator_spark.operators.dedup import editdist_verify

    docs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, "kitten"), (4, "zzzzzz")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    out = {(r["id_a"], r["id_b"]): r["edit_sim"]
           for r in editdist_verify(cands, docs).collect()}
    # lev(kitten, sitting)=3, maxlen 7 -> 1 - 3/7 = 0.5714
    assert out[(1, 2)] == 0.5714
    assert out[(1, 3)] == 1.0
    assert out[(1, 4)] == 0.0


def test_char_entropy_values(spark):
    import math

    from seronet_data_validator_spark.operators.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["char_entropy"] for r in char_entropy(docs).collect()}
    assert out[1] == 0.0            # single symbol
    assert out[2] == 1.0            # two equiprobable symbols
    assert out[3] == 2.0            # four equiprobable symbols
    assert 4 not in out             # empty doc: no distribution to score
    mixed = spark.createDataFrame([(9, "aab")], "doc_id long, text string")
    expect = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    got = char_entropy(mixed).first()["char_entropy"]
    assert abs(got - expect) < 1e-4


def test_skew_report_hot_keys(spark):
    from seronet_data_validator_spark.operators.stats import skew_report

    rows = [("hot",)] * 60 + [("warm",)] * 30 + [(f"k{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, "k string")
    out = skew_report(df, "k", top_n=3).collect()
    assert [r["key"] for r in out] == ["hot", "warm", "k0"]
    assert out[0]["n_rows"] == 60 and out[0]["share"] == 0.6
    # 12 distinct keys, mean = 100/12 -> hot skew factor = 60/(100/12) = 7.2
    assert out[0]["skew_factor"] == 7.2
    assert [r["rnk"] for r in out] == [1, 2, 3]


def test_select_survivors_keeps_best_per_cluster(spark):
    from seronet_data_validator_spark.operators.dedup import select_survivors

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
        "doc_id long, component long",
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5), (8, 5), (99, 1000)],
        "doc_id long, n_chars long",
    )
    out = select_survivors(comp, scores, score_col="n_chars").collect()
    keep = {r["doc_id"]: r["is_survivor"] for r in out}
    # cluster 1: docs 2 and 3 tie on score -> smallest id (2) survives
    assert keep == {1: False, 2: True, 3: False, 7: True, 8: False}
    # unclustered doc 99 is not emitted (kept implicitly)
    assert 99 not in keep


def test_numeric_histogram_bins_and_overflow(spark):
    from seronet_data_validator_spark.operators.stats import numeric_histogram

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.99,), (10.0,), (55.0,), (80.0,), (999.0,), (None,)],
        "v double",
    )
    out = {r["bin"]: (r["bin_lo"], r["bin_hi"], r["n_rows"])
           for r in numeric_histogram(df, "v", lo=0.0, hi=80.0, bins=8).collect()}
    assert out[-1] == (None, None, 1)        # underflow
    assert out[0] == (0.0, 10.0, 2)          # [0, 10): 0.0 and 9.99
    assert out[1] == (10.0, 20.0, 1)         # boundary lands in upper bin
    assert out[5] == (50.0, 60.0, 1)
    assert out[8] == (None, None, 2)         # overflow: 80.0 and 999.0
    assert sum(v[2] for v in out.values()) == 7  # NULL excluded


def test_psi_by_group_attribution(spark):
    import math

    from seronet_data_validator_spark.operators.stats import psi_by_group

    rows = [("A", i + 0.5) for i in range(10)] + [("B", 0.5)] * 10
    df = spark.createDataFrame(rows, "grp string, v double")
    out = {r["grp"]: r for r in
           psi_by_group(df, group_col="grp", value_col="v", lo=0.0, hi=10.0,
                        bins=10).collect()}

    # numpy replay of the definition (dense bins, eps clamp)
    eps = 1e-6
    p_glob = [11 / 20] + [1 / 20] * 9
    def psi(p_g):
        s = 0.0
        for a, b in zip(p_g, p_glob):
            a, b = max(a, eps), max(b, eps)
            s += (a - b) * math.log(a / b)
        return round(s, 6)

    assert out["A"]["n_rows"] == 10 and out["B"]["n_rows"] == 10
    assert abs(out["A"]["psi"] - psi([0.1] * 10)) < 1e-5
    assert abs(out["B"]["psi"] - psi([1.0] + [0.0] * 9)) < 1e-5
    # the concentrated group is the drifted one, by a wide margin
    assert out["B"]["psi"] > 3 * out["A"]["psi"]


def test_out_of_order_and_time_gaps(spark):
    import datetime

    from seronet_data_validator_spark.operators.temporal import (
        out_of_order_events,
        time_gaps,
    )

    base = datetime.datetime(2024, 1, 1)
    ts = lambda s: base + datetime.timedelta(seconds=s)  # noqa: E731
    rows = [  # user 1: arrival order 1,2,3 but event 2 goes back in time
        (1, 1, ts(100)), (1, 2, ts(40)), (1, 3, ts(200)),
        (2, 4, ts(0)), (2, 5, ts(5000)),  # a 5000 s silent gap
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    ooo = out_of_order_events(df).collect()
    assert len(ooo) == 1
    assert ooo[0]["event_id"] == 2 and ooo[0]["late_by_sec"] == 60.0
    gaps = time_gaps(df, min_gap_seconds=1000).collect()
    assert len(gaps) == 1
    assert gaps[0]["user_id"] == 2 and gaps[0]["gap_sec"] == 5000.0
    # user 1's 160 s spread stays under the threshold; backwards steps are
    # not gaps (lag is over ts order, not arrival order)
    assert time_gaps(df, min_gap_seconds=10_000).count() == 0


def test_group_quantiles_exact_vs_approx(spark):
    from seronet_data_validator_spark.operators.stats import group_quantiles

    rows = [("g", float(i)) for i in range(1, 101)] + [("h", 5.0), ("h", None)]
    df = spark.createDataFrame(rows, "grp string, v double")
    ex = {r["grp"]: r for r in
          group_quantiles(df, "grp", "v", probs=(0.5,), exact=True).collect()}
    # exact interpolating median of 1..100 = 50.5; NULLs excluded from count
    assert ex["g"]["p50"] == 50.5 and ex["g"]["n_rows"] == 100
    assert ex["h"]["p50"] == 5.0 and ex["h"]["n_rows"] == 1
    ap = {r["grp"]: r for r in
          group_quantiles(df, "grp", "v", probs=(0.5,)).collect()}
    assert abs(ap["g"]["p50"] - 50.5) <= 1.0  # sketch lands on a sample


def test_benford_profile_shares(spark):
    import math

    from seronet_data_validator_spark.operators.stats import benford_profile

    # values engineered for known leading digits: 1 x10, 2 x5, 9 x5; plus
    # excluded zero/NULL rows
    rows = ([(float(10 ** (i % 3)),) for i in range(10)]
            + [(2.5 * 10 ** (i % 2),) for i in range(5)]
            + [(9.0,), (90.0,), (900.0,), (9.5,), (95.0,)]
            + [(0.0,), (None,)])
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in benford_profile(df, "v").collect()}
    assert out[1]["n_rows"] == 10 and out[2]["n_rows"] == 5 and out[9]["n_rows"] == 5
    assert out[1]["share"] == 0.5
    assert abs(out[1]["expected"] - math.log10(2)) < 1e-6
    assert out[9]["deviation"] == round(abs(0.25 - math.log10(10 / 9)), 6)


def test_profile_quantile_sketch_tail_accuracy(spark):
    """The GK sketch behind stats.profile and the tdigest_profile query,
    on a heavy-tailed column spread over 8 partitions with NULLs: rank
    error stays under 2e-3 at every probe, p999 included."""
    import pandas as pd

    rng = np.random.default_rng(11)
    data = rng.lognormal(0.0, 1.0, 200_000)  # heavy tail: the hard case
    probs = [0.01, 0.25, 0.5, 0.75, 0.99, 0.999]
    pdf = pd.DataFrame({"v": np.concatenate([data, np.full(50, np.nan)])})
    pdf["v"] = pdf["v"].astype(object).where(pdf["v"].notna(), None)
    df = spark.createDataFrame(pdf, "v double").repartition(8)
    assert df.rdd.getNumPartitions() >= 8
    row = profile(df, ["v"], quantiles=probs).collect()[0]
    assert row["n_null"] == 50 and row["n"] == len(data)
    est = np.array(row["quantiles"])
    rank_err = np.array([abs((data < e).mean() - p) for e, p in zip(est, probs)])
    assert np.all(rank_err < 2e-3), rank_err
    # mid-range value-space accuracy is also tight
    exact = np.quantile(data, probs)
    mid_rel = np.abs(est[1:5] - exact[1:5]) / exact[1:5]
    assert np.all(mid_rel < 0.01), mid_rel


def test_compression_ratio_separates_repetition(spark):
    from seronet_data_validator_spark.operators.text import compression_ratio

    rows = [
        (1, "spam " * 400),                       # pure repetition
        (2, " ".join(f"w{i}x{i * 7 % 997}" for i in range(400))),  # high-entropy
        (3, ""),                                  # excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    assert out[1]["ratio"] < 0.05          # boilerplate collapses
    assert out[2]["ratio"] > 3 * out[1]["ratio"]
    assert 3 not in out
    assert out[1]["n_bytes"] == 2000


def test_null_rates_by_group(spark):
    from seronet_data_validator_spark.operators.stats import null_rates_by_group

    rows = [("a", None, ""), ("a", 1.0, "x"), ("a", None, "y"), ("b", 2.0, None)]
    df = spark.createDataFrame(rows, "site string, v double, s string")
    out = {(r["site"], r["column_name"]): r
           for r in null_rates_by_group(df, "site", ["v", "s"]).collect()}
    assert out[("a", "v")]["n_null"] == 2 and out[("a", "v")]["null_rate"] == round(2 / 3, 6)
    assert out[("a", "s")]["n_blank"] == 1 and out[("a", "s")]["n_null"] == 0
    assert out[("b", "s")]["n_null"] == 1 and out[("b", "v")]["null_rate"] == 0.0


def test_line_dedup_drops_corpus_wide_boilerplate(spark):
    from seronet_data_validator_spark.operators.dedup import line_dedup

    banner = "accept all cookies to continue reading"
    rows = [
        (1, f"{banner}\nunique alpha content line one\nok"),
        (2, f"{banner}\nunique beta content line two\nok"),
        (3, "a standalone document with no repeats"),
        (4, banner),  # only a banner: reassembles to ''
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in line_dedup(df).collect()}
    # the banner is dropped from EVERY doc; short 'ok' lines are exempt
    assert out[1] == "unique alpha content line one\nok"
    assert out[2] == "unique beta content line two\nok"
    assert out[3] == "a standalone document with no repeats"
    assert out[4] == ""
    assert set(out) == {1, 2, 3, 4}  # fully-dropped docs stay auditable


def test_language_id_quoted_column_name(spark):
    """Column names that need backtick quoting (spaces/dots) must work —
    the zh CJK branch interpolates the identifier into a SQL expr."""
    rows = [(1, "the cat sat on the mat and it is a good day for the walk")]
    df = spark.createDataFrame(rows, ["doc_id", "doc text.raw"])
    out = text.language_id(df, text_col="doc text.raw").collect()
    assert out[0]["lang_pred"] == "en"


def test_banded_hamming_hot_bucket_guard_is_exact(spark):
    """Degenerate-band scenario: a pile of near-empty docs all hash to the
    same simhash (one hot (band, chunk) bucket). The hot-bucket secondary
    banding must (a) return EXACTLY the unguarded pair set on mixed data —
    the refinement is pigeonhole-exact, not a recall trade — and (b) with
    star=True cap an identical-fingerprint bucket's output at linear."""
    import random

    rnd = random.Random(3)
    n_empty = 400
    rows = [(i, "the") for i in range(n_empty)]  # all near-empty -> same fp
    # mixed tail: planted near-dup pair + distinct docs
    base = ["tok%d" % rnd.randrange(5000) for _ in range(400)]
    rows.append((10_000, " ".join(base)))
    rows.append((10_001, " ".join(base[:-1] + ["tokX"])))  # near dup
    for i in range(40):
        rows.append((20_000 + i, " ".join("w%d" % rnd.randrange(10**6) for _ in range(50))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = dedup.simhash(df, signatures_only=True).persist()

    plain = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_duplicates(fp, max_hamming=8).collect()
    }
    guarded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_duplicates(
            fp, max_hamming=8, max_bucket_size=50
        ).collect()
    }
    assert guarded == plain
    assert (10_000, 10_001) in {(a, b) for a, b, _ in guarded}
    # the empty-doc bucket is all-pairs quadratic in the exact modes
    n_empty_pairs = sum(1 for a, b, _ in guarded if a < n_empty and b < n_empty)
    assert n_empty_pairs == n_empty * (n_empty - 1) // 2
    # star mode: linear hub pairs for the identical-fingerprint bucket,
    # same connectivity (every empty doc reachable from the hub)
    star = dedup.simhash_near_duplicates(
        fp, max_hamming=8, max_bucket_size=50, star=True
    ).collect()
    star_empty = [r for r in star if r["id_a"] < n_empty and r["id_b"] < n_empty]
    assert len(star_empty) == n_empty - 1
    assert {r["id_a"] for r in star_empty} == {0}  # hub = min id
    assert all(r["hamming"] == 0 for r in star_empty)
    # the planted genuine near-dup pair survives star mode too
    assert any(r["id_a"] == 10_000 and r["id_b"] == 10_001 for r in star)
    fp.unpersist()


def test_clip_chunks_windows(spark):
    """30s/25s-hop windows: boundary durations, short-clip suppression,
    and tail clamping."""
    from seronet_data_validator_spark.operators.multimodal import clip_chunks

    df = spark.createDataFrame(
        [("a", 70_000), ("b", 999), ("c", 1_000), ("d", 30_000), ("e", 0)],
        "clip_id string, dur_ms long",
    )
    rows = [(r["clip_id"], r["chunk_idx"], r["start_ms"], r["end_ms"])
            for r in clip_chunks(df).orderBy("clip_id", "chunk_idx").collect()]
    assert rows == [
        ("a", 0, 0, 30_000), ("a", 1, 25_000, 55_000), ("a", 2, 50_000, 70_000),
        ("c", 0, 0, 1_000),
        ("d", 0, 0, 30_000), ("d", 1, 25_000, 30_000),
    ]  # b (999 ms) and e (0 ms) fall below the 1 s tail minimum: no chunks


def test_tar_shards_roundtrip(spark):
    """Shard -> untar returns every member bit-exact; archives are
    deterministic; assignment respects the start-offset rule."""
    import numpy as np

    from seronet_data_validator_spark.sources.clips import wav_bytes
    from seronet_data_validator_spark.sources.tar_shards import (
        shard_assignments,
        tar_shard_blobs,
        untar_members,
    )

    rows = []
    for k in range(12):
        s = ((np.arange(400 + k * 50) * (k + 3) * 101) % 65536 - 32768).astype(
            np.int16
        )
        rows.append((f"c{k:02d}", bytearray(wav_bytes(s, 8000))))
    clips = spark.createDataFrame(rows, "clip_id string, bytes binary")
    assigned = shard_assignments(clips, shard_budget_bytes=4096)
    shards = tar_shard_blobs(assigned).cache()
    assert shards.count() > 1  # budget forces multiple shards
    back = {r["member"]: bytes(r["bytes"]) for r in untar_members(shards).collect()}
    orig = {f"{cid}.wav": bytes(b) for cid, b in rows}
    assert back == orig
    # determinism: rebuilding yields identical archive bytes
    again = {r["shard_id"]: bytes(r["tar_bytes"])
             for r in tar_shard_blobs(assigned).collect()}
    first = {r["shard_id"]: bytes(r["tar_bytes"]) for r in shards.collect()}
    assert again == first
    # every archive is record-aligned USTAR
    assert all(len(b) % 10240 == 0 for b in first.values())
