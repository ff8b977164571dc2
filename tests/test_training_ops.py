"""Unit tests for the training-data operator half (dedup / similarity /
textstats / multimodal) — small fixture frames with hand-computed answers, so
``pytest`` alone exercises these operators (round 1 verified them only via the
driver oracle)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from rdfcmap_spark.operators import dedup, multimodal, similarity, textstats


def _docs(spark, texts, langs=None, sources=None):
    rows = [
        (
            i,
            t,
            (langs or ["en"] * len(texts))[i],
            (sources or ["web"] * len(texts))[i],
            len(t),
        )
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    )


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_exact_dedup_groups_identical_texts(spark):
    docs = _docs(spark, ["same text here", "same text here", "different one"])
    out = {r["text_hash"]: (r["keep_id"], r["n_dups"]) for r in dedup.exact_dedup(docs).collect()}
    h_same = hashlib.md5(b"same text here").hexdigest()
    h_diff = hashlib.md5(b"different one").hexdigest()
    assert out[h_same] == (0, 2)
    assert out[h_diff] == (2, 1)


def test_lsh_identical_docs_are_candidates_disjoint_are_not(spark):
    a = "the quick brown fox jumps over the lazy dog again today"
    b = "completely unrelated words about spark partitions and shuffles everywhere"
    docs = _docs(spark, [a, a, b])
    pairs = {(r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_ngram_jaccard_verify_hand_computed(spark):
    # shingles(3-gram): d0 = {a b c, b c d, c d e}; d1 = {a b c, b c d, c d x}
    # inter = 2, union = 4 -> jaccard 0.5
    docs = _docs(spark, ["a b c d e", "a b c d x"])
    cand = spark.createDataFrame([(0, 1)], "a bigint, b bigint")
    rows = dedup.ngram_jaccard_verify(docs, cand).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"], r["n_inter"], r["n_union"]) == (0, 1, 2, 4)
    assert r["jaccard"] == pytest.approx(0.5)


def test_ngram_jaccard_verify_zero_overlap_candidate_kept(spark):
    docs = _docs(spark, ["a b c d", "x y z w"])
    cand = spark.createDataFrame([(0, 1)], "a bigint, b bigint")
    rows = dedup.ngram_jaccard_verify(docs, cand).collect()
    assert len(rows) == 1
    assert rows[0]["n_inter"] == 0 and rows[0]["jaccard"] == 0.0


def test_ngram_verify_matches_blocked_fallback_on_common_pairs(spark):
    """On pairs both strategies surface, the Jaccard numbers must agree."""
    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon eta",
        "one two three four five six seven",
    ]
    docs = _docs(spark, texts)
    blocked = {
        (r["a"], r["b"]): (r["n_inter"], r["n_union"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs).collect()
    }
    cand = spark.createDataFrame(sorted(blocked), "a bigint, b bigint")
    verified = {
        (r["a"], r["b"]): (r["n_inter"], r["n_union"], r["jaccard"])
        for r in dedup.ngram_jaccard_verify(docs, cand).collect()
    }
    assert verified == blocked


def _py_simhash(text: str) -> int:
    """Straightforward per-token-occurrence SimHash (the definition the
    weighted column-sum aggregation must reproduce exactly). 60 bits =
    15 md5 hex chars (dedup.SIMHASH_BITS)."""
    scores = [0] * 60
    for token in text.split():
        h = int(hashlib.md5(token.encode()).hexdigest()[:15], 16)
        for pos in range(60):
            scores[pos] += 1 if (h >> pos) & 1 else -1
    return sum(1 << pos for pos in range(60) if scores[pos] > 0)


def test_dup_groups_exact_clique_and_near_dup_cluster(spark):
    """Exact clique (3x same text) + a near-dup of it + an unrelated doc:
    the whole clique AND the near-dup land in one component keyed by the
    min doc_id; the unrelated doc maps to itself."""
    a = "the quick brown fox jumps over the lazy dog again today"
    near = "the quick brown fox jumps over the lazy dog again tomorrow"
    b = "completely unrelated words about spark partitions and shuffles everywhere"
    docs = _docs(spark, [a, a, a, near, b])
    got = {r["doc_id"]: r["canonical_id"] for r in dedup.dup_groups(docs, min_jaccard=0.5).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4}


def test_dup_groups_rep_collapse_equals_naive_all_docs(spark):
    """The scale claim made concrete: LSH over exact-dup REPRESENTATIVES
    yields the identical doc->canonical mapping as the naive all-docs
    formulation (what the DuckDB oracle runs)."""
    a = "one two three four five six seven eight nine ten"
    a2 = "one two three four five six seven eight nine eleven"
    c = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _docs(spark, [a, a, a2, a2, c, c, a])
    got = {r["doc_id"]: r["canonical_id"] for r in dedup.dup_groups(docs, min_jaccard=0.5).collect()}
    # naive: verified pairs over ALL docs + CC (driver-side reference calc)
    pairs = {
        (r["a"], r["b"])
        for r in dedup.ngram_jaccard_verify(
            docs, dedup.lsh_candidate_pairs(docs), min_jaccard=0.5
        ).collect()
    }
    parent = {i: i for i in range(7)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in pairs:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    want = {i: find(i) for i in range(7)}
    assert got == want
    assert got[0] == got[1] == got[2] == got[3] == got[6] == 0  # near-dup family
    assert got[4] == got[5] == 4


def test_simhash_groups_matches_pairs_union_find(spark):
    """simhash_groups must equal a driver union-find over simhash_pairs:
    identical texts (hamming 0) cluster under the min doc_id, the unrelated
    doc maps to itself."""
    a = "the quick brown fox jumps over the lazy dog again today"
    b = "completely unrelated words about spark partitions and shuffles everywhere"
    docs = _docs(spark, [a, a, b, a])
    got = {r["doc_id"]: r["canonical_id"] for r in dedup.simhash_groups(docs).collect()}
    pairs = {(r["a"], r["b"]) for r in dedup.simhash_pairs(docs).collect()}
    parent = {i: i for i in range(4)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in pairs:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    assert got == {i: find(i) for i in range(4)}
    assert got[0] == got[1] == got[3] == 0 and got[2] == 2


def test_simhash_signature_matches_per_occurrence_definition(spark):
    texts = [
        "spark spark spark shuffle partition partition",
        "a b c a b a",
        "single",
    ]
    docs = _docs(spark, texts)
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _py_simhash(t), t


def test_simhash_pairs_identical_docs_hamming_zero(spark):
    docs = _docs(spark, ["same tokens here exactly", "same tokens here exactly", "other"])
    rows = dedup.simhash_pairs(docs).collect()
    assert {(r["a"], r["b"], r["hamming"]) for r in rows} >= {(0, 1, 0)}
    # verify threshold never exceeds the 4x15-bit banding guarantee
    assert all(r["hamming"] <= dedup.SIMHASH_MAX_HAMMING for r in rows)
    assert dedup.SIMHASH_MAX_HAMMING <= 3


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def _embeddings(spark, vecs, labels=None):
    rows = [
        (i, (labels or [0] * len(vecs))[i], [float(x) for x in v]) for i, v in enumerate(vecs)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<float>")


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


def test_topk_bruteforce_hand_computed(spark):
    vecs = [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.5, 0.5]]
    emb = _embeddings(spark, vecs)
    out = similarity.topk_bruteforce(emb, k=2, query_mod=4)  # query = vec 0
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["query_id"] for r in rows] == [0, 0]
    # expected order by cosine vs [1,0]: v1 (0.9939) > v3 (0.7071) > v2 (0.0)
    assert [r["neighbor_id"] for r in rows] == [1, 3]
    for r in rows:
        assert r["cos_sim"] == pytest.approx(round(_cos(vecs[0], vecs[r["neighbor_id"]]), 5))


def test_embedding_dup_pairs_threshold(spark):
    vecs = [[1.0, 0.0], [0.999, 0.01], [0.0, 1.0]]
    emb = _embeddings(spark, vecs)
    pairs = {(r["a"], r["b"]) for r in similarity.embedding_dup_pairs(emb, threshold=0.95).collect()}
    assert pairs == {(0, 1)}


def _np_lsh_pairs(vecs, threshold, n_planes, bands):
    """Independent numpy reference of the hyperplane-LSH pipeline: identical
    md5 planes, column-order dot folds, 16-bit band packing, cosine verify."""
    import numpy as np

    A = np.array(vecs, dtype=np.float64)
    P = np.array(similarity.hyperplanes(n_planes, A.shape[1]), dtype=np.float64)
    rows = n_planes // bands
    d = np.zeros((len(A), n_planes))
    for i in range(A.shape[1]):
        d = d + A[:, i : i + 1] * P[:, i]
    bits = (d >= 0).astype(np.int64)
    weights = 1 << np.arange(rows, dtype=np.int64)
    bvals = np.stack([bits[:, b * rows : (b + 1) * rows] @ weights for b in range(bands)], axis=1)
    out = set()
    for a in range(len(A)):
        for b in range(a + 1, len(A)):
            if any(bvals[a][k] == bvals[b][k] for k in range(bands)):
                c = round(_cos(vecs[a], vecs[b]), 5)
                if c >= threshold:
                    out.add((a, b, c))
    return out


def test_embedding_dup_pairs_lsh_matches_numpy_reference(spark):
    # 40 deterministic pseudo-random 16-dim vectors + 6 planted near-dup
    # copies (tiny one-component offsets, cosine ~0.999)
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16)
    vecs = [list(map(float, v)) for v in base]
    for k in range(6):
        dup = list(base[k])
        dup[k % 16] += 0.01
        vecs.append([float(x) for x in dup])
    emb = _embeddings(spark, vecs)
    got = {
        (r["a"], r["b"], r["cos_sim"])
        for r in similarity.embedding_dup_pairs_lsh(emb, threshold=0.9).collect()
    }
    expected = {
        (a, b, c)
        for a, b, c in _np_lsh_pairs(
            vecs, 0.9, similarity.HP_N_PLANES, similarity.HP_BANDS
        )
    }
    assert got == expected
    # the planted duplicates must be recalled (their cosines are ~0.999,
    # deep in the LSH S-curve's certain region)
    assert {(k, 40 + k) for k in range(6)} <= {(a, b) for a, b, _ in got}


def test_embedding_dup_groups_clusters_planted_dups(spark):
    """Same planted-near-dup corpus as the pairs test: every planted copy
    must map to its source (canonical = min vec_id of the cluster); vectors
    with no near-dup map to themselves; the mapping agrees with a driver
    union-find over the numpy-reference pair set."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16)
    vecs = [list(map(float, v)) for v in base]
    for k in range(6):
        dup = list(base[k])
        dup[k % 16] += 0.01
        vecs.append([float(x) for x in dup])
    emb = _embeddings(spark, vecs)
    got = {
        r["vec_id"]: r["canonical_id"]
        for r in similarity.embedding_dup_groups(emb, threshold=0.9).collect()
    }
    parent = {i: i for i in range(len(vecs))}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in _np_lsh_pairs(vecs, 0.9, similarity.HP_N_PLANES, similarity.HP_BANDS):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    assert got == {i: find(i) for i in range(len(vecs))}
    for k in range(6):
        assert got[40 + k] == got[k]


def test_assign_clusters_nearest_centroid(spark):
    # two clean clusters around x-axis (label 0) and y-axis (label 1)
    emb = _embeddings(
        spark,
        [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.1, 0.9]],
        labels=[0, 0, 1, 1],
    )
    cents = similarity.centroids(emb)
    got = {r["vec_id"]: r["cluster"] for r in similarity.assign_clusters(emb, cents).collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1}


# ---------------------------------------------------------------------------
# textstats
# ---------------------------------------------------------------------------


def test_token_stats_hand_computed(spark):
    docs = _docs(spark, ["ab cd ef", "  x  ", "it's 42 ok!"])
    got = {r["doc_id"]: r for r in textstats.token_stats(docs).collect()}
    assert (got[0]["n_chars"], got[0]["n_tokens"]) == (8, 3)
    assert got[0]["avg_token_len"] == pytest.approx(2.0)
    assert got[1]["n_tokens"] == 1 and got[1]["avg_token_len"] == pytest.approx(1.0)
    # BPE-ish pre-tokens (spaces attach only as a run prefix; stray
    # whitespace is unmatched): "ab| cd| ef"=3, "  x  "->" x"=1,
    # "it|'s| 42| ok|!"=5 — mirrors re.findall on BPE_TOKEN_RE
    assert got[0]["n_bpe_tokens"] == 3
    assert got[1]["n_bpe_tokens"] == 1
    assert got[2]["n_bpe_tokens"] == 5


def test_langid_zh_detected(spark):
    """Regression for the ASCII-\\b bug: CJK markers must match without word
    boundaries, so a Chinese document scores > 0 and classifies as zh."""
    docs = _docs(spark, ["我是学生，我有书，他是老师。", "the cat is on the mat and it is fine"])
    got = {r["doc_id"]: r for r in textstats.lang_id(docs).collect()}
    assert got[0]["score_zh"] > 0
    assert got[0]["lang_pred"] == "zh"
    assert got[1]["lang_pred"] == "en"


def test_quality_scores_hand_computed(spark):
    text = "the cat sat"  # 3 tokens, 1 stopword, 11 chars, 0 punct, 0 digits
    docs = _docs(spark, [text])
    r = textstats.quality_scores(docs).collect()[0]
    assert r["stopword_ratio"] == pytest.approx(round(1 / 3, 5))
    assert r["punct_ratio"] == 0.0 and r["digit_ratio"] == 0.0
    # len not in [100, 20000] -> 0; stop term: floor(min(300*5*1, 300*3)/3) = 300
    # punct term: floor(300 * 11/11) = 300
    assert r["quality_score"] == 600


def test_fingerprint_is_min_shingle_md5(spark):
    text = "a b c d"
    docs = _docs(spark, [text])
    expected = min(hashlib.md5(s.encode()).hexdigest() for s in ["a b c", "b c d"])
    assert textstats.fingerprints(docs).collect()[0]["fingerprint"] == expected


def test_repetition_stats_hand_computed(spark):
    # d0 "a b a b a b": 2-grams = [a b, b a, a b, b a, a b] -> max count 3 of
    # 6 tokens -> top_2gram_frac = 2*3/6 = 1.0; 3-grams = [a b a, b a b,
    # a b a, b a b] -> 4 occurrences, 2 distinct -> dup_3gram_frac = 0.5
    # d1 all-distinct tokens: fracs = 2/5 (every 2-gram unique) and 0.0
    # d2 single token: no 2/3-grams -> both 0.0 (coalesced, not NULL)
    docs = _docs(spark, ["a b a b a b", "v w x y z", "solo"])
    got = {r["doc_id"]: r for r in textstats.repetition_stats(docs).collect()}
    assert got[0]["n_tokens"] == 6
    assert got[0]["top_2gram_frac"] == pytest.approx(1.0)
    assert got[0]["dup_3gram_frac"] == pytest.approx(0.5)
    assert got[1]["top_2gram_frac"] == pytest.approx(0.4)
    assert got[1]["dup_3gram_frac"] == 0.0
    assert got[2]["top_2gram_frac"] == 0.0 and got[2]["dup_3gram_frac"] == 0.0


def test_decontaminate_threshold_and_counts(spark):
    # benchmark doc "a b c d e" -> 3-grams {a b c, b c d, c d e}
    # d0 shares 2 grams (contaminated at min_hits=2), d1 shares 1 (clean),
    # d2 shares 0, d3 is the benchmark text itself (3 hits)
    docs = _docs(spark, ["a b c d x", "x a b c y", "p q r s t", "a b c d e"])
    bench = _docs(spark, ["a b c d e"])
    got = {r["doc_id"]: r for r in textstats.decontaminate(docs, bench).collect()}
    assert (got[0]["n_contaminated_grams"], got[0]["contaminated"]) == (2, True)
    assert (got[1]["n_contaminated_grams"], got[1]["contaminated"]) == (1, False)
    assert (got[2]["n_contaminated_grams"], got[2]["contaminated"]) == (0, False)
    assert (got[3]["n_contaminated_grams"], got[3]["contaminated"]) == (3, True)


def test_pii_scan_counts_each_pattern(spark):
    docs = _docs(
        spark,
        [
            "mail a@b.com and c.d+x@e.org now",
            "host 10.0.0.1 and 192.168.1.255 up",
            "call +1 (415) 555-0134 or 020-7946-0958 now",
            "ssn 123-45-6789 appears once",
            "no pii here at all",
        ],
    )
    got = {r["doc_id"]: r for r in textstats.pii_scan(docs).collect()}
    assert got[0]["n_email"] == 2 and got[0]["n_pii_total"] == 2
    assert got[1]["n_ipv4"] == 2
    assert got[2]["n_phone"] == 2
    assert got[3]["n_ssn"] == 1
    assert got[4]["n_pii_total"] == 0


def test_pii_scan_matches_duckdb_oracle_on_adversarial_texts(spark):
    """Cross-engine regex parity (Java regexp_count vs RE2
    regexp_extract_all) on texts crafted to stress greedy-quantifier
    backtracking and boundary behavior."""
    import duckdb

    texts = [
        "a@b.co a@b@c.com x@y.z..org trailing@dot.com.",
        "1.2.3.4.5 999.999.999.999 10.0.0.1x 1.2.3.4",
        "+44 20 7946 0958 ext 12345678901234567890",
        "123-45-678 1234-56-7890 123-45-6789x",
        "--- ((((( +++ 0-0-0-0-0-0-0-0 )))) ---",
    ]
    docs = _docs(spark, texts)
    got = sorted(
        (r["doc_id"], r["n_email"], r["n_ipv4"], r["n_phone"], r["n_ssn"])
        for r in textstats.pii_scan(docs).collect()
    )
    con = duckdb.connect()
    want = []
    for i, t in enumerate(texts):
        row = [i]
        for pat in textstats.PII_PATTERNS.values():
            row.append(
                con.sql(
                    "SELECT len(regexp_extract_all(?, ?))", params=[t, pat]
                ).fetchone()[0]
            )
        want.append(tuple(row))
    assert got == sorted(want)


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_media_features_deterministic_fake_decode(spark):
    texts = ["hello world", "xyz", "测试中文"]  # non-ASCII-leading case included
    docs = _docs(spark, texts)
    got = {r["doc_id"]: r for r in multimodal.media_features(docs).collect()}
    for i, t in enumerate(texts):
        raw = t.encode("utf-8")
        n = len(raw)
        r = got[i]
        assert r["n_bytes"] == n
        assert r["checksum"] == hashlib.md5(raw).hexdigest()
        assert (r["width"], r["height"], r["n_frames"]) == (n % 640, n % 480, 1 + n % 16)


def test_resize_media_hand_computed(spark):
    """Both binding sides, the exact-fit case, and a zero dimension."""
    feats = spark.createDataFrame(
        [
            (0, 640, 240),  # width-binding: 320 x (240*320//640)=120
            (1, 100, 480),  # height-binding: (100*240//480)=50 x 240
            (2, 320, 240),  # exact fit
            (3, 0, 480),    # degenerate -> (0, 0)
        ],
        "doc_id bigint, width int, height int",
    )
    got = {r["doc_id"]: (r["out_w"], r["out_h"]) for r in multimodal.resize_media(feats).collect()}
    assert got == {0: (320, 120), 1: (50, 240), 2: (320, 240), 3: (0, 0)}


def test_resize_and_sample_tolerate_null_metadata(spark):
    """FEATURES declares width/height/n_frames nullable (a real decoder can
    fail) — NULL rows must degrade, not crash the Arrow batch."""
    feats = spark.createDataFrame(
        [(0, None, 240, None, "abc"), (1, 640, 240, 5, "def")],
        "doc_id bigint, width int, height int, n_frames int, checksum string",
    )
    rz = {r["doc_id"]: (r["out_w"], r["out_h"]) for r in multimodal.resize_media(feats).collect()}
    assert rz == {0: (0, 0), 1: (320, 120)}
    fr = {(r["doc_id"], r["frame_idx"]) for r in multimodal.sample_frames(feats).collect()}
    assert fr == {(1, 0), (1, 4)}


def test_sample_frames_fanout_and_checksum(spark):
    feats = spark.createDataFrame(
        [(0, 9, "abc"), (1, 1, "def")],
        "doc_id bigint, n_frames int, checksum string",
    )
    rows = multimodal.sample_frames(feats, every_n=4).collect()
    got = {(r["doc_id"], r["frame_idx"]): r["frame_checksum"] for r in rows}
    assert set(got) == {(0, 0), (0, 4), (0, 8), (1, 0)}
    assert got[(0, 4)] == hashlib.md5(b"abc|4").hexdigest()


def test_extract_features_real_decode_rejects_non_image_payload(spark):
    """round 5: real_decode no longer raises NotImplementedError — it
    decodes with the in-repo codec, and a non-image payload (here: raw
    utf-8 text bytes) degrades to (0, 0, 0) per row (see
    tests/test_imagecodec.py for the positive decode path)."""
    docs = _docs(spark, ["abc"])
    media = multimodal.ingest_media(docs)
    row = multimodal.extract_features(media, real_decode=True).collect()[0]
    assert (row["width"], row["height"], row["n_frames"]) == (0, 0, 0)


def _clustered_embeddings(spark, n_clusters=8, per_cluster=40, dim=16):
    """Deterministic well-separated clusters: unit basis directions plus
    small hash-derived noise. (The driver testdata embeddings are near-
    uniform — label explains little variance, recall@5 tops out ~0.5 even
    scanning 40% of the corpus — so the IVF *recall* property is asserted on
    data that actually clusters; exactness on the driver data is the
    oracle's job.)"""
    rows = []
    for c in range(n_clusters):
        for j in range(per_cluster):
            h = hashlib.md5(f"ivf|{c}|{j}".encode()).digest()
            vec = [0.0] * dim
            vec[c % dim] = 1.0
            for d in range(dim):
                vec[d] += (h[d % 16] / 255.0 - 0.5) * 0.1
            rows.append((c * per_cluster + j, c, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<float>")


def test_ivf_recall_vs_bruteforce(spark):
    """True IVF (centroid train + nearest-centroid assign + nprobe
    multi-probe) must recover >= 0.9 of the exact top-k set on clusterable
    data while scanning only nprobe/n_clusters of the corpus."""
    emb = _clustered_embeddings(spark)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.topk_bruteforce(emb, k=5, query_mod=20).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.topk_ivf(emb, k=5, query_mod=20, nprobe=2).collect()
    }
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.9, f"recall@5 = {recall:.3f}"


def test_ivf_assignment_restricts_scan(spark):
    """Each query's candidates must come from exactly its nprobe probed
    clusters (the scan-cost contract of IVF)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.centroids(emb)
    assigned = {r["vec_id"]: r["cluster"] for r in similarity.assign_clusters(emb, cents).collect()}
    out = similarity.topk_ivf(emb, k=5, nprobe=1).collect()
    # with nprobe=1 all neighbors of a query share ONE assigned cluster
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], set()).add(assigned[r["neighbor_id"]])
    assert by_q and all(len(cl) == 1 for cl in by_q.values())


def test_span_dedup_first_occurrence_wins(spark):
    from rdfcmap_spark.operators.dedup import span_dedup

    w8 = lambda tag: " ".join(f"{tag}{i}" for i in range(8))  # one 8-word span
    docs = spark.createDataFrame(
        [
            # doc 0: spans A B
            (0, w8("a") + " " + w8("b")),
            # doc 1: B (dup of doc0's 2nd span) then C (fresh) then A (dup)
            (1, w8("b") + " " + w8("c") + " " + w8("a")),
            # doc 2: pure boilerplate — every span seen before -> empty
            (2, w8("a") + " " + w8("b")),
            # doc 3: short tail span (3 words), unique
            (3, "x0 x1 x2"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in span_dedup(docs).collect()}
    assert (got[0]["text"], got[0]["kept"], got[0]["total"]) == (
        w8("a") + " " + w8("b"), 2, 2,
    )
    # doc 1 keeps only the fresh middle span, order preserved
    assert (got[1]["text"], got[1]["kept"], got[1]["total"]) == (w8("c"), 1, 3)
    assert (got[2]["text"], got[2]["kept"], got[2]["total"]) == ("", 0, 2)
    assert (got[3]["text"], got[3]["kept"], got[3]["total"]) == ("x0 x1 x2", 1, 1)


def test_span_dedup_within_doc_repeats_collapse(spark):
    from rdfcmap_spark.operators.dedup import span_dedup

    span = " ".join(f"t{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(7, " ".join([span] * 3))], "doc_id long, text string"
    )
    row = span_dedup(docs).collect()[0]
    # the 2nd/3rd in-document occurrences are later corpus occurrences too
    assert (row["text"], row["kept"], row["total"]) == (span, 1, 3)


def test_shuffle_order_is_dense_permutation_and_partition_invariant(spark):
    from rdfcmap_spark.operators.traindata import shuffle_order

    docs = spark.range(0, 997).select(F.col("id").alias("doc_id"))
    out = shuffle_order(docs, n_parts=7).collect()
    ords = sorted(r["ord"] for r in out)
    assert ords == list(range(1, 998))  # dense 1..N: a true permutation
    by_doc = {r["doc_id"]: r["ord"] for r in out}
    # invariant to input partitioning and to the ordinal's partition count
    again = {
        r["doc_id"]: r["ord"]
        for r in shuffle_order(docs.repartition(13), n_parts=3).collect()
    }
    assert again == by_doc
    # a different seed is a different permutation (overwhelmingly)
    reseeded = {
        r["doc_id"]: r["ord"]
        for r in shuffle_order(docs, seed="epoch2", n_parts=7).collect()
    }
    assert reseeded != by_doc
    assert sorted(reseeded.values()) == list(range(1, 998))


def test_cap_per_source_caps_and_is_deterministic(spark):
    from rdfcmap_spark.operators.traindata import cap_per_source

    docs = spark.createDataFrame(
        [(i, "hot" if i < 40 else "cold") for i in range(43)],
        "doc_id long, source string",
    )
    out = cap_per_source(docs, k=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["stratum"], []).append(r)
    assert len(by_src["hot"]) == 5      # capped
    assert len(by_src["cold"]) == 3     # under the cap: all kept
    assert sorted(r["rank_in_source"] for r in by_src["hot"]) == [1, 2, 3, 4, 5]
    kept_hot = {r["doc_id"] for r in by_src["hot"]}
    again = {
        r["doc_id"]
        for r in cap_per_source(docs.repartition(7), k=5).collect()
        if r["stratum"] == "hot"
    }
    assert again == kept_hot  # partition-invariant deterministic sample


def test_incremental_dup_groups_equals_full_recompute(spark):
    from rdfcmap_spark.operators.dedup import dup_groups, incremental_dup_groups

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    variant = base + " extra tail words here now"          # near-dup of base
    other = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (0, base), (1, base),            # old exact pair
            (2, other),                       # old singleton
            (3, variant),                     # old near-dup of 0/1
            (4, base),                        # NEW exact dup of old clique
            (5, variant + " and more"),       # NEW near-dup chain extension
            (6, "totally unrelated fresh text with many novel words"),  # NEW
            (7, other),                       # NEW exact dup of old singleton
        ],
        "doc_id long, text string",
    )
    old = docs.filter("doc_id <= 3")
    new = docs.filter("doc_id >= 4")
    thresh = 0.3
    full = {
        r["doc_id"]: r["canonical_id"]
        for r in dup_groups(docs, min_jaccard=thresh).collect()
    }
    old_map = dup_groups(old, min_jaccard=thresh)
    inc = {
        r["doc_id"]: r["canonical_id"]
        for r in incremental_dup_groups(old, old_map, new, min_jaccard=thresh).collect()
    }
    assert inc == full
    # sanity on the fixture: the chain 0-1-3-4-5 collapsed, 2-7 merged, 6 alone
    assert full[4] == full[0] and full[7] == full[2] and full[6] == 6


def test_indexed_incremental_matches_stateless_and_full(spark, tmp_path, monkeypatch):
    """round 5: the persisted-band-index variant. Two batches fold through
    a table_log-versioned index; outputs equal the stateless call AND the
    full recompute at every step, and — the point of the index — the
    second batch NEVER re-signs the old corpus: every minhash_signatures
    input is bounded by the batch size (input-rows assert via
    monkeypatch)."""
    from rdfcmap_spark.operators import dedup
    from rdfcmap_spark.sources import table_log

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    variant = base + " extra tail words here now"
    other = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (0, base), (1, base), (2, other), (3, variant),           # corpus
            (4, base), (5, variant + " and more"),                    # batch 1
            (6, "totally unrelated fresh text with many novel words"),
            (7, other),                                               # batch 1
            (8, variant + " and more plus growth"),                   # batch 2
            (9, "another genuinely novel document of fresh words"),   # batch 2
        ],
        "doc_id long, text string",
    )
    thresh = 0.3
    old = docs.filter("doc_id <= 3")
    b1 = docs.filter("doc_id between 4 and 7")
    b2 = docs.filter("doc_id >= 8")
    t = str(tmp_path / "band_index")

    old_map = dedup.dup_groups(old, min_jaccard=thresh)
    r1 = dedup.incremental_dup_groups_indexed(old, old_map, b1, t, min_jaccard=thresh)
    got1 = {r["doc_id"]: r["canonical_id"] for r in r1.collect()}
    full1 = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup.dup_groups(docs.filter("doc_id <= 7"), min_jaccard=thresh).collect()
    }
    assert got1 == full1
    # bootstrap snapshot + batch-1 append
    assert table_log.current_version(t) == 2

    # batch 2: prove the old corpus (8 docs) is never re-signed — every
    # signature computation's input is bounded by the batch (2 docs)
    n_batch2 = b2.count()
    real_sign = dedup.minhash_signatures
    signed_sizes: list[int] = []

    def counting_sign(d, *a, **kw):
        signed_sizes.append(d.count())
        return real_sign(d, *a, **kw)

    monkeypatch.setattr(dedup, "minhash_signatures", counting_sign)
    old2 = docs.filter("doc_id <= 7")
    map2 = spark.createDataFrame(
        sorted(got1.items()), "doc_id long, canonical_id long"
    )
    r2 = dedup.incremental_dup_groups_indexed(old2, map2, b2, t, min_jaccard=thresh)
    got2 = {r["doc_id"]: r["canonical_id"] for r in r2.collect()}
    monkeypatch.undo()

    assert signed_sizes and all(n <= n_batch2 for n in signed_sizes), signed_sizes
    assert table_log.current_version(t) == 3
    full2 = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup.dup_groups(docs, min_jaccard=thresh).collect()
    }
    assert got2 == full2
    # chain growth landed: 8 joined the variant cluster (3-5), 9 is alone
    assert got2[8] == got2[3] == got2[5] and got2[9] == 9


_IDX_BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_IDX_OTHER = "one two three four five six seven eight nine ten"
_IDX_VARIANT = _IDX_BASE + " extra tail words here now"


def _canon_map(df):
    return {r["doc_id"]: r["canonical_id"] for r in df.collect()}


def test_indexed_incremental_replayed_batch(spark, tmp_path):
    """A batch whose texts all already sit in the corpus (a re-delivered
    batch) has no fresh banding representative, so its index append is
    EMPTY: it must commit (no schema-inference crash on the empty write),
    keep the index rows unchanged, and fold like the full recompute."""
    from rdfcmap_spark.operators import dedup
    from rdfcmap_spark.sources import table_log

    docs = spark.createDataFrame(
        [(0, _IDX_BASE), (1, _IDX_OTHER), (2, _IDX_VARIANT),  # corpus + batch 1
         (3, _IDX_BASE), (4, _IDX_VARIANT)],                   # batch 2: replayed texts
        "doc_id long, text string",
    )
    thresh = 0.3
    old = docs.filter("doc_id <= 1")
    t = str(tmp_path / "band_index")
    r1 = dedup.incremental_dup_groups_indexed(
        old, dedup.dup_groups(old, min_jaccard=thresh), docs.filter("doc_id = 2"), t,
        min_jaccard=thresh,
    )
    old2 = docs.filter("doc_id <= 2")
    n_index = table_log.read_table(spark, t)[0].count()
    map1 = spark.createDataFrame(sorted(_canon_map(r1).items()), "doc_id long, canonical_id long")
    r2 = dedup.incremental_dup_groups_indexed(
        old2, map1, docs.filter("doc_id >= 3"), t, min_jaccard=thresh
    )
    assert _canon_map(r2) == _canon_map(dedup.dup_groups(docs, min_jaccard=thresh))
    assert table_log.current_version(t) == 3
    assert table_log.read_table(spark, t)[0].count() == n_index


def test_indexed_incremental_bootstraps_over_empty_corpus(spark, tmp_path):
    """Bootstrap over an EMPTY corpus commits an empty index snapshot (v1)
    that reads back with its schema; the first batch then folds like the
    full recompute of the batch alone."""
    from rdfcmap_spark.operators import dedup
    from rdfcmap_spark.sources import table_log

    empty = spark.createDataFrame([], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(0, _IDX_BASE), (1, _IDX_VARIANT), (2, _IDX_OTHER)], "doc_id long, text string"
    )
    t = str(tmp_path / "band_index")
    out = dedup.incremental_dup_groups_indexed(
        empty, spark.createDataFrame([], "doc_id long, canonical_id long"), batch, t,
        min_jaccard=0.3,
    )
    assert _canon_map(out) == _canon_map(dedup.dup_groups(batch, min_jaccard=0.3))
    assert table_log.snapshot(t, 1)["row_count"] == 0
    assert table_log.current_version(t) == 2


def test_quality_filter_rules(spark):
    from rdfcmap_spark.operators.textstats import quality_filter

    good = ("the quick brown fox jumps over a lazy dog and then runs on "
            "to the next field for a while longer")          # stopwords, clean
    short = "tiny doc here"                                   # < 10 tokens
    symbols = "a b c " + "!@#$%^&*()" * 30                    # symbol-heavy
    nostop = " ".join(f"w{i}" for i in range(25))             # 25 tokens, 0 stopwords
    rep2 = "go go " * 30 + "the end"                          # top 2-gram dominates
    docs = spark.createDataFrame(
        [(0, good), (1, short), (2, symbols), (3, nostop), (4, rep2)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in quality_filter(docs).collect()}
    assert got[0]["keep"] and not any(
        got[0][f] for f in ("flag_len", "flag_symbols", "flag_nostop", "flag_rep2", "flag_rep3")
    )
    assert got[1]["flag_len"] and not got[1]["keep"]
    assert got[2]["flag_symbols"] and not got[2]["keep"]
    assert got[3]["flag_nostop"] and not got[3]["keep"]
    assert got[4]["flag_rep2"] and got[4]["flag_rep3"] and not got[4]["keep"]


def test_pii_redact_order_and_placeholders(spark):
    """SSN/IPv4 lie inside the loose phone language: the precise patterns
    must consume first, so an SSN redacts as [SSN] (not [PHONE]) and an
    IPv4 as [IPV4]; counts reflect what each stage actually replaced."""
    docs = _docs(
        spark,
        [
            "ssn 123-45-6789 and ip 192.168.1.255 and tel +1 (415) 555-0134 .",
            "mail a@b.com twice a@b.com",
            "clean text",
        ],
    )
    got = {r["doc_id"]: r for r in textstats.pii_redact(docs).collect()}
    assert got[0]["text_redacted"] == "ssn [SSN] and ip [IPV4] and tel [PHONE] ."
    assert (got[0]["n_ssn"], got[0]["n_ipv4"], got[0]["n_phone"]) == (1, 1, 1)
    assert got[1]["text_redacted"] == "mail [EMAIL] twice [EMAIL]"
    assert got[1]["n_email"] == 2
    assert got[2]["text_redacted"] == "clean text"
    assert sum(got[2][f"n_{k}"] for k in textstats.PII_REDACT_ORDER) == 0


def test_pii_redact_output_has_no_residual_matches(spark):
    """Idempotence: running the redactor on its own output changes nothing
    (placeholders contain no digits, so no pattern can re-fire)."""
    docs = _docs(
        spark,
        [
            "a@b.com 10.0.0.1 123-45-6789 +1 (415) 555-0134",
            "edge a@b.co.uk at 255.255.255.255, 999-99-9999!",
        ],
    )
    once = textstats.pii_redact(docs).select(
        "doc_id", F.col("text_redacted").alias("text")
    )
    twice = textstats.pii_redact(once).collect()
    for r in twice:
        assert r["text_redacted"] == [x for x in once.collect() if x["doc_id"] == r["doc_id"]][0]["text"]
        assert sum(r[f"n_{k}"] for k in textstats.PII_REDACT_ORDER) == 0


def test_lm_score_hand_computed(spark):
    """Unigram add-one LM on a 3-doc corpus: counts a:3 b:2 c:1, N=6, V=3."""
    docs = _docs(spark, ["a a b", "a c", "b"])
    out = {r["doc_id"]: r for r in textstats.lm_score(docs).collect()}
    lp = {
        "a": round(math.log(4 / 9), 6),
        "b": round(math.log(3 / 9), 6),
        "c": round(math.log(2 / 9), 6),
    }
    assert (out[0]["n_tokens"], out[0]["n_hapax"]) == (3, 0)
    assert (out[1]["n_tokens"], out[1]["n_hapax"]) == (2, 1)
    assert (out[2]["n_tokens"], out[2]["n_hapax"]) == (1, 0)
    assert out[0]["avg_nll"] == round(-(2 * lp["a"] + lp["b"]) / 3, 4)
    assert out[1]["avg_nll"] == round(-(lp["a"] + lp["c"]) / 2, 4)
    assert out[2]["avg_nll"] == round(-lp["b"], 4)
    # corpus-typical text scores lower (better) than hapax-heavy text
    assert out[0]["avg_nll"] < out[1]["avg_nll"]


def test_tfidf_keywords_hand_computed(spark):
    """3 docs; 'rare' appears in one doc, 'common' in all three."""
    docs = _docs(spark, ["common rare rare", "common alpha", "common beta"])
    out = textstats.tfidf_keywords(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    top0 = sorted(by_doc[0], key=lambda r: r["rank"])
    # rare: tf=2 df=1 idf=ln(3); common: tf=1 df=3 idf=0
    assert (top0[0]["tok"], top0[0]["tf"], top0[0]["df"]) == ("rare", 2, 1)
    assert top0[0]["score"] == float(2 * round(math.log(3), 6))
    assert (top0[1]["tok"], top0[1]["score"]) == ("common", 0.0)
    # every doc emits at most k rows, ranks are 1..k
    assert all([r["rank"] for r in sorted(v, key=lambda r: r["rank"])] == list(range(1, len(v) + 1)) for v in by_doc.values())


def _ref_pq(rows, m, query_mod=2, k=3):
    """Python mirror of pq_codebooks -> pq_encode -> topk_pq (ADC)."""
    from collections import defaultdict

    dim = len(rows[0][2])
    sub = dim // m
    # codebook[m_idx][label] = mean subvector over the label's vectors
    by_label = defaultdict(list)
    for _, label, emb in rows:
        by_label[label].append(emb)
    books = {}
    for mi in range(m):
        for lab, vs in by_label.items():
            books[(mi, lab)] = [
                sum(v[mi * sub + j] for v in vs) / len(vs) for j in range(sub)
            ]
    def dist(vec, mi, lab):
        return round(
            sum((vec[mi * sub + j] - books[(mi, lab)][j]) ** 2 for j in range(sub)), 6
        )
    codes = {}
    for vid, _, emb in rows:
        for mi in range(m):
            codes[(vid, mi)] = min(by_label, key=lambda lab: (dist(emb, mi, lab), lab))
    out = []
    for qid, _, qe in rows:
        if qid % query_mod:
            continue
        scored = []
        for nid, _, _e in rows:
            if nid == qid:
                continue
            adc = sum(dist(qe, mi, codes[(nid, mi)]) for mi in range(m))
            scored.append((round(adc, 6), nid))
        for rank, (d, nid) in enumerate(sorted(scored)[:k], 1):
            out.append((qid, nid, rank, d))
    return sorted(out)


def test_pq_topk_matches_python_mirror(spark):
    from rdfcmap_spark.operators.similarity import topk_pq

    rows = [
        (0, 0, [1.0, 2.0, 0.5, 0.25]),
        (1, 0, [1.5, 2.5, 0.75, 0.5]),
        (2, 1, [8.0, 9.0, 4.0, 4.5]),
        (3, 1, [8.5, 9.5, 4.25, 4.75]),
        (4, 0, [1.25, 2.25, 0.625, 0.375]),
        (5, 1, [8.25, 9.25, 4.125, 4.625]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).repartition(3)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["adc_dist"])
        for r in topk_pq(df, k=3, query_mod=2, m=2).collect()
    )
    # float32 storage: mirror on the float32-rounded values
    import struct as _st

    f32 = lambda x: _st.unpack("f", _st.pack("f", x))[0]
    rows32 = [(v, l, [f32(x) for x in e]) for v, l, e in rows]
    assert got == _ref_pq(rows32, m=2)
    # ADC self-consistency: same-label near-identical vectors rank first
    byq = {}
    for q, n, rank, _ in got:
        if rank == 1:
            byq[q] = n
    assert byq[0] in (1, 4) and byq[2] in (3, 5) and byq[4] in (0, 1)


def test_pq_adc_finds_the_right_cell(spark):
    """Pure ADC resolves to CODEWORD CELLS, not members: vectors sharing
    all M codes tie exactly (the id-order tie-break picks among them), so
    the assertable property is cell-level — every returned neighbor
    belongs to the query's own cluster on well-separated data. Member-
    level recall is topk_pq_refined's job."""
    emb = _clustered_embeddings(spark)
    cluster_of = {r["vec_id"]: r["label"] for r in emb.collect()}
    out = similarity.topk_pq(emb, k=5, query_mod=20, m=4).collect()
    assert out
    for r in out:
        assert cluster_of[r["neighbor_id"]] == cluster_of[r["query_id"]]


def test_pq_refined_recall_vs_bruteforce(spark):
    """ADC shortlist (refine x k code-only candidates) + exact rerank must
    recover >= 0.9 of the exact top-5 — the FAISS IVFADC+refine recall
    contract, at refine*k vector reads per query instead of the corpus."""
    emb = _clustered_embeddings(spark)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.topk_bruteforce(emb, k=5, query_mod=20).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.topk_pq_refined(emb, k=5, query_mod=20, m=4, refine=8).collect()
    }
    recall = len(bf & pq) / len(bf)
    assert recall >= 0.9, f"recall@5 = {recall:.3f}"


def test_ivfpq_restricts_to_probed_clusters(spark):
    """IVFADC candidates must come from the query's nprobe probed clusters
    only (the IVF scan contract), scored by code lookups (agreement with
    pure ADC on the vectors it does scan)."""
    emb = _clustered_embeddings(spark)
    cents = similarity.centroids(emb)
    assigned = {
        r["vec_id"]: r["cluster"]
        for r in similarity.assign_clusters(emb, cents).collect()
    }
    out = similarity.topk_ivfpq(emb, k=5, query_mod=20, m=4, nprobe=1).collect()
    assert out
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], set()).add(assigned[r["neighbor_id"]])
    assert all(len(cl) == 1 for cl in by_q.values())
    # with nprobe = all clusters, IVFADC degenerates to exactly topk_pq
    full = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["adc_dist"])
        for r in similarity.topk_ivfpq(emb, k=5, query_mod=20, m=4, nprobe=8).collect()
    )
    pq = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["adc_dist"])
        for r in similarity.topk_pq(emb, k=5, query_mod=20, m=4).collect()
    )
    assert full == pq


def test_kmeans_iterate_stable_on_separated_clusters(spark):
    """On well-separated clusters seeded from their own label means, Lloyd
    rounds are a fixed point: every cluster keeps exactly its members and
    the refined centroid stays near the true center direction."""
    emb = _clustered_embeddings(spark)
    out = similarity.kmeans_iterate(emb, rounds=3).collect()
    assert len(out) == 8 * 16  # 8 clusters x dim 16 scalar rows
    members = {r["cluster"]: r["n_members"] for r in out}
    assert members == {c: 40 for c in range(8)}
    # the basis coordinate of each cluster's centroid dominates
    for c in range(8):
        coords = {r["pos"]: r["mean6"] for r in out if r["cluster"] == c}
        top = max(coords, key=lambda p: coords[p])
        assert top == c % 16 and coords[top] > 0.9


def test_kmeans_iterate_rejects_zero_rounds(spark):
    import pytest as _pytest

    emb = _clustered_embeddings(spark)
    with _pytest.raises(ValueError, match="rounds >= 1"):
        similarity.kmeans_iterate(emb, rounds=0)


def test_pq_rejects_non_divisible_dim(spark):
    import pytest as _pytest

    emb = _clustered_embeddings(spark)  # dim 16
    with _pytest.raises(ValueError, match="dim % m"):
        similarity.pq_codebooks(emb, m=5)
    with _pytest.raises(ValueError, match="dim % m"):
        similarity.pq_encode(emb, similarity.pq_codebooks(emb, m=4), m=5)


def test_top_ngrams_hand_computed(spark):
    from rdfcmap_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),     # "a b c" x2, "b c a" x1, "c a b" x1
            (2, "a b c d"),
            (3, "x y"),             # too short for trigrams
            (4, "a b c"),
        ],
        "doc_id long, text string",
    )
    rows = textstats.top_ngrams(docs, n=3, k=3).collect()
    got = [(r["rank"], r["ngram"], r["n_docs"], r["n_occurrences"]) for r in rows]
    assert got[0] == (1, "a b c", 3, 4)
    # df-1 ties break lexicographically
    assert got[1] == (2, "b c a", 1, 1)
    assert got[2] == (3, "b c d", 1, 1)


def test_lsh_recall_planted(spark):
    """Planted truth: one same-block near-dup pair (counted in truth and,
    when banding catches it, in hits), one cross-block near-dup (invisible
    to the blocked truth, reported as the index's bonus), one unrelated
    doc. All md5-deterministic, so the outcome is fixed."""
    from rdfcmap_spark.operators import dedup

    base = " ".join(f"tok{i}" for i in range(30))
    near = " ".join(f"tok{i}" for i in range(29)) + " tokX"
    rows = [
        (1, base, "en", "s1"),
        (2, near, "en", "s1"),            # same block, jaccard ~0.87
        (3, base, "en", "s2"),            # cross-block twin of doc 1
        (4, " ".join(f"other{i}" for i in range(30)), "en", "s1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    r = dedup.lsh_recall(docs, threshold=0.5).collect()[0]
    assert r["n_truth"] == 1
    assert r["n_hits"] == 1 and r["recall5"] == 1.0
    # doc1~doc3 identical but different source -> cross-block find
    assert r["n_cross_block"] >= 1


def test_filtered_topk_excludes_dropped_docs(spark):
    """Neighbors whose document fails the quality gate never appear, even
    when their cosine would rank first; queries remain probes regardless
    of their own keep bit."""
    from rdfcmap_spark.operators import similarity

    def vec(x):
        return [float(x), 1.0, 0.0, 0.0]

    emb = spark.createDataFrame(
        [(0, vec(1.0), 0), (1, vec(1.0), 0), (2, vec(0.9), 0), (3, vec(0.1), 0)],
        "vec_id long, embedding array<float>, label int",
    )
    good = (
        "the quick brown fox jumps over a lazy dog while many other animals "
        "watch from the tall green hill and wonder about dinner plans today"
    )
    docs = spark.createDataFrame(
        [
            (0, good), (2, good), (3, good),
            (1, "x"),  # fails flag_len -> dropped from the corpus
        ],
        "doc_id long, text string",
    )
    rows = similarity.filtered_topk(emb, docs, k=2, query_mod=4).collect()
    got = [(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows]
    # query 0: doc 1 is its nearest twin but filtered out -> 2 then 3
    assert got == [(0, 2, 1), (0, 3, 2)]


def test_bpe_pair_counts_hand_computed(spark):
    """round 5: BPE merge-step pair counting — within-word character
    bigrams only (no cross-word pairs), deterministic top-k order."""
    from rdfcmap_spark.operators.textstats import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "abab ab"), (2, "ba x"), (3, "")], "doc_id long, text string"
    )
    rows = bpe_pair_counts(docs, k=10).collect()
    got = {r["pair"]: (r["rank"], r["n_occurrences"]) for r in rows}
    # "abab": ab, ba, ab; "ab": ab; "ba": ba; "x" and "" contribute nothing
    assert got["ab"] == (1, 3)
    assert got["ba"] == (2, 2)
    assert len(rows) == 2  # no cross-word or single-char pairs


def test_dup_group_sizes_hand_computed(spark):
    """round 5: the histogram sums to the doc count and reflects the
    planted clique structure (3 exact dups + 2 singletons)."""
    from rdfcmap_spark.operators.dedup import dup_group_sizes

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, text),
         (4, "one two three four five six seven eight nine ten"),
         (5, "totally different words in this document here now ok fine")],
        "doc_id long, text string",
    )
    got = {r["group_size"]: r["n_groups"] for r in dup_group_sizes(docs).collect()}
    assert got == {1: 2, 3: 1}
    assert sum(size * n for size, n in got.items()) == 5


def test_lsh_bucket_stats_consistency(spark):
    """round 5: the bucket histogram is consistent with the band-key frame
    it summarizes — per band, sum(size * n_buckets) = n_docs (every doc
    is in exactly one bucket per band)."""
    a = "the quick brown fox jumps over the lazy dog again today"
    b = "completely unrelated words about spark partitions and shuffles everywhere"
    docs = _docs(spark, [a, a, b, a + " slightly changed"])
    got = dedup.lsh_bucket_stats(docs).collect()
    per_band = {}
    for r in got:
        per_band[r["band"]] = per_band.get(r["band"], 0) + r["bucket_size"] * r["n_buckets"]
    assert set(per_band) == {0, 1, 2, 3} and all(v == 4 for v in per_band.values())
    # the two identical docs share every band bucket -> each band has at
    # least one bucket of size >= 2
    assert all(
        any(r["band"] == band and r["bucket_size"] >= 2 for r in got) for band in range(4)
    )


def test_hard_negatives_excludes_dup_component(spark):
    """round 5: hard-negative mining never surfaces a near-duplicate of
    the query (its own component is the positive set), yet ranks the
    closest remaining vectors."""
    import numpy as np

    rng = np.random.default_rng(9)
    base = rng.normal(size=8)
    rows = []
    # query vec 0 + a near-identical positive (vec 1) + distinct others
    rows.append((0, "g0", [float(x) for x in base]))
    rows.append((1, "g0", [float(x) for x in base + rng.normal(scale=1e-3, size=8)]))
    for i in range(2, 12):
        rows.append((i, "g0", [float(x) for x in rng.normal(size=8)]))
    emb = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    got = similarity.hard_negatives(emb, k=3, query_mod=50, dup_threshold=0.9).collect()
    mine = [r for r in got if r["query_id"] == 0]
    ids = {r["neighbor_id"] for r in mine}
    assert 1 not in ids and 0 not in ids  # the near-dup positive + self excluded
    assert len(mine) == 3 and [r["rank"] for r in sorted(mine, key=lambda r: r["rank"])] == [1, 2, 3]
    # sanity: without the exclusion, vec 1 would be rank 1
    plain = similarity.topk_clustered(emb, k=1, query_mod=50).collect()
    assert [r["neighbor_id"] for r in plain if r["query_id"] == 0] == [1]
