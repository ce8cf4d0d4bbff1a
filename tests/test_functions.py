"""Extension operator tests: text analysis, dedup, similarity,
multimodal plumbing — run on small inline corpora plus the sf0.001
fixture tables when present."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from networkframe_spark.functions import (
    add_fingerprint,
    add_language_id,
    add_quality_score,
    add_token_count,
    brute_force_top_k,
    embedding_duplicates,
    exact_duplicates,
    lsh_top_k,
    minhash_lsh_duplicates,
    ngram_jaccard_duplicates,
    simhash_duplicates,
)
from networkframe_spark.functions.dedup import (
    MINHASH_PRIME,
    dedup_exact,
    fuzzy_decontaminate,
    minhash_band_table,
    minhash_params,
    minhash_signatures,
    simhash_table,
)
from networkframe_spark.functions.multimodal import (
    extract_image_features,
    resize_images,
    sample_video_frames,
    synthetic_media,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup of 0
        (3, "completely different content about spark engines and shuffles"),
        (4, "der hund läuft durch die stadt und das ist gut"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(docs):
    rows = {r["doc_id"]: r["n_tokens"] for r in add_token_count(docs).collect()}
    assert rows[0] == 9
    assert rows[5] == 0


def test_quality_score_range(docs):
    rows = add_quality_score(docs).collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
    scores = {r["doc_id"]: r["quality_score"] for r in rows}
    assert scores[0] > scores[5]  # real text beats empty


def test_language_id(docs):
    rows = {r["doc_id"]: r["lang_pred"] for r in add_language_id(docs).collect()}
    assert rows[0] == "en"
    assert rows[4] == "de"


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, "other")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["fingerprint"] for r in add_fingerprint(df).collect()}
    assert rows[0] == rows[1]  # case/whitespace-normalized
    assert rows[0] != rows[2]


def test_exact_duplicates(docs):
    marks = {r["doc_id"]: r for r in exact_duplicates(docs).collect()}
    assert marks[1]["is_duplicate"] and marks[1]["canonical_id"] == 0
    assert not marks[0]["is_duplicate"]
    assert not marks[2]["is_duplicate"]
    kept = dedup_exact(docs)
    assert kept.count() == 5


def test_ngram_jaccard(docs):
    pairs = ngram_jaccard_duplicates(docs, n=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in got and got[(0, 2)] > 0.5
    assert all(a != 3 and b != 3 for a, b in got)


def test_minhash_signatures_deterministic(docs):
    s1 = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs, n_perm=16).collect()}
    s2 = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs, n_perm=16).collect()}
    assert s1 == s2
    assert s1[0] == s1[1]  # identical docs identical sigs
    assert s1[0] != s1[3]


def test_minhash_lsh_duplicates(docs):
    pairs = minhash_lsh_duplicates(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert (0, 1) in got and got[(0, 1)] == pytest.approx(1.0)


def test_simhash_duplicates(spark, docs):
    pairs = simhash_duplicates(docs, max_hamming=10).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got.get((0, 1)) == 0  # identical docs, zero hamming


def test_simhash_near_dup_long_docs(spark):
    # simhash bit stability needs vote margin ~sqrt(n_tokens): use long
    # docs differing in a single token
    base = " ".join(f"word{i}" for i in range(40))
    variant = base.replace("word7", "altered")
    other = " ".join(f"zzz{i}" for i in range(40))
    df = spark.createDataFrame(
        [(0, base), (1, variant), (2, other)], "doc_id long, text string"
    )
    pairs = simhash_duplicates(df, max_hamming=12).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert (0, 1) in got and got[(0, 1)] <= 12
    assert (0, 2) not in got


# pure-Python twins of the dedup hashes: md5's first 15 hex digits as
# the 60-bit token/shingle hash, whitespace tokens of the lowercased text
_PIN_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog the end"),
    (2, "hello"),  # one token
    (3, "two words"),  # fewer tokens than shingle_n
    (4, "spark engines shuffle rows spark engines shuffle rows again"),
    (5, ""),
]


def _md5_60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_simhash(text, bits):
    hs = [_md5_60(w) for w in text.strip().lower().split(" ")]
    return sum(
        1 << j
        for j in range(bits)
        if sum(1 if (h >> j) & 1 else -1 for h in hs) > 0
    )


def _py_minhash(text, n_perm, shingle_n=3):
    toks = text.strip().lower().split(" ")
    shingles = {
        " ".join(toks[i : i + shingle_n])
        for i in range(max(len(toks) - shingle_n, 0) + 1)
    } - {""}
    if not shingles:
        return None  # no shingle, no signature row
    hs = [_md5_60(s) % MINHASH_PRIME for s in shingles]
    return [
        min((a * h + b) % MINHASH_PRIME for h in hs)
        for a, b in minhash_params(n_perm)
    ]


def test_simhash_and_minhash_match_pure_python(spark):
    df = spark.createDataFrame(_PIN_DOCS, "doc_id long, text string")
    for bits in (60, 16):
        got = {r["doc_id"]: r["simhash"] for r in simhash_table(df, bits=bits).collect()}
        assert got == {i: _py_simhash(t, bits) for i, t in _PIN_DOCS}
    for n_perm, bands in ((32, 8), (64, 16)):
        want = {i: _py_minhash(t, n_perm) for i, t in _PIN_DOCS}
        want = {i: s for i, s in want.items() if s is not None}
        sigs = {
            r["doc_id"]: list(r["sig"])
            for r in minhash_signatures(df, n_perm=n_perm).collect()
        }
        assert sigs == want
        rpb = n_perm // bands
        want_bands = {
            (i, b, "_".join(str(v) for v in s[b * rpb : (b + 1) * rpb]))
            for i, s in want.items()
            for b in range(bands)
        }
        got_bands = minhash_band_table(df, n_perm=n_perm, bands=bands).collect()
        assert len(got_bands) == len(want_bands)
        assert {(r["id"], r["band"], r["key"]) for r in got_bands} == want_bands


def test_simhash_argument_bounds(spark):
    df = spark.createDataFrame(_PIN_DOCS[:2], "doc_id long, text string")
    for bits in (0, 61, 64):
        with pytest.raises(ValueError, match="bits"):
            simhash_table(df, bits=bits)
    with pytest.raises(ValueError, match="bits"):
        simhash_duplicates(df, bits=64, bands=4)
    for bits, bands in ((60, 0), (16, 17)):
        with pytest.raises(ValueError, match="bands"):
            simhash_duplicates(df, bits=bits, bands=bands)
    # the edges of the ranges still build
    assert len(simhash_duplicates(df, bits=16, bands=16, max_hamming=0).collect()) == 0
    assert {r["simhash"] for r in simhash_table(df, bits=1).collect()} <= {0, 1}
    # MinHash bands must divide n_perm: 4/8 would band every document
    # into one empty key (an all-pairs candidate join)
    from networkframe_spark.streaming.ops import neardup_increment

    for n_perm, bands in ((4, 8), (32, 6)):
        with pytest.raises(ValueError, match="bands"):
            minhash_band_table(df, n_perm=n_perm, bands=bands)
        with pytest.raises(ValueError, match="bands"):
            minhash_lsh_duplicates(df, n_perm=n_perm, bands=bands)
    with pytest.raises(ValueError, match="bands"):
        neardup_increment(df, None, None, None, n_perm=4, n_bands=8)
    # bands=0 is fuzzy_decontaminate's exhaustive mode, not a banding
    pairs = fuzzy_decontaminate(df, df, n_perm=4, bands=0, threshold=0.5).collect()
    assert {(r["train_id"], r["eval_id"]) for r in pairs} >= {(0, 1), (1, 0)}


def test_dedup_wide_expressions_build_in_few_py4j_calls(spark, monkeypatch):
    """Building (no action) the 60-bit SimHash and the 32/8 MinHash band
    table stays under 1,000 py4j round trips each; Column-by-Column
    builds of the same expressions took about 8,400 and 4,100."""
    from py4j import protocol as proto

    df = spark.createDataFrame(_PIN_DOCS, "doc_id long, text string")
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, [0]

    def counting(command, *args, **kwargs):
        # py4j's finalizer thread sends memory-release commands ("m")
        # whenever Python collects a Java handle: not build calls
        calls[0] += not command.startswith(proto.MEMORY_COMMAND_NAME)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    for build in (
        lambda: simhash_table(df, bits=60),
        lambda: minhash_band_table(df, n_perm=32, bands=8),
    ):
        calls[0] = 0
        build()
        assert 0 < calls[0] < 1000


def test_embedding_duplicates(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.99, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_duplicates(df, threshold=0.95).collect()
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in pairs}
    assert (0, 1) in got and got[(0, 1)] > 0.99
    assert (0, 2) not in got


def test_brute_force_top_k(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = brute_force_top_k(df, df, k=2)
    per_query = {}
    for r in out.collect():
        per_query.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    assert sorted(per_query[0])[0] == (1, 1)  # 0's nearest is 1
    assert len(per_query[0]) == 2


def test_vector_top_k_ties_break_to_lower_id(spark):
    """Duplicate embeddings score equal at 6 dp; every vector operator
    then ranks exactly 1..k per query and breaks the tie to the lower
    vec_id: brute force (cosine and l2), exhaustive IVF and the exact
    rerank of all pairs."""
    from networkframe_spark.functions.similarity import (
        ann_rerank,
        brute_force_top_k,
        ivf_top_k,
    )

    groups = [
        ((9, 5, 1), [1.0, 0.0]),
        ((7, 3), [0.6, 0.8]),
        ((8, 2), [0.0, 1.0]),
        ((6, 4), [-1.0, 0.0]),
    ]
    rows = [(i, v) for ids, v in groups for i in ids]  # descending ids
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "query_id long, embedding array<double>",
    )
    k = 4
    # by hand: q100's top-4 is the three [1, 0] copies, then 3 of
    # {3, 7}; q101's is {2, 8}, then 3 of {3, 7}
    want = {100: [1, 5, 9, 3], 101: [2, 8, 3, 7]}

    def ranked(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
        for qid, pairs in got.items():
            assert [r for r, _ in sorted(pairs)] == list(range(1, k + 1))
        return {qid: [v for _, v in sorted(p)] for qid, p in got.items()}

    pairs = qs.select("query_id").crossJoin(corpus.select("vec_id"))
    for metric in ("cosine", "l2"):
        brute = brute_force_top_k(
            corpus, qs, k=k, query_id_col="query_id",
            exclude_self=False, metric=metric,
        )
        assert ranked(brute) == want, metric
        rerank = ann_rerank(pairs, corpus, qs, k=k, metric=metric)
        assert ranked(rerank) == want, metric
    ivf = ivf_top_k(
        corpus, qs, k=k, n_lists=2, n_probe=2, query_id_col="query_id",
        exclude_self=False, centroids=[[1.0, 0.0], [0.0, 1.0]],
    )
    assert ranked(ivf) == want


def test_lsh_top_k_recall(spark):
    # clustered vectors: LSH must recover the exact nearest neighbor
    # for most queries when planes/tables are generous
    import math

    rows = []
    for i in range(40):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        vec = [b + 0.01 * ((i * 7 + j) % 5) for j, b in enumerate(base)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = brute_force_top_k(df, df, k=1)
    approx = lsh_top_k(df, df, k=1, n_planes=6, n_tables=6)
    e = {r["query_id"]: r["vec_id"] for r in exact.collect()}
    a = {r["query_id"]: r["vec_id"] for r in approx.collect()}
    hits = sum(1 for q in e if a.get(q) == e[q])
    assert hits / len(e) >= 0.8


def test_multimodal_features(spark):
    media = synthetic_media(spark, n=30)
    feats = extract_image_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    by_id = {r["media_id"]: r for r in rows}
    assert by_id[0]["n_bytes"] == 256
    img_rows = [r for r in rows if r["media_type"] == "image"]
    assert all(r["mean_intensity"] is not None for r in img_rows)
    # determinism
    rows2 = {r["media_id"]: r["mean_intensity"] for r in extract_image_features(media).collect()}
    assert all(rows2[r["media_id"]] == r["mean_intensity"] for r in rows)


def test_multimodal_resize(spark):
    media = synthetic_media(spark, n=12)
    out = resize_images(media, out_w=8, out_h=8).collect()
    assert all(len(r["pixels"]) == 8 * 8 * 3 for r in out)
    assert len(out) == sum(1 for r in media.collect() if r["media_type"] == "image")


def test_video_frame_sampling(spark):
    media = synthetic_media(spark, n=12)
    frames = sample_video_frames(media, every_n=8).collect()
    vids = [r for r in media.collect() if r["media_type"] == "video"]
    assert len(frames) == len(vids) * 3  # 24 frames, every 8th -> 0,8,16


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="fixtures absent")
def test_on_fixture_documents(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = add_token_count(add_quality_score(add_language_id(docs)))
    row = out.first()
    assert row["n_tokens"] > 0
    marks = exact_duplicates(docs)
    assert marks.count() == docs.count()


def test_ivf_top_k_recall(spark):
    """IVF with full probing is exact; partial probing keeps decent
    recall of the brute-force top-1."""
    import math

    from networkframe_spark.functions.similarity import (
        brute_force_top_k,
        ivf_top_k,
    )

    rows = [
        (i, [math.sin(i * 0.7 + d) for d in range(8)]) for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter("vec_id < 8")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_top_k(emb, qs, k=1).collect()
    }
    # full probe == exact
    full = {
        (r["query_id"], r["vec_id"])
        for r in ivf_top_k(emb, qs, k=1, n_lists=4, n_probe=4).collect()
    }
    assert full == exact
    # partial probe: recall >= 50% on this easy set
    part = {
        (r["query_id"], r["vec_id"])
        for r in ivf_top_k(emb, qs, k=1, n_lists=8, n_probe=2).collect()
    }
    assert len(part & exact) >= len(exact) // 2


def test_ivf_assign_deterministic(spark):
    from networkframe_spark.functions.similarity import (
        ivf_assign,
        ivf_fit_centroids,
    )

    rows = [(i, [float(i % 5), float(i % 3)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c1 = ivf_fit_centroids(emb, n_lists=3, n_iter=2)
    c2 = ivf_fit_centroids(emb, n_lists=3, n_iter=2)
    assert c1 == c2
    a1 = sorted((r["vec_id"], r["list_id"]) for r in ivf_assign(emb, c1).collect())
    a2 = sorted((r["vec_id"], r["list_id"]) for r in ivf_assign(emb, c2).collect())
    assert a1 == a2


def test_k_hop_decomposition(spark):
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    decomp = dict(
        (ego, sorted(r["id"] for r in sub.nodes.collect()))
        for ego, sub in nf.k_hop_decomposition(1, directed=False)
    )
    assert decomp[0] == [0, 1]
    assert decomp[1] == [0, 1, 2]
    assert decomp[3] == [2, 3]


def test_k_hop_decomposition_guard(spark, monkeypatch):
    """The per-ego driver loop is loudly guarded past
    _DECOMP_LOCAL_MAX_EGOS, pointing at k_hop_pairs (the
    _LOCAL_MAX_ROWS policy — no unguarded local path)."""
    import pytest

    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    monkeypatch.setattr(NetworkFrame, "_DECOMP_LOCAL_MAX_EGOS", 3)
    # Eager contract: the ValueError fires at CALL time, before any
    # iteration — a caller that obtains-but-defers the generator still
    # hits the guard immediately.
    with pytest.raises(ValueError, match="k_hop_pairs"):
        nf.k_hop_decomposition(1, directed=False)


def test_embedding_duplicates_lsh_matches_exact(spark):
    """The bucketed (scale) path must agree with the exact path on
    planted near-duplicates: deterministic hyperplanes, near-1 cosine
    pairs -> miss probability is numerically negligible and the test is
    fully reproducible."""
    import math

    rows = []
    for i in range(60):
        base = [math.sin(0.37 * i + d) for d in range(16)]
        rows.append((i, base))
        # planted near-dup: tiny deterministic perturbation
        rows.append((1000 + i, [x + 0.001 * ((i + d) % 3) for d, x in enumerate(base)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_duplicates(df, threshold=0.999, mode="exact").collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_duplicates(
            df, threshold=0.999, mode="lsh", n_planes=8, n_tables=12
        ).collect()
    }
    assert set(exact) == set(lsh)
    assert all(abs(exact[k] - lsh[k]) < 1e-9 for k in exact)
    assert len(exact) >= 60  # every planted pair found
    # wrong caller-supplied dim is rejected, never silently mis-scored
    with pytest.raises(ValueError, match="does not match"):
        embedding_duplicates(df, threshold=0.999, mode="lsh", n_planes=8, dim=8)


def test_lsh_paths_range_check_planes_and_probe_bits(spark, tmp_path):
    """Every hyperplane-LSH path bands with 0..63 planes (one bit each
    of a signed 64-bit signature) and probes 0..n_planes bits; outside
    those ranges it raises ValueError instead of failing inside Spark
    (64 planes would need the literal 1 << 63)."""
    import math

    from networkframe_spark.functions.similarity import (
        build_lsh_index,
        lsh_index_search,
        lsh_top_k,
        semantic_decontaminate,
    )

    emb = spark.createDataFrame(
        [(i, [math.sin(i + d) for d in range(4)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    paths = {
        "lsh_top_k": lambda p, b=0: lsh_top_k(
            emb, emb, k=2, n_planes=p, n_tables=2, n_probe_bits=b
        ).collect(),
        "semantic_decontaminate": lambda p, b=0: semantic_decontaminate(
            emb, emb, threshold=0.5, method="lsh", n_planes=p, n_tables=2,
            n_probe_bits=b,
        ).collect(),
        "build_lsh_index": lambda p: build_lsh_index(
            emb, str(tmp_path / f"lsh{p}"), n_planes=p, n_tables=2
        ),
        "embedding_duplicates": lambda p: embedding_duplicates(
            emb, threshold=0.5, mode="lsh", n_planes=p, n_tables=2
        ).collect(),
    }
    for name, run in paths.items():
        with pytest.raises(ValueError, match="n_planes must be in"):
            run(64)
        with pytest.raises(ValueError, match="must be in"):
            run(-1)
        run(0)
        run(63)
    for name in ("lsh_top_k", "semantic_decontaminate"):
        for bits in (-1, 5):
            with pytest.raises(ValueError, match="n_probe_bits must be in"):
                paths[name](4, bits)
        paths[name](4, 4)
    build_lsh_index(emb, str(tmp_path / "lsh4"), n_planes=4, n_tables=2)
    with pytest.raises(ValueError, match="n_probe_bits must be in"):
        lsh_index_search(spark, str(tmp_path / "lsh4"), emb, n_probe_bits=5)


def test_embedding_duplicates_exact_guard(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="exact embedding dedup refused"):
        embedding_duplicates(df, mode="exact", exact_max_rows=10).count()
    # auto mode silently routes the same oversized input to LSH
    out = embedding_duplicates(df, mode="auto", exact_max_rows=10, threshold=0.9999)
    assert out.columns == ["id_a", "id_b", "cosine"]
    out.collect()


def test_ngram_max_df_caps_stopword_shingle(spark):
    """A shingle shared by every doc must not survive a max_df cap:
    without the cap it creates an O(m^2) candidate bucket."""
    common = "spark spark spark"  # identical 3-shingle in every doc
    rows = [
        (i, f"{common} unique{i} tail{i} word{i} extra{i}") for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from networkframe_spark.functions.dedup import _shingle_table

    uncapped = _shingle_table(df, "text", "doc_id", 3)
    capped = _shingle_table(df, "text", "doc_id", 3, max_df=5)
    assert uncapped.filter(F.col("sh") == common).count() == 20
    assert capped.filter(F.col("sh") == common).count() == 0
    # with the common shingle capped away, no pair shares a shingle
    pairs = ngram_jaccard_duplicates(df, threshold=0.01, max_df=5)
    assert pairs.count() == 0
    # uncapped: every pair collides through the stopword shingle
    pairs_uncapped = ngram_jaccard_duplicates(df, threshold=0.01)
    assert pairs_uncapped.count() == 20 * 19 // 2


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="fixtures absent")
def test_lsh_top_k_recall_fixture(spark):
    """Quantitative contract for the approximate ANN path on the real
    embeddings fixture: recall@10 of brute-force top-10 >= 0.9 with
    n_tables=8 (VERDICT r1 item 7).

    Plane count follows the S-curve for this fixture's data: its
    vectors are random/near-orthogonal, so brute-force top-10
    neighbors sit at cosine ~0.24-0.43 (p_bit ~ 1 - acos(c)/pi ~ 0.58)
    and per-neighbor hit probability with 8 tables is
    1-(1-0.58^P)^8: P=2 -> 0.96, P=3 -> 0.82.  Only P<=2 clears 0.9 —
    coarse buckets are the honest price of low-cosine neighbors;
    clustered corpora (the production near-dup case) support deeper
    planes, covered by test_lsh_top_k_recall above."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter("vec_id < 20")
    exact = {}
    for r in brute_force_top_k(emb, qs, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = {}
    for r in lsh_top_k(emb, qs, k=10, n_planes=2, n_tables=8).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9


def test_label_centroids(spark):
    """Element-wise per-label means, rounded 6dp, order-stable."""
    from networkframe_spark.functions.similarity import label_centroids

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 4.0], 0),
            (3, [10.0, 20.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["label"]: r for r in label_centroids(df).collect()}
    assert out[0]["n_vectors"] == 2
    assert out[0]["centroid"] == [2.0, 3.0]
    assert out[1]["n_vectors"] == 1
    assert out[1]["centroid"] == [10.0, 20.0]


def test_embedding_gram_paths_bit_identical(spark):
    """The Arrow-batched partial-Gram path must produce BIT-identical
    output to the oracle-checked explode path (both floor identical
    float64 products to scaled longs before summing)."""
    from networkframe_spark.functions.similarity import embedding_gram
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001")
    de = {(r["i"], r["j"]): r["g"] for r in embedding_gram(emb, method="explode").collect()}
    dp = {(r["i"], r["j"]): r["g"] for r in embedding_gram(emb, method="partial").collect()}
    assert de == dp
    assert len(de) == 64 * 64
    # symmetric, positive diagonal
    assert all(de[(i, j)] == de[(j, i)] for i in range(8) for j in range(8))
    assert all(de[(i, i)] > 0 for i in range(64))


def test_principal_component_scores(spark):
    """pc1 must match a numpy eigh + projection on the same data to
    the 6dp rounding grid (sign pinned the same way)."""
    import numpy as np

    from networkframe_spark.functions.similarity import principal_component_scores
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001")
    got = {r["vec_id"]: r["pc1"] for r in principal_component_scores(emb).collect()}
    pdf = emb.toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    C = (X - X.mean(0)).T @ (X - X.mean(0))
    vals, vecs = np.linalg.eigh(C)
    v = vecs[:, int(np.argmax(vals))]
    v = v if v[int(np.argmax(np.abs(v)))] >= 0 else -v
    ref = (X - X.mean(0)) @ v
    for vid, val in zip(pdf["vec_id"], ref):
        assert abs(got[int(vid)] - val) < 1e-4


def test_graph_metrics(spark):
    """Hand-computed metrics on a 4-node graph with one reciprocal
    pair: density, reciprocity, assortativity sign, avg degree."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    # 0<->1 reciprocal; 1->2; 2->3; plus a self-loop and a dup (ignored)
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 3), (2, 2), (1, 2)],
        "source long, target long",
    )
    nf = NetworkFrame(nodes, edges)
    r = nf.metrics().collect()[0]
    # distinct non-loop ordered pairs: (0,1),(1,0),(1,2),(2,3) -> m=4
    assert r["density"] == round(4 / (4 * 3), 6)
    assert r["reciprocity"] == 0.5  # (0,1),(1,0) reciprocal of 4
    # undirected degrees: 0:1, 1:2, 2:2, 3:1 -> avg 1.5
    assert r["avg_degree"] == 1.5
    # chain-like graph: ends (deg1) attach to middles (deg2) -> negative
    assert r["assortativity"] < 0


def test_inter_event_stats(spark):
    import datetime as dt

    from networkframe_spark.functions.temporal import inter_event_stats

    def ts(m):
        return dt.datetime(2026, 1, 1, 12, m, tzinfo=dt.timezone.utc)

    ev = spark.createDataFrame(
        [(1, 1, ts(0)), (2, 1, ts(10)), (3, 1, ts(40)), (4, 2, ts(5))],
        "event_id long, user_id long, ts timestamp",
    )
    out = {r["user_id"]: r for r in inter_event_stats(ev).collect()}
    assert out[1]["n_events"] == 3
    assert out[1]["mean_gap_s"] == 1200.0  # gaps 600s, 1800s
    assert out[1]["max_gap_s"] == 1800.0
    assert out[2]["n_events"] == 1 and out[2]["mean_gap_s"] is None


def test_funnel_counts(spark):
    import datetime as dt

    from networkframe_spark.functions.temporal import funnel_counts

    def ts(m):
        return dt.datetime(2026, 1, 1, 12, m, tzinfo=dt.timezone.utc)

    rows = [
        (1, 1, ts(0), "click"), (2, 1, ts(10), "buy"),    # converts
        (3, 2, ts(0), "click"), (4, 2, ts(50), "buy"),    # too late
        (5, 3, ts(20), "click"),                          # no step2
        (6, 4, ts(30), "buy"),                            # no step1
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    r = funnel_counts(ev, "click", "buy", within_minutes=30).collect()[0]
    assert r["n_step1_users"] == 3
    assert r["n_converted"] == 1
    assert r["conversion_rate"] == round(1 / 3, 6)


def test_unigram_logprob_score(spark):
    """Docs of corpus-common tokens must outscore docs of rare ones;
    empty docs report NULL with zero tokens."""
    from networkframe_spark.functions.text import unigram_logprob_score

    df = spark.createDataFrame(
        [
            (1, "the the the the"),       # 'the' dominates the corpus
            (2, "the the zyx"),           # one rare token drags it down
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in unigram_logprob_score(df).collect()}
    assert got[1]["n_tokens"] == 4 and got[2]["n_tokens"] == 3
    assert got[1]["logprob"] > got[2]["logprob"]
    assert got[3]["n_tokens"] == 0 and got[3]["logprob"] is None
    # hand check: p(the) = 6/7, p(zyx) = 1/7
    import math

    assert got[1]["logprob"] == pytest.approx(math.log(6 / 7), abs=1e-5)


def test_ivf_index_persisted_search(spark, tmp_path):
    """build_ivf_index + ivf_index_search: exhaustive probe equals
    brute force; the probe scan is PARTITION-PRUNED (the plan's
    partition filters reference list_id, and fewer cell directories
    are read than exist)."""
    from networkframe_spark.functions.similarity import (
        brute_force_top_k,
        build_ivf_index,
        ivf_index_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    path = str(tmp_path / "ivf")
    cents = build_ivf_index(emb, path, n_lists=8, n_iter=2)
    assert len(cents) == 8
    qs = emb.filter("vec_id < 5")
    # exhaustive probe == brute force
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in ivf_index_search(spark, path, qs, k=3, n_probe=8).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in brute_force_top_k(emb, qs, k=3).collect()
    )
    assert got == want
    # partial probe: plan prunes partitions
    partial = ivf_index_search(spark, path, qs, k=3, n_probe=2)
    plan = partial._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    assert partial.count() > 0


def test_ivfpq_index_search(spark, tmp_path):
    """build_ivfpq_index + ivfpq_search: exhaustive probe is
    bit-identical to pure ADC (pq_search over the same codebook —
    the no-residual contract); a partial probe partition-prunes the
    codes scan and scores only vectors from probed cells."""
    from networkframe_spark.functions.similarity import (
        build_ivfpq_index,
        ivfpq_search,
        pq_codebook,
        pq_encode,
        pq_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    path = str(tmp_path / "ivfpq")
    art = build_ivfpq_index(
        emb, path, n_lists=8, m=4, k_codes=16, n_iter=2,
        codebook_init="first_ids", residual=False,
    )
    assert len(art["centroids"]) == 8 and len(art["codebook"]) == 4
    qs = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["approx_d2"])
        for r in ivfpq_search(spark, path, qs, k=5, n_probe=8).collect()
    )
    cb = pq_codebook(emb, m=4, k=16, init="first_ids")
    codes = pq_encode(emb, cb)
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["approx_d2"])
        for r in pq_search(codes, cb, qs, k=5).collect()
    )
    assert got == want
    # partial probe: plan prunes partitions; every scored pair's ADC
    # value matches the exhaustive run's value for that pair
    pruned = ivfpq_search(spark, path, qs, k=5, n_probe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    full_scores = {(q, v): d for q, _, v, d in want}
    for r in pruned.collect():
        key = (r["query_id"], r["vec_id"])
        if key in full_scores:
            assert r["approx_d2"] == full_scores[key]


def test_probe_query_batch_guard(spark, tmp_path, monkeypatch):
    """The persisted-index probe paths collect the query batch
    driver-side (the ADC table / probe pairs broadcast by design) —
    past the cap they must fail LOUDLY, not OOM the driver; the
    pre-guard collect is itself bounded by limit(cap + 1)."""
    import networkframe_spark.functions.similarity as sim
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(50)
    path = str(tmp_path / "ivfpq_guard")
    sim.build_ivfpq_index(
        emb, path, n_lists=4, m=4, k_codes=8, n_iter=1,
        codebook_init="first_ids", residual=False,
    )
    qs = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    monkeypatch.setattr(sim, "_MAX_QUERY_BATCH", 10)
    with pytest.raises(ValueError, match="query batch exceeds"):
        sim.ivfpq_search(spark, path, qs, k=3, n_probe=2).collect()
    ipath = str(tmp_path / "ivf_guard")
    sim.build_ivf_index(emb, ipath, n_lists=4, n_iter=1)
    spath = str(tmp_path / "sq_guard")
    sim.build_ivf_sq_index(emb, spath, n_lists=4, n_iter=1)
    lpath = str(tmp_path / "lsh_guard")
    sim.build_lsh_index(emb, lpath, n_planes=4, n_tables=2)
    for search, p in (
        (sim.ivf_index_search, ipath),
        (sim.ivf_sq_search, spath),
        (sim.lsh_index_search, lpath),
    ):
        with pytest.raises(ValueError, match="query batch exceeds"):
            search(spark, p, qs, k=3, query_id_col="query_id").collect()
    # residual ADC table guard: n_q x n_probe x m x k must broadcast —
    # fail loudly up front, not mid-BroadcastExchange (maxResultSize)
    monkeypatch.setattr(sim, "_MAX_QUERY_BATCH", 1_000_000)
    rpath = str(tmp_path / "ivfpq_res_guard")
    sim.build_ivfpq_index(
        emb, rpath, n_lists=4, m=4, k_codes=8, n_iter=1,
        codebook_init="first_ids", residual=True,
    )
    monkeypatch.setattr(sim, "_MAX_RESIDUAL_LUT_ROWS", 10)
    with pytest.raises(ValueError, match="residual ADC table"):
        sim.ivfpq_search(spark, rpath, qs, k=3, n_probe=4).collect()


def test_probe_fanout_product_guard(spark, tmp_path, monkeypatch):
    """The probe-pair guard caps the COMPOSITE product, not just the
    query count: a batch that passes _MAX_QUERY_BATCH must still fail
    loudly when queries x tables x Hamming-ball (LSH) or queries x
    n_probe (IVF / IVF-PQ) exceeds the driver-table budget — the
    r12-ADVICE OOM shape (1M queries x 4 tables x 137 masks = 548M
    driver tuples) with the constants scaled down."""
    import networkframe_spark.functions.similarity as sim
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(50)
    qs = emb.select(F.col("vec_id").alias("query_id"), "embedding")

    lpath = str(tmp_path / "lsh_fan")
    sim.build_lsh_index(emb, lpath, n_planes=4, n_tables=2)
    # 50 queries x 2 tables x 5 ball-1 masks = 500 probe rows
    monkeypatch.setattr(sim, "_MAX_PROBE_ROWS", 499)
    with pytest.raises(ValueError, match="probe-pair table"):
        sim.lsh_index_search(
            spark, lpath, qs, k=3, n_probe_bits=1, query_id_col="query_id"
        ).collect()
    # exactly at the boundary: allowed
    monkeypatch.setattr(sim, "_MAX_PROBE_ROWS", 500)
    assert (
        sim.lsh_index_search(
            spark, lpath, qs, k=3, n_probe_bits=1, query_id_col="query_id"
        ).count()
        > 0
    )

    ipath = str(tmp_path / "ivf_fan")
    sim.build_ivf_index(emb, ipath, n_lists=4, n_iter=1)
    monkeypatch.setattr(sim, "_MAX_PROBE_ROWS", 99)  # 50 x 2 = 100
    with pytest.raises(ValueError, match="probe-pair table"):
        sim.ivf_index_search(
            spark, ipath, qs, k=3, n_probe=2, query_id_col="query_id"
        ).collect()

    ppath = str(tmp_path / "ivfpq_fan")
    sim.build_ivfpq_index(
        emb, ppath, n_lists=4, m=4, k_codes=8, n_iter=1,
        codebook_init="first_ids", residual=False,
    )
    with pytest.raises(ValueError, match="probe-pair table"):
        sim.ivfpq_search(spark, ppath, qs, k=3, n_probe=2).collect()


def test_brute_force_top_k_l2(spark):
    """metric='l2' ranks by ascending 6-dp squared L2 (self at rank 1
    when not excluded) — the truth an L2-quantized index is judged by;
    cosine would rank the scaled copy first instead."""
    from networkframe_spark.functions.similarity import brute_force_top_k

    rows = [
        (0, [1.0, 0.0]),
        (1, [2.0, 0.0]),   # same direction, far in L2
        (2, [1.0, 0.5]),   # nearer in L2, different direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter("vec_id = 0")
    got = [
        (r["rank"], r["vec_id"], r["d2"])
        for r in brute_force_top_k(
            df, qs, k=3, exclude_self=False, metric="l2"
        ).orderBy("rank").collect()
    ]
    assert got == [(1, 0, 0.0), (2, 2, 0.25), (3, 1, 1.0)]
    cos = [
        r["vec_id"]
        for r in brute_force_top_k(df, qs, k=2, metric="cosine")
        .orderBy("rank").collect()
    ]
    assert cos[0] == 1  # cosine prefers the scaled copy


def test_ivfpq_coarse_first_ids(spark, tmp_path):
    """coarse_init='first_ids' routes cells by the n_lists smallest-id
    vectors (the SQL-replayable mode ivfpq_recall's oracle unrolls);
    exhaustive probe still equals pure ADC."""
    import json as _json
    import os as _os

    from networkframe_spark.functions.similarity import (
        build_ivfpq_index,
        ivfpq_search,
        pq_codebook,
        pq_encode,
        pq_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(100)
    path = str(tmp_path / "ivfpq_fi")
    art = build_ivfpq_index(
        emb, path, n_lists=4, m=4, k_codes=8,
        codebook_init="first_ids", coarse_init="first_ids",
        residual=False,
    )
    first4 = [
        list(map(float, r["embedding"]))
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    stored = _json.loads(
        spark.read.json(_os.path.join(path, "centroids")).collect()[0][
            "centroids"
        ]
    )
    assert stored == first4
    qs = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in ivfpq_search(spark, path, qs, k=3, n_probe=4).collect()
    )
    cb = pq_codebook(emb, m=4, k=8, init="first_ids")
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in pq_search(pq_encode(emb, cb), cb, qs, k=3).collect()
    )
    assert got == want
    with pytest.raises(ValueError, match="coarse_init"):
        build_ivfpq_index(emb, path + "2", coarse_init="nope")


def test_ivfpq_residual_single_cell(spark, tmp_path):
    """IVFADC residual contract: with ONE cell, residual encoding is
    exactly PQ over the centered corpus (x − c0) queried with centered
    queries — bit-identical ADC scores.  Also pins that the meta
    manifest routes the search into residual mode with no caller
    flag."""
    from networkframe_spark.functions.similarity import (
        build_ivfpq_index,
        ivfpq_search,
        pq_codebook,
        pq_encode,
        pq_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(100)
    path = str(tmp_path / "ivfpq_res")
    art = build_ivfpq_index(
        emb, path, n_lists=1, m=4, k_codes=8,
        codebook_init="first_ids", coarse_init="first_ids", residual=True,
    )
    assert art["meta"]["residual"] is True
    c0 = [
        float(x)
        for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    ]
    c0_arr = F.array(*[F.lit(v) for v in c0])
    centered = emb.select(
        "vec_id",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            c0_arr,
            lambda x, y: x - y,
        ).alias("embedding"),
    )
    cb = pq_codebook(centered, m=4, k=8, init="first_ids")
    assert cb == art["codebook"]
    qs = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["approx_d2"])
        for r in ivfpq_search(spark, path, qs, k=5, n_probe=1).collect()
    )
    qs_centered = centered.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["approx_d2"])
        for r in pq_search(
            pq_encode(centered, cb), cb, qs_centered, k=5
        ).collect()
    )
    assert got == want


def test_ivfpq_index_add(spark, tmp_path):
    """Incremental codes append: build on the even half, add the odd
    half against the STORED manifests — post-add exhaustive probe
    equals pq_search with the even-half codebook over the FULL corpus
    (no-residual), and a replayed add is a no-op (dedupe guard).
    Residual mode appends stay consistent too (codes quantize against
    the stored centroids, which the add never moves)."""
    from networkframe_spark.functions.similarity import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_search,
        pq_codebook,
        pq_encode,
        pq_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(100)
    path = str(tmp_path / "ivfpq_add")
    build_ivfpq_index(
        emb.filter("vec_id % 2 = 0"), path, n_lists=4, m=4, k_codes=8,
        codebook_init="first_ids", coarse_init="first_ids",
        residual=False,
    )
    ivfpq_index_add(spark, path, emb.filter("vec_id % 2 = 1"))
    qs = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["approx_d2"])
        for r in ivfpq_search(spark, path, qs, k=5, n_probe=4).collect()
    )
    cb = pq_codebook(emb.filter("vec_id % 2 = 0"), m=4, k=8, init="first_ids")
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["approx_d2"])
        for r in pq_search(pq_encode(emb, cb), cb, qs, k=5).collect()
    )
    assert got == want
    # replayed add appends nothing
    import os as _os

    n_before = spark.read.parquet(_os.path.join(path, "codes")).count()
    ivfpq_index_add(spark, path, emb.filter("vec_id % 2 = 1"))
    assert spark.read.parquet(_os.path.join(path, "codes")).count() == n_before
    # residual index: add works and the searcher still finds the
    # appended vectors (meta routes the residual encode path)
    rpath = str(tmp_path / "ivfpq_add_res")
    build_ivfpq_index(
        emb.filter("vec_id % 2 = 0"), rpath, n_lists=4, m=4, k_codes=8,
        codebook_init="first_ids", coarse_init="first_ids", residual=True,
    )
    ivfpq_index_add(spark, rpath, emb.filter("vec_id % 2 = 1"))
    res = ivfpq_search(spark, rpath, qs, k=100, n_probe=4)
    odd_hits = res.filter("vec_id % 2 = 1").count()
    assert odd_hits > 0


def test_hamming_ball_masks():
    """combinations enumeration == the old 2^n_planes range filter,
    including order — and stays ball-sized at large n_planes."""
    from networkframe_spark.functions.similarity import _hamming_ball_masks

    for n_planes in (0, 1, 4, 8):
        for r in range(n_planes + 1):
            want = [
                m for m in range(1 << n_planes)
                if bin(m).count("1") <= r
            ]
            assert _hamming_ball_masks(n_planes, r) == want
    # ball-sized, not 2^n: n_planes=40 would be a 10^12-iteration scan
    assert _hamming_ball_masks(40, 1) == [0] + [1 << j for j in range(40)]


def test_embedding_clusters_modes(spark):
    """first_ids mode assigns each vector to its most-similar seed
    (ties to lowest seed id); kmeans mode groups identical vectors."""
    from networkframe_spark.functions.similarity import embedding_clusters

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9, 0.1]),   # -> seed 0
        (3, [0.1, 0.9]),   # -> seed 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["cluster"]
        for r in embedding_clusters(df, n_clusters=2, init="first_ids").collect()
    }
    assert got == {0: 0, 1: 1, 2: 0, 3: 1}
    km = embedding_clusters(df, n_clusters=2, init="kmeans")
    by = {r["vec_id"]: r["cluster"] for r in km.collect()}
    assert by[0] == by[2] and by[1] == by[3] and by[0] != by[1]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        embedding_clusters(df, init="kmeanz")


def test_round_half_up_matches_sql_round_on_midpoints(spark):
    import numpy as np

    from networkframe_spark.functions.similarity import round_half_up
    from pyspark.sql import functions as F

    vals = [0.0000005, 0.0000015, -0.0000005, -0.0000015, 0.1234565]
    got = [float(v) for v in round_half_up(np.array(vals), 6)]
    sql = (
        spark.createDataFrame([(v,) for v in vals], "x double")
        .select(F.round("x", 6).alias("r"))
        .collect()
    )
    assert got == [r["r"] for r in sql]
    # np.round (half-even) would disagree on the .5 midpoints
    assert got[0] == 1e-6 and float(np.round(vals[0], 6)) == 0.0


def test_lsh_top_k_recall_nondegenerate_config(spark):
    """VERDICT r5 item 3: the driver oracle for cosine_topk_lsh proves
    only the degenerate single-bucket config (n_planes=0, n_tables=1).
    This is the non-degenerate gate: recall@3 >= 0.9 at n_planes=8,
    n_tables=4 vs brute_force_top_k on a seeded clustered corpus —
    fails if the banding/multi-table machinery breaks.

    (8 planes need high-cosine neighbors to work: same-cluster cosine
    here is ~0.99 -> p_bit ~ 0.955, per-table hit 0.955^8 ~ 0.69, and
    1-(1-0.69)^4 ~ 0.99 over 4 tables.  The near-orthogonal parquet
    fixture caps at 2 planes — see test_lsh_top_k_recall_fixture.)
    """
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n_clusters, per = 16, 10, 10
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1)[:, None]
    rows = []
    for c in range(n_clusters):
        for i in range(per):
            v = centers[c] + 0.05 * rng.normal(size=dim)
            rows.append((c * per + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {}
    for r in brute_force_top_k(df, df, k=3).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = {}
    for r in lsh_top_k(df, df, k=3, n_planes=8, n_tables=4).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert total == 300
    assert hits / total >= 0.9


def test_gopher_rules_per_rule_outcomes(spark):
    from networkframe_spark.functions.text import gopher_rules

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog have been to town with all of that " * 5),
            (2, "### #### ## # ###"),
            (3, "- one\n- two\n- three\n- four"),
            (4, "ok " * 30),
            (5, "supercalifragilisticexpialidocious " * 25),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in gopher_rules(df, min_words=10, max_words=100).collect()
    }
    assert out[1]["gopher_pass"]
    assert not out[2]["rule_symbol_ratio"]
    assert not out[2]["rule_alpha_ratio"]
    assert not out[3]["rule_bullet_ratio"]  # 100% bullet lines
    assert not out[4]["rule_stopwords"]  # no gopher stopwords
    assert out[4]["rule_word_count"]
    assert not out[5]["rule_mean_word_len"]  # 34-char words
    assert not out[5]["gopher_pass"]


def test_fuzzy_decontaminate_banded_recall_and_exhaustive(spark):
    from networkframe_spark.functions.dedup import fuzzy_decontaminate

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "while the cat watches from the old wooden fence nearby"
    )
    train = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("lazy", "sleepy")),  # near-dup of eval doc
            (3, "completely different text about spark query planning"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, base)], "doc_id long, text string")
    # exhaustive mode finds the exact pair set
    exact = {
        (r["train_id"], r["eval_id"]): r["jaccard"]
        for r in fuzzy_decontaminate(train, ev, bands=0, threshold=0.3).collect()
    }
    assert (1, 100) in exact and exact[(1, 100)] == 1.0
    assert (2, 100) in exact and exact[(2, 100)] < 1.0
    assert (3, 100) not in exact
    # banded scale path: near-identical docs must still be caught
    banded = {
        (r["train_id"], r["eval_id"])
        for r in fuzzy_decontaminate(
            train, ev, bands=8, n_perm=32, threshold=0.3
        ).collect()
    }
    assert (1, 100) in banded


def test_bigram_logprob_orders_fluency(spark):
    from networkframe_spark.functions.text import bigram_logprob_score

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),
            (3, "mat the on sat cat the"),  # same unigrams, scrambled
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_logprob_score(df).collect()}
    assert out[1]["logprob"] == out[2]["logprob"]
    # bigram model must penalize the scrambled doc; unigram can't
    assert out[3]["logprob"] < out[1]["logprob"]
    assert out[4]["n_tokens"] == 0 and out[4]["logprob"] is None


def test_quantize_embeddings_roundtrip_error_bound(spark):
    from networkframe_spark.functions.similarity import (
        dequantize_expr,
        quantize_embeddings,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [0.003, -0.001, 0.002])],
        "vec_id long, embedding array<double>",
    )
    qz = quantize_embeddings(df)
    rows = {r["vec_id"]: r for r in qz.collect()}
    assert rows[1]["qembedding"] == [127, -64, 32]
    assert rows[2]["qembedding"] == [0, 0, 0] and rows[2]["scale"] == 0.0
    # dequantized values within half a quantization step of the input
    back = qz.join(df, on="vec_id").select(
        "vec_id",
        "scale",
        F.zip_with(
            dequantize_expr(F.col("qembedding"), F.col("scale")),
            F.col("embedding"),
            lambda a, b: F.abs(a - b),
        ).alias("err"),
    )
    for r in back.collect():
        assert all(e <= r["scale"] / 2 + 1e-12 for e in r["err"])


def test_knn_graph_feeds_graph_ops(spark):
    from networkframe_spark.functions.similarity import knn_graph

    # two well-separated clusters: kNN edges stay within clusters, so
    # weak components of the graph recover them
    rows = []
    for i in range(6):
        rows.append((i, [1.0 + 0.01 * i, 0.0]))
        rows.append((10 + i, [0.0, 1.0 + 0.01 * i]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    g = knn_graph(df, k=2)
    assert g.edges.count() == 12 * 2
    labels = g.label_nodes_by_component(directed=False).nodes
    comps = {r["id"]: r["component"] for r in labels.collect()}
    assert len(set(comps.values())) == 2
    assert comps[0] == comps[5] and comps[10] == comps[15]
    assert comps[0] != comps[10]


def test_weighted_sample_determinism_and_extremes(spark):
    from networkframe_spark.functions.pipeline import weighted_sample
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, 1.0 if i < 50 else (0.0 if i < 100 else 0.5)) for i in range(1000)],
        "doc_id long, p double",
    )
    kept = weighted_sample(df, "p", seed=3)
    ids1 = {r["doc_id"] for r in kept.collect()}
    ids2 = {r["doc_id"] for r in weighted_sample(df, "p", seed=3).collect()}
    assert ids1 == ids2  # deterministic
    assert all(i in ids1 for i in range(50))  # p=1 always kept
    assert all(i not in ids1 for i in range(50, 100))  # p=0 never kept
    mid = sum(1 for i in ids1 if i >= 100)
    assert 350 < mid < 550  # p=0.5 keeps ~half of 900
    # out-of-range probabilities clamp instead of exploding
    clamped = weighted_sample(
        df.withColumn("p", F.col("p") * 3 - 1), "p", seed=3
    )
    assert clamped.count() > 0


def test_approx_diameter_path_graph_exact(spark):
    from networkframe_spark import NetworkFrame
    from pyspark.sql import functions as F

    # path 0-1-2-3-4-5: double sweep from min id (0) finds 5, second
    # sweep back gives the exact diameter 5
    nodes = spark.range(6).select(F.col("id"))
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(5)], "source long, target long, weight double"
    )
    nf = NetworkFrame(nodes, edges)
    row = nf.approx_diameter(directed=False).first()
    assert row["start_id"] == 0
    assert row["peripheral_id"] == 5
    assert row["diameter_lower_bound"] == 5


def test_embedding_drift_identical_and_shifted(spark):
    from networkframe_spark.functions.similarity import embedding_drift

    a = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    same = embedding_drift(a, a).first()
    assert same["centroid_l2"] == 0.0
    assert same["centroid_cosine"] == 1.0
    assert same["norm_ratio"] == 1.0
    b = spark.createDataFrame(
        [(i, [2.0, 4.0, 6.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    moved = embedding_drift(a, b).first()
    assert moved["n_a"] == 10 and moved["n_b"] == 20
    assert moved["centroid_cosine"] == 1.0  # same direction
    assert moved["norm_ratio"] == 0.5
    assert moved["centroid_l2"] > 3.0


def test_retention_cohorts_known_matrix(spark):
    """Two cohorts: users 1,2 start week 0 (u1 returns weeks 1,2; u2
    week 1 only); user 3 starts week 1 and never returns."""
    from networkframe_spark.functions.temporal import retention_cohorts

    def t(day):
        return f"2024-01-{day:02d} 12:00:00"

    # 2024-01-01 is a Monday; period_days=7 buckets by absolute weeks
    ev = spark.createDataFrame(
        [
            (1, t(1)), (1, t(8)), (1, t(15)),
            (2, t(2)), (2, t(9)),
            (3, t(10)),
        ],
        "user_id long, ts string",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts")
    got = {
        (r["cohort_period"] - 2817, r["period_offset"]): (
            r["n_users"], r["retention"]
        )
        for r in retention_cohorts(ev).collect()
    }
    # 2024-01-01 = day 19723 since epoch -> week 2817
    assert got[(0, 0)] == (2, 1.0)
    assert got[(0, 1)] == (2, 1.0)
    assert got[(0, 2)] == (1, 0.5)
    assert got[(1, 0)] == (1, 1.0)
    assert len(got) == 4


def test_rolling_stats_trailing_frame(spark):
    """Values 10,20,30,40 for one user with n_rows=3: trailing means
    10, 15, 20, 30; min/max track the frame."""
    from networkframe_spark.functions.temporal import rolling_stats

    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:00:00", 10.0),
            (1, 2, "2024-01-01 00:01:00", 20.0),
            (1, 3, "2024-01-01 00:02:00", 30.0),
            (1, 4, "2024-01-01 00:03:00", 40.0),
        ],
        "user_id long, event_id long, ts string, value double",
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    got = {
        r["event_id"]: (r["n_window"], r["mean_v"], r["min_v"], r["max_v"])
        for r in rolling_stats(ev, n_rows=3).collect()
    }
    assert got[1] == (1, 10.0, 10.0, 10.0)
    assert got[2] == (2, 15.0, 10.0, 20.0)
    assert got[3] == (3, 20.0, 10.0, 30.0)
    assert got[4] == (3, 30.0, 20.0, 40.0)


def test_fill_gaps_forward_fill(spark):
    """User with events at hours 0 and 3 gets a 4-bucket grid; hours
    1-2 are gaps carrying hour 0's last value forward (same-bucket
    ties broken by (ts, id): the later event wins)."""
    from networkframe_spark.functions.temporal import fill_gaps

    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:05:00", 10.0),
            (1, 2, "2024-01-01 00:40:00", 30.0),  # last of bucket 0
            (1, 3, "2024-01-01 03:10:00", 5.0),
            (2, 4, "2024-01-01 02:00:00", 7.0),  # single-bucket entity
        ],
        "user_id long, event_id long, ts string, value double",
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    rows = fill_gaps(ev, minutes=60).collect()
    u1 = sorted(
        [r for r in rows if r["user_id"] == 1], key=lambda r: r["bucket_start"]
    )
    assert [str(r["bucket_start"])[11:13] for r in u1] == ["00", "01", "02", "03"]
    assert [r["v_filled"] for r in u1] == [30.0, 30.0, 30.0, 5.0]
    assert [r["is_gap"] for r in u1] == [False, True, True, False]
    u2 = [r for r in rows if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["v_filled"] == 7.0 and not u2[0]["is_gap"]


def test_anomaly_zscore_flags_spike(spark):
    """A 100x spike after a stable run is flagged; the stable run
    itself is not; early rows (< min_periods priors) and zero-variance
    windows score NULL/false."""
    from networkframe_spark.functions.temporal import anomaly_zscore

    rows = []
    # user 1: values 10,11,10,11,... then a spike
    vals = [10.0, 11.0] * 5 + [1000.0, 10.0]
    for i, v in enumerate(vals):
        rows.append((1, i, f"2024-01-01 00:{i:02d}:00", v))
    # user 2: constant values -> zero variance, never flagged
    for i in range(8):
        rows.append((2, 100 + i, f"2024-01-01 00:{i:02d}:00", 5.0))
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, value double"
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    got = {r["event_id"]: r for r in anomaly_zscore(ev, n_rows=10, min_periods=4).collect()}
    assert got[10]["is_anomaly"] and got[10]["z"] > 3
    assert not any(got[i]["is_anomaly"] for i in range(10))
    assert got[0]["z"] is None and got[3]["z"] is None  # too few priors
    assert all(
        got[100 + i]["z"] is None and not got[100 + i]["is_anomaly"]
        for i in range(8)
    )  # zero variance
    # hand-check one z: event 10 sees 10 priors alternating 10/11
    import statistics

    prior = vals[:10]
    want = (1000.0 - statistics.mean(prior)) / statistics.stdev(prior)
    assert abs(got[10]["z"] - want) < 1e-4


def test_fill_gaps_null_value_bucket_not_gap(spark):
    """A bucket whose events carry a NULL value is a real observation
    (is_gap=False, v_filled=NULL), distinct from an empty bucket —
    and subsequent GAP buckets carry that NULL forward rather than
    resurrecting the older value."""
    from networkframe_spark.functions.temporal import fill_gaps

    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:05:00", 10.0),
            (1, 2, "2024-01-01 01:05:00", None),  # NULL observation
            (1, 3, "2024-01-01 03:10:00", 5.0),
        ],
        "user_id long, event_id long, ts string, value double",
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    rows = sorted(fill_gaps(ev, minutes=60).collect(), key=lambda r: r["bucket_start"])
    assert [r["is_gap"] for r in rows] == [False, False, True, False]
    assert [r["v_filled"] for r in rows] == [10.0, None, None, 5.0]


def test_fill_gaps_max_buckets_guard(spark):
    """An entity spanning more grid points than max_buckets fails
    loudly instead of exploding rows."""
    import pytest as _pytest

    from networkframe_spark.functions.temporal import fill_gaps

    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:00:00", 1.0),
            (1, 2, "2024-03-01 00:00:00", 2.0),  # ~1440 hourly buckets
        ],
        "user_id long, event_id long, ts string, value double",
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    with _pytest.raises(Exception, match="max_buckets"):
        fill_gaps(ev, minutes=60, max_buckets=100).collect()


def test_ewma_halving_weights(spark):
    """Halving EWMA over values 10, 20, 40: ewma_2 =
    (2*20+1*10)/3 = 50/3, ewma_3 = (4*40+2*20+1*10)/7 = 30;
    singleton rows equal their own value."""
    from networkframe_spark.functions.temporal import ewma

    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:00:00", 10.0),
            (1, 2, "2024-01-01 00:01:00", 20.0),
            (1, 3, "2024-01-01 00:02:00", 40.0),
            (2, 4, "2024-01-01 00:00:00", 3.5),
        ],
        "user_id long, event_id long, ts string, value double",
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    got = {
        r["event_id"]: (r["n_window"], r["ewma_v"])
        for r in ewma(ev, n_rows=3).collect()
    }
    assert got[1] == (1, 10.0)
    assert got[2] == (2, round(50 / 3, 6))
    assert got[3] == (3, 30.0)
    assert got[4] == (1, 3.5)


def test_ewma_rejects_bad_decay(spark):
    import pytest as _pytest

    from networkframe_spark.functions.temporal import ewma

    ev = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", 1.0)],
        "user_id long, event_id long, ts string, value double",
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    with _pytest.raises(ValueError):
        ewma(ev, decay_num=2, decay_den=2)
    with _pytest.raises(ValueError):
        ewma(ev, n_rows=0)
    with _pytest.raises(ValueError):
        ewma(ev, n_rows=16, decay_num=1, decay_den=7)


def test_char_entropy_known_values(spark):
    """aaaa -> 0 bits; aabb -> 1 bit; abcd -> 2 bits; empty -> NULL
    with a 0 char count."""
    from networkframe_spark.functions.text import char_entropy_score

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aabb"), (3, "abcd"), (4, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_chars_counted"], r["char_entropy"])
        for r in char_entropy_score(docs).collect()
    }
    assert got[1] == (4, 0.0)
    assert got[2] == (4, 1.0)
    assert got[3] == (4, 2.0)
    assert got[4] == (0, None)


def test_rrf_fuse_combines_rankings(spark):
    """Doc 10 ranks 1st and 2nd across the two lists -> top fused
    score 1/61 + 1/62; doc 30 appears once."""
    from networkframe_spark.functions.search import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(20, 1), (10, 2), (30, 3)], "doc_id long, rank long")
    got = {r["doc_id"]: r for r in rrf_fuse([a, b]).collect()}
    assert got[10]["n_lists"] == 2
    assert got[10]["rrf_score"] == round(round(1 / 61, 12) + round(1 / 62, 12), 6)
    assert got[20]["rrf_score"] == got[10]["rrf_score"]  # symmetric ranks
    assert got[30]["n_lists"] == 1
    assert got[30]["rrf_score"] == round(round(1 / 63, 12), 6)


def test_resample_events_ohlc(spark):
    """One user, two hourly buckets: open/close follow (ts, id) order
    including the same-timestamp tie broken by event_id."""
    from networkframe_spark.functions.temporal import resample_events

    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:05:00", 10.0),
            (1, 2, "2024-01-01 00:40:00", 30.0),
            (1, 3, "2024-01-01 00:40:00", 20.0),  # tie: id 2 < 3
            (1, 4, "2024-01-01 01:10:00", 5.0),
        ],
        "user_id long, event_id long, ts string, value double",
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    got = {
        str(r["bucket_start"]): r
        for r in resample_events(ev, minutes=60).collect()
    }
    b0 = got["2024-01-01 00:00:00"]
    assert b0["n_events"] == 3
    assert b0["open_v"] == 10.0 and b0["close_v"] == 20.0  # id 3 wins the tie as LAST
    assert b0["min_v"] == 10.0 and b0["max_v"] == 30.0 and b0["sum_v"] == 60.0
    b1 = got["2024-01-01 01:00:00"]
    assert b1["n_events"] == 1 and b1["open_v"] == b1["close_v"] == 5.0


def test_top_k_per_group(spark):
    """k=2 largest per group with deterministic tie-break; requires a
    tie column."""
    import pytest
    from networkframe_spark.functions.stats import top_k_per_group

    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 9.0), ("a", 3, 9.0), ("b", 4, 1.0)],
        "g string, id long, v double",
    )
    got = sorted(
        (r["g"], r["rank"], r["id"])
        for r in top_k_per_group(df, "g", "v", 2, tie_col="id").collect()
    )
    assert got == [("a", 1, 2), ("a", 2, 3), ("b", 1, 4)]
    low = sorted(
        (r["g"], r["rank"], r["id"])
        for r in top_k_per_group(
            df, "g", "v", 1, descending=False, tie_col="id"
        ).collect()
    )
    assert low == [("a", 1, 1), ("b", 1, 4)]
    with pytest.raises(ValueError):
        top_k_per_group(df, "g", "v", 2)


def test_build_vocab_ranks_and_coverage(spark):
    """Token stream a a a b b c: ranks a, b, c with cumulative
    coverage 0.5, 5/6, 1.0; doc frequency counts distinct docs."""
    from networkframe_spark.functions.text import build_vocab

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c")], "doc_id long, text string"
    )
    got = [
        (r["rank"], r["token"], r["n_occurrences"], r["n_docs"], r["coverage"])
        for r in build_vocab(docs, size=2).orderBy("rank").collect()
    ]
    assert got == [(1, "a", 3, 2, 0.5), (2, "b", 2, 2, round(5 / 6, 6))]
    full = build_vocab(docs, size=10).orderBy("rank").collect()
    assert [r["token"] for r in full] == ["a", "b", "c"]
    assert full[-1]["coverage"] == 1.0


def test_pmi_bigrams_collocation(spark):
    """'new york' always adjacent scores positive PMI; a pair of
    independent fillers scores lower."""
    import math
    from networkframe_spark.functions.text import pmi_bigrams

    docs = spark.createDataFrame(
        [(i, "new york " + ("x y " if i % 2 else "y x ").strip()) for i in range(6)],
        "doc_id long, text string",
    )
    got = {
        (r["w1"], r["w2"]): (r["n_pair"], r["pmi"])
        for r in pmi_bigrams(docs, min_count=2).collect()
    }
    n_pair, pmi = got[("new", "york")]
    assert n_pair == 6
    # bigram stream: 6 docs x 3 bigrams = 18; unigrams: 24 total, 6 each
    want = round(math.log((6 / 18) / ((6 / 24) * (6 / 24))), 6)
    assert abs(pmi - want) < 1e-6
    # 'york x' (3 occurrences) is a cross-boundary pair with lower PMI
    assert got[("york", "x")][1] < pmi


def test_funnel_steps_three_step(spark):
    """u1 completes a->b->c in-window; u2 stalls after a (b too late);
    u3 does b before a (no credit)."""
    from networkframe_spark.functions.temporal import funnel_steps

    rows = [
        (1, "a", "2024-01-01 00:00:00"),
        (1, "b", "2024-01-01 00:10:00"),
        (1, "c", "2024-01-01 00:20:00"),
        (2, "a", "2024-01-01 00:00:00"),
        (2, "b", "2024-01-01 02:00:00"),
        (3, "b", "2024-01-01 00:00:00"),
        (3, "a", "2024-01-01 00:05:00"),
    ]
    ev = spark.createDataFrame(
        [(u, t, ts) for u, t, ts in rows],
        "user_id long, event_type string, ts string",
    ).selectExpr("user_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts")
    got = {
        r["step"]: (
            r["event_type"], r["n_users"],
            r["conversion_overall"], r["conversion_from_prev"],
        )
        for r in funnel_steps(ev, ["a", "b", "c"], within_minutes=30).collect()
    }
    assert got[1] == ("a", 3, 1.0, 1.0)
    assert got[2] == ("b", 1, round(1 / 3, 6), round(1 / 3, 6))
    assert got[3] == ("c", 1, round(1 / 3, 6), 1.0)


def test_trend_slope_linear_series(spark):
    """Perfectly linear value = 2/hour from 10: slope 2.0; a single-
    event user gets NULLs."""
    from networkframe_spark.functions.temporal import trend_slope

    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:00:00", 10.0),
            (1, 2, "2024-01-01 01:00:00", 12.0),
            (1, 3, "2024-01-01 02:00:00", 14.0),
            (2, 4, "2024-01-01 00:00:00", 5.0),
        ],
        "user_id long, event_id long, ts string, value double",
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    got = {r["user_id"]: r for r in trend_slope(ev).collect()}
    assert got[1]["slope_per_hour"] == 2.0
    assert got[2]["slope_per_hour"] is None and got[2]["intercept"] is None
    assert got[1]["n_events"] == 3


def test_truncate_embeddings_unit_norm(spark):
    """Truncated vectors are re-normalized to unit L2; zero prefixes
    stay zero; renormalize=False keeps raw (rounded) values."""
    from networkframe_spark.functions.similarity import truncate_embeddings

    emb = spark.createDataFrame(
        [(1, [3.0, 4.0, 9.0, 9.0]), (2, [0.0, 0.0, 5.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["embedding"]
        for r in truncate_embeddings(emb, dim=2).collect()
    }
    assert got[1] == [0.6, 0.8]
    assert got[2] == [0.0, 0.0]  # zero prefix survives, no div-by-zero
    raw = {
        r["vec_id"]: r["embedding"]
        for r in truncate_embeddings(emb, dim=2, renormalize=False).collect()
    }
    assert raw[1] == [3.0, 4.0]


def test_pq_encode_picks_nearest_subspace_centroid(spark):
    """2-dim subspaces with a first_ids codebook of 2 centroids: each
    half of the query vector maps to its nearest seed half."""
    from networkframe_spark.functions.similarity import pq_codebook, pq_encode

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 10.0, 10.0]),  # seed -> code 0
            (1, [5.0, 5.0, 0.0, 0.0]),    # seed -> code 1
            (2, [4.9, 4.9, 9.0, 9.0]),    # near seed1 left, seed0 right
            (3, [0.1, 0.1, 0.5, 0.0]),    # near seed0 left, seed1 right
        ],
        "vec_id long, embedding array<double>",
    )
    cb = pq_codebook(emb, m=2, k=2, init="first_ids")
    assert len(cb) == 2 and len(cb[0]) == 2 and len(cb[0][0]) == 2
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, cb).collect()}
    assert got[0] == [0, 0]
    assert got[1] == [1, 1]
    assert got[2] == [1, 0]
    assert got[3] == [0, 1]


def test_pq_codebook_kmeans_shrinks_distortion(spark):
    """Lloyd rounds never increase total quantization error vs the
    raw hash-seeded codebook on a small random-ish corpus."""
    import numpy as np

    from networkframe_spark.functions.similarity import pq_codebook, pq_encode

    rows = [
        (i, [float(((i * 37 + d * 11) % 19) - 9) for d in range(4)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def distortion(cb):
        codes = {
            r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, cb).collect()
        }
        X = {i: np.array(v) for i, v in rows}
        err = 0.0
        for i, cs in codes.items():
            rec = np.concatenate([np.array(cb[j][c]) for j, c in enumerate(cs)])
            err += float(((X[i] - rec) ** 2).sum())
        return err

    cb0 = pq_codebook(emb, m=2, k=4, init="kmeans", n_iter=0)
    cb3 = pq_codebook(emb, m=2, k=4, init="kmeans", n_iter=3)
    assert distortion(cb3) <= distortion(cb0) + 1e-9


def test_zipf_fit_known_distribution(spark):
    """A corpus whose token frequencies follow an exact power law
    n(rank) = 64 / rank fits slope -1 within rounding of the 6-dp
    quantized log coordinates."""
    from networkframe_spark.functions.text import zipf_fit

    # token t{i} appears 64//i times, i = 1..8 -> ln n = ln 64 - ln i
    words = []
    for i in range(1, 9):
        words += [f"t{i}"] * (64 // i)
    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    row = zipf_fit(docs, top_n=8).collect()[0]
    assert row["n_distinct_tokens"] == 8
    assert row["n_fit"] == 8
    # 64//i is not exactly 64/i (integer floor), so allow a small gap
    assert abs(row["zipf_slope"] - (-1.0)) < 0.05


def test_hashed_tfidf_idf_weighting(spark):
    """A token present in every doc gets weight 0 (ln N/N); a token
    unique to one doc gets tf * ln(N) on its hashed feature."""
    import math

    from networkframe_spark.functions.pipeline import hashed_tfidf_vectors

    docs = spark.createDataFrame(
        [(0, "common rare rare"), (1, "common"), (2, "common")],
        "doc_id long, text string",
    )
    rows = hashed_tfidf_vectors(docs, n_features=4096).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["weight"])
    # every doc has the common feature at weight 0
    assert all(0.0 in ws for ws in by_doc.values())
    # doc 0 additionally carries the rare feature: tf=2, idf=ln 3
    assert round(2 * math.log(3), 6) in by_doc[0]
    assert len(by_doc[1]) == 1 and len(by_doc[2]) == 1


def test_top_event_paths_counts_and_cutoff(spark):
    """Sliding trigrams over per-user (ts, id) order; too-short
    entities contribute nothing; counts aggregate across users."""
    from networkframe_spark.functions.temporal import top_event_paths

    rows = []
    eid = 0
    for u in (1, 2):
        for i, t in enumerate(["view", "cart", "buy", "view"]):
            rows.append((u, eid, f"2024-01-01 00:0{i}:00", t))
            eid += 1
    rows.append((3, eid, "2024-01-01 00:00:00", "view"))  # len-1 entity
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, event_type string"
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type")
    got = {r["path"]: r["n_paths"] for r in top_event_paths(ev).collect()}
    assert got == {"view > cart > buy": 2, "cart > buy > view": 2}


def test_bpe_train_classic_corpus(spark):
    """The Sennrich toy corpus: merges follow max-count with
    pair-ascending tie-breaks, and later merges build on earlier
    merged symbols."""
    from networkframe_spark.functions.text import bpe_train

    docs = spark.createDataFrame(
        [(0, "low low low lower lower newest newest newest newest widest")],
        "doc_id long, text string",
    )
    got = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train(docs, n_merges=6).orderBy("merge_rank").collect()
    ]
    assert got == [
        (1, "w", "e", 6),
        (2, "l", "o", 5),   # (l,o) ties (s,t) at 5 -> pair-ascending
        (3, "s", "t", 5),
        (4, "e", "we", 4),  # ties (n,e) and (we,st) -> 'e' sorts first
        (5, "ewe", "st", 4),
        (6, "n", "ewest", 4),
    ]


def test_bpe_train_overlapping_matches_greedy(spark):
    """Runs of a repeated symbol merge leftmost non-overlapping:
    'aaaa' under (a,a) contributes TWO pairs to the next round's
    (aa,aa), and 'aaa' leaves a trailing singleton."""
    from networkframe_spark.functions.text import bpe_train

    docs = spark.createDataFrame(
        [(0, "aaaa aaaa aaa b")], "doc_id long, text string"
    )
    got = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train(docs, n_merges=3).orderBy("merge_rank").collect()
    ]
    # round 1: (a,a) count = 3 (aaaa) x2... per-word pair count is
    # positional: aaaa has 3 adjacent (a,a), aaa has 2 -> 3+3+2 = 8
    assert got[0] == (1, "a", "a", 8)
    # after merge: aaaa -> [aa, aa]; aaa -> [aa, a]
    assert got[1] == (2, "aa", "aa", 2)
    # after round 2: aaaa -> [aaaa]; aaa stays [aa, a]
    assert got[2] == (3, "aa", "a", 1)


def test_bpe_encode_compression(spark):
    """Encoding with an explicit merge list: 'newest' under
    (w,e),(s,t),(e,we) becomes [n, ewe, st] -> 3 tokens / 6 chars;
    wordless docs report zeros with NULL compression."""
    from networkframe_spark.functions.text import bpe_encode

    docs = spark.createDataFrame(
        [(0, "newest newest"), (1, "")], "doc_id long, text string"
    )
    merges = [("w", "e"), ("s", "t"), ("e", "we")]
    got = {
        r["doc_id"]: (r["n_chars_in_words"], r["n_bpe_tokens"], r["compression"])
        for r in bpe_encode(docs, merges).collect()
    }
    assert got[0] == (12, 6, 2.0)
    assert got[1] == (0, 0, None)


def test_bpe_train_then_encode_roundtrip(spark):
    """More merges never worsen compression on the training corpus."""
    from networkframe_spark.functions.text import bpe_encode, bpe_train

    docs = spark.createDataFrame(
        [(0, "low low low lower lower newest newest newest newest widest")],
        "doc_id long, text string",
    )
    m2 = bpe_train(docs, n_merges=2)
    m6 = bpe_train(docs, n_merges=6)
    c2 = bpe_encode(docs, m2).collect()[0]["compression"]
    c6 = bpe_encode(docs, m6).collect()[0]["compression"]
    assert c6 >= c2 > 1.0


def test_robust_outliers_median_mad(spark):
    """A lone extreme value is flagged; the constant-majority group
    (MAD 0) flags any deviation with NULL z."""
    from networkframe_spark.functions.stats import robust_outliers

    ev = spark.createDataFrame(
        [(i, "a", float(v)) for i, v in enumerate([10, 11, 12, 13, 14, 500])]
        + [(10, "b", 5.0), (11, "b", 5.0), (12, "b", 5.0), (13, "b", 9.0)],
        "event_id long, event_type string, value double",
    )
    got = {
        r["event_id"]: r
        for r in robust_outliers(ev, "value", group_col="event_type").collect()
    }
    assert got[5]["is_outlier"] and got[5]["robust_z"] > 100
    assert not got[0]["is_outlier"] and not got[4]["is_outlier"]
    # group b: median 5, deviations (0,0,0,4) -> MAD 0 -> flag any dev
    assert got[13]["mad_v"] == 0.0 and got[13]["robust_z"] is None
    assert got[13]["is_outlier"] and not got[10]["is_outlier"]


def test_similar_strings_typo_pairs(spark):
    """One-substitution and one-insertion neighbors are found through
    shared trigrams; unrelated strings are not paired."""
    from networkframe_spark.functions.dedup import similar_strings

    docs = spark.createDataFrame(
        [
            (1, "spark streaming engine"),
            (2, "spark streamin engine"),   # deletion, dist 1
            (3, "spark streaming enginX"),  # substitution, dist 1
            (4, "completely different"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in similar_strings(docs, max_dist=2).collect()
    }
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1
    assert got[(2, 3)] == 2
    assert all(4 not in pair for pair in got)


def test_similar_strings_repetitive_exact_dup(spark):
    """A highly repetitive string ('ab'*20 has only 2 distinct
    trigrams) still pairs with its exact duplicate: the q-gram count
    threshold is capped at each string's distinct-gram count, so
    low-gram-diversity strings aren't pruned below reachability."""
    from networkframe_spark.functions.dedup import similar_strings

    docs = spark.createDataFrame(
        [(1, "ab" * 20), (2, "ab" * 20), (3, "zq" * 20)],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in similar_strings(docs, max_dist=2).collect()
    }
    assert got[(1, 2)] == 0
    assert all(3 not in pair for pair in got)


def test_pq_search_exact_when_codes_are_identity(spark):
    """With k = n corpus vectors as their own centroids (first_ids
    covers the whole corpus), ADC distance equals the true squared
    L2, so the ranking matches brute force exactly."""
    from networkframe_spark.functions.similarity import (
        pq_codebook,
        pq_encode,
        pq_search,
    )

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 2.0, 0.0, 0.0]),
            (3, [3.0, 3.0, 3.0, 3.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cb = pq_codebook(emb, m=2, k=4, init="first_ids")
    codes = pq_encode(emb, cb)
    queries = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [
        (r["rank"], r["vec_id"], r["approx_d2"])
        for r in pq_search(codes, cb, queries, k=4)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(1, 0, 0.0), (2, 1, 1.0), (3, 2, 4.0), (4, 3, 36.0)]


def test_script_profile_mixed_scripts(spark):
    """Known mixes: pure ASCII letters, half digits, CJK+Cyrillic."""
    from networkframe_spark.functions.text import script_profile

    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "ab12"), (3, "漢字яя"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in script_profile(docs).collect()}
    assert got[1]["latin_ratio"] == 1.0 and got[1]["other_ratio"] == 0.0
    assert got[2]["latin_ratio"] == 0.5 and got[2]["digit_ratio"] == 0.5
    assert got[3]["cjk_ratio"] == 0.5 and got[3]["cyrillic_ratio"] == 0.5
    assert got[4]["n_chars"] == 0 and got[4]["latin_ratio"] is None


def test_column_profile_counts(spark):
    from networkframe_spark.functions.stats import column_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], "id long, s string"
    )
    got = {r["column"]: r for r in column_profile(df).collect()}
    assert got["id"]["n_rows"] == 3 and got["id"]["n_distinct"] == 2
    assert got["s"]["n_null"] == 1 and got["s"]["min_str"] == "a"


def test_category_stats_entropy(spark):
    """Uniform 4 categories -> 2 bits, gini 0.75, top share 0.25;
    a single category -> 0 bits."""
    from networkframe_spark.functions.stats import category_stats

    df = spark.createDataFrame(
        [(i, f"c{i % 4}") for i in range(8)], "id long, cat string"
    )
    r = category_stats(df, "cat").collect()[0]
    assert (r["n_rows"], r["n_distinct"]) == (8, 4)
    assert r["entropy_bits"] == 2.0 and r["gini_impurity"] == 0.75
    assert r["top_share"] == 0.25
    one = spark.createDataFrame([(1, "x"), (2, "x")], "id long, cat string")
    assert category_stats(one, "cat").collect()[0]["entropy_bits"] == -0.0


def test_join_skew_report_fanout(spark):
    """Hot key reports its exact output fan-out; one-sided keys show
    zero output."""
    from networkframe_spark.functions.stats import join_skew_report

    left = spark.createDataFrame(
        [(i, "hot") for i in range(10)] + [(10, "only_left")],
        "id long, k string",
    )
    right = spark.createDataFrame(
        [(i, "hot") for i in range(5)] + [(5, "only_right")],
        "id long, k string",
    )
    got = {r["key"]: r for r in join_skew_report(left, right, "k").collect()}
    assert got["hot"]["n_out"] == 50
    assert got["only_left"]["n_right"] == 0 and got["only_left"]["n_out"] == 0
    assert got["only_right"]["n_left"] == 0


def test_edge_jaccard_triangle_and_bridge(spark):
    """Triangle edges score 1/3 (one common neighbor, union of 3);
    a pendant bridge scores 0; min_jaccard filters it."""
    from networkframe_spark import NetworkFrame

    nodes = spark.range(5).toDF("id")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    got = {
        (r["source"], r["target"]): (r["n_common"], r["jaccard"])
        for r in nf.edge_jaccard().collect()
    }
    assert got[(0, 1)] == (1, round(1 / 3, 6))
    assert got[(2, 3)] == (0, 0.0)
    kept = {
        (r["source"], r["target"])
        for r in nf.edge_jaccard(min_jaccard=0.1).collect()
    }
    assert (2, 3) not in kept and (0, 1) in kept


def test_lexical_diversity_known_values(spark):
    from networkframe_spark.functions.text import lexical_diversity

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_types"], r["ttr"], r["hapax_frac"])
        for r in lexical_diversity(docs).collect()
    }
    assert got[1] == (4, 2, 0.5, 0.5)  # types {a,b}; hapax {b}
    assert got[2] == (3, 3, 1.0, 1.0)
    assert got[3] == (0, 0, None, None)


def test_sentence_stats_segmentation(spark):
    from networkframe_spark.functions.text import sentence_stats

    docs = spark.createDataFrame(
        [
            (1, "One two. Three four five! Six?"),
            (2, "no punctuation at all"),
            (3, "..."),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_sentences"],
            r["mean_sentence_tokens"],
            r["max_sentence_tokens"],
        )
        for r in sentence_stats(docs).collect()
    }
    assert got[1] == (3, 2.0, 3)
    assert got[2] == (1, 4.0, 4)
    assert got[3] == (0, None, None)


def test_time_profile_shares(spark):
    from networkframe_spark.functions.temporal import time_profile

    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 05:10:00", "view"),
            (2, 1, "2024-01-01 05:50:00", "view"),
            (3, 1, "2024-01-02 07:00:00", "view"),
            (4, 1, "2024-01-01 05:00:00", "buy"),
        ],
        "event_id long, user_id long, ts string, event_type string",
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type")
    got = {
        (r["event_type"], r["hour"]): (r["n_events"], r["share"])
        for r in time_profile(ev).collect()
    }
    assert got[("view", 5)] == (2, round(2 / 3, 6))
    assert got[("view", 7)] == (1, round(1 / 3, 6))
    assert got[("buy", 5)] == (1, 1.0)


def test_knn_label_check_flags_mislabel(spark):
    """Two tight clusters; one vector carries the wrong label and is
    flagged, its correctly-labeled neighbors are not."""
    from networkframe_spark.functions.similarity import knn_label_check

    rows = (
        [(i, [1.0, 0.01 * i, 0.0], 0) for i in range(4)]
        + [(10 + i, [0.0, 0.01 * i, 1.0], 1) for i in range(4)]
        + [(20, [1.0, 0.02, 0.001], 1)]  # sits in cluster 0, labeled 1
    )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {r["vec_id"]: r for r in knn_label_check(emb, k=3).collect()}
    assert got[20]["is_suspect"] and got[20]["knn_label"] == 0
    assert got[20]["n_agree"] == 0
    assert not got[0]["is_suspect"] and got[0]["knn_label"] == 0
    assert not got[10]["is_suspect"]


def test_merge_incremental_latest_wins_idempotent(spark):
    from networkframe_spark.functions.pipeline import merge_incremental

    old = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10.0),
            (2, "2024-01-01 00:00:00", 20.0),
        ],
        "k long, ts string, v double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v")
    new = spark.createDataFrame(
        [
            (2, "2024-01-02 00:00:00", 99.0),   # later -> wins
            (3, "2024-01-01 00:00:00", 30.0),   # brand new key
            (1, "2024-01-01 00:00:00", 11.0),   # exact ts tie -> incoming wins
        ],
        "k long, ts string, v double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v")
    merged = merge_incremental(old, new, key_col="k")
    got = {r["k"]: r["v"] for r in merged.collect()}
    assert got == {1: 11.0, 2: 99.0, 3: 30.0}
    # idempotent: replaying the same batch changes nothing
    again = merge_incremental(merged, new, key_col="k")
    assert {r["k"]: r["v"] for r in again.collect()} == got


def test_numeric_histogram_clamps_and_reconciles(spark):
    from networkframe_spark.functions.stats import numeric_histogram

    df = spark.createDataFrame(
        [(float(v),) for v in [-5, 0, 1, 9.9, 10, 55, 99, 200]], "x double"
    )
    got = {r["bin"]: r for r in numeric_histogram(df, "x", bins=10, lo=0.0, hi=100.0).collect()}
    assert got[0]["n"] == 4  # -5 clamps in; 0, 1, 9.9
    assert got[9]["n"] == 2  # 99 and the 200 clamp
    assert got[5]["n"] == 1 and got[5]["lo_edge"] == 50.0
    assert sum(r["n"] for r in got.values()) == 8
    # auto bounds: one extra scan, same reconciliation
    auto = numeric_histogram(df, "x", bins=4)
    assert sum(r["n"] for r in auto.collect()) == 8


def test_pairwise_corr_known_values(spark):
    """y = 2x gives r = 1; z anti-correlates with x exactly; NULLs
    excluded pairwise."""
    from networkframe_spark.functions.stats import pairwise_corr

    rows = [(float(i), float(2 * i), float(-i), None if i == 3 else float(i)) for i in range(6)]
    df = spark.createDataFrame(rows, "x double, y double, z double, w double")
    got = {
        (r["col_a"], r["col_b"]): (r["n"], r["r"])
        for r in pairwise_corr(df, ["x", "y", "z", "w"]).collect()
    }
    assert got[("x", "y")] == (6, 1.0)
    assert got[("x", "z")] == (6, -1.0)
    assert got[("w", "x")][0] == 5  # the NULL row drops pairwise
    assert got[("w", "x")][1] == 1.0


def test_winsorize_clamps_tails(spark):
    """Values beyond the percentile fences clamp to them, the rest
    pass through, NULLs survive unflagged; per-group fences are
    independent."""
    from networkframe_spark.functions.stats import winsorize

    rows = [(i, "a", float(i)) for i in range(1, 100)] + [
        (100, "a", 10_000.0),
        (101, "a", None),
        (102, "b", 5.0),
        (103, "b", 6.0),
        (104, "b", 7.0),
    ]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    got = {
        r["id"]: (r["v_wins"], r["was_clamped"])
        for r in winsorize(df, "v", 0.05, 0.95, group_col="grp").collect()
    }
    assert got[100][1] and got[100][0] < 10_000.0  # spike clamped
    assert got[50] == (50.0, False)  # mid-range untouched
    assert got[101] == (None, False)  # NULL passes, unflagged
    assert got[103] == (6.0, False)  # group b's own fences


def test_embedding_outliers_flags_far_vector(spark):
    """The planted far-from-centroid vector is its label's outlier;
    tight cluster members are not; NULL labels are dropped."""
    from networkframe_spark.functions.similarity import embedding_outliers

    rows = [(i, [1.0, 0.0 + i * 0.001], 1) for i in range(9)]
    rows.append((9, [-1.0, 0.5], 1))  # planted outlier
    rows += [(10 + i, [0.0, 1.0], 2) for i in range(5)]
    rows.append((20, [1.0, 1.0], None))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {r["vec_id"]: r for r in embedding_outliers(emb, pct=0.1).collect()}
    assert 20 not in got  # NULL label dropped
    assert got[9]["is_outlier"]
    assert sum(got[i]["is_outlier"] for i in range(9)) == 0
    assert not any(got[10 + i]["is_outlier"] for i in range(5))


def test_mine_hard_negatives_skips_same_label(spark):
    """The nearest neighbor overall is same-label and must be skipped;
    the top negative is the closest DIFFERENT-label vector; NULL
    labels never pair."""
    from networkframe_spark.functions.similarity import mine_hard_negatives

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1),    # anchor
            (1, [0.99, 0.1], 1),   # nearest, same label -> skipped
            (2, [0.9, 0.3], 2),    # nearest different label
            (3, [0.0, 1.0], 2),    # far negative
            (4, [1.0, 0.01], None),  # NULL label: never a negative
        ],
        "vec_id long, embedding array<double>, label int",
    )
    anchors = emb.filter("vec_id = 0")
    got = [
        (r["neg_id"], r["rank"])
        for r in mine_hard_negatives(emb, k=2, anchors=anchors)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(2, 1), (3, 2)]
    # min_cosine floors out the far negative
    floored = mine_hard_negatives(emb, k=2, anchors=anchors, min_cosine=0.5)
    assert [r["neg_id"] for r in floored.collect()] == [2]


def test_mine_hard_negatives_ivf_matches_brute_when_exhaustive(spark):
    """With exhaustive probing the IVF candidate path re-ranks to the
    same negatives as the exact brute path."""
    from networkframe_spark.functions.similarity import mine_hard_negatives

    rows = [
        (i, [float((i * 7) % 13), float((i * 3) % 11), 1.0], i % 3)
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    anchors = emb.filter("vec_id < 5")
    brute = sorted(
        map(tuple, mine_hard_negatives(emb, k=3, anchors=anchors).collect())
    )
    ivf = sorted(
        map(
            tuple,
            mine_hard_negatives(
                emb, k=3, anchors=anchors, method="ivf",
                oversample=14, n_lists=2, n_probe=2,
            ).collect(),
        )
    )
    assert brute == ivf


def test_pairwise_corr_overflow_raises(spark):
    """Magnitudes whose quantized squares could overflow the
    DECIMAL(38,0) moment sums raise loudly instead of letting
    non-ANSI Spark null the sum silently (epoch-micros-style
    columns)."""
    import pytest as _pytest

    from networkframe_spark.functions.stats import pairwise_corr

    df = spark.createDataFrame(
        [(1.0e13, 1.0), (2.0e13, 2.0), (3.0e13, 3.0)],
        "big double, small double",
    )
    with _pytest.raises(Exception, match="pairwise_corr"):
        pairwise_corr(df, ["big", "small"]).collect()


def test_rfm_segments_scores(spark):
    """Five users with strictly increasing frequency/monetary and
    strictly DECREASING recency land in the five distinct tiles; the
    most recent, most active, highest-spend user scores 5/5/5."""
    from networkframe_spark.functions.temporal import rfm_segments

    rows = []
    eid = 0
    for u in range(1, 6):
        for j in range(u):  # user u has u events
            rows.append((u, eid, f"2024-01-0{u} 00:00:00", float(10 * u)))
            eid += 1
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, value double"
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    got = {r["user_id"]: r for r in rfm_segments(ev).collect()}
    assert got[5]["r_score"] == 5 and got[5]["f_score"] == 5 and got[5]["m_score"] == 5
    assert got[1]["r_score"] == 1 and got[1]["f_score"] == 1 and got[1]["m_score"] == 1
    assert [got[u]["f_score"] for u in range(1, 6)] == [1, 2, 3, 4, 5]
    assert got[3]["recency_s"] == 2 * 86400
    assert got[4]["monetary"] == 160.0


def test_chi2_independence_matches_manual(spark):
    """chi2/dof/Cramér's V agree with a dense NumPy contingency
    computation; NULLs in either column are excluded."""
    import numpy as np

    from networkframe_spark.functions.stats import chi2_independence

    rows = (
        [("x", "p")] * 30
        + [("x", "q")] * 10
        + [("y", "p")] * 10
        + [("y", "q")] * 30
        + [(None, "p"), ("x", None)]
    )
    df = spark.createDataFrame(rows, "a string, b string")
    got = chi2_independence(df, "a", "b").collect()[0]
    o = np.array([[30.0, 10.0], [10.0, 30.0]])
    n = o.sum()
    e = np.outer(o.sum(1), o.sum(0)) / n
    chi2 = ((o - e) ** 2 / e).sum()
    assert got["n"] == 80
    assert got["dof"] == 1
    assert abs(got["chi2"] - chi2) < 2e-6
    assert abs(got["cramers_v"] - (chi2 / (n * 1)) ** 0.5) < 2e-6


def test_chi2_independence_independent_cols_near_zero(spark):
    """A perfectly proportional table gives chi2 == 0 exactly."""
    from networkframe_spark.functions.stats import chi2_independence

    rows = [("x", "p")] * 20 + [("x", "q")] * 10 + [("y", "p")] * 40 + [
        ("y", "q")
    ] * 20
    df = spark.createDataFrame(rows, "a string, b string")
    got = chi2_independence(df, "a", "b").collect()[0]
    assert abs(got["chi2"]) < 2e-6
    assert abs(got["cramers_v"]) < 2e-3


def test_ks_test_2samp_matches_manual_ecdf(spark):
    """D equals the hand-computed max ECDF gap; identical samples
    give D == 0 and p == 1."""
    import math

    from networkframe_spark.functions.stats import ks_test_2samp

    a = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    b = [4.0, 5.0, 6.0, 7.0, 8.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = ks_test_2samp(df, "v", "g", "a", "b").collect()[0]
    vals = sorted(set(a + b))
    d_manual = max(
        abs(
            sum(1 for x in a if x <= t) / len(a)
            - sum(1 for x in b if x <= t) / len(b)
        )
        for t in vals
    )
    assert got["d_stat"] == round(d_manual, 6)
    assert (got["n_a"], got["n_b"]) == (6, 5)
    lam = d_manual * math.sqrt(6 * 5 / 11)
    if lam < 1.18:  # theta-transform branch (same crossover as impl)
        p = 1.0 - (math.sqrt(2 * math.pi) / lam) * sum(
            math.exp(-((2 * k - 1) ** 2) * math.pi**2 / (8 * lam * lam))
            for k in range(1, 101)
        )
    else:
        p = 2 * sum(
            (-1) ** (k - 1) * math.exp(-2 * k * k * lam * lam)
            for k in range(1, 101)
        )
    assert abs(got["p_value"] - min(max(p, 0.0), 1.0)) < 2e-6

    same = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in a], "g string, v double"
    )
    got2 = ks_test_2samp(same, "v", "g", "a", "b").collect()[0]
    assert got2["d_stat"] == 0.0 and got2["p_value"] == 1.0


def test_ks_test_2samp_empty_group_raises(spark):
    from networkframe_spark.functions.stats import ks_test_2samp

    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    try:
        ks_test_2samp(df, "v", "g", "a", "zz")
        assert False, "expected ValueError"
    except ValueError as e:
        assert "empty sample" in str(e)


def test_psi_drift_shifted_sample_scores_high(spark):
    """An identical sample scores ~0; a shifted one scores high; bin
    counts cover every row; psi equals the sum of rounded
    contributions."""
    from networkframe_spark.functions.stats import psi_drift

    base = spark.createDataFrame(
        [(float(i),) for i in range(100)], "v double"
    )
    same = psi_drift(base, base, "v", bins=4).collect()
    assert all(abs(r["psi"]) < 1e-9 for r in same)
    assert sum(r["cur_count"] for r in same) == 100

    shifted = spark.createDataFrame(
        [(float(i) + 80.0,) for i in range(100)], "v double"
    )
    moved = psi_drift(base, shifted, "v", bins=4).collect()
    assert moved[0]["psi"] > 0.25  # fixture-scale "action" drift
    assert round(sum(r["contribution"] for r in moved), 6) == moved[0]["psi"]
    assert len(moved) == 4


def test_rrf_fuse_per_query_matches_hand_computation(spark):
    """query_col mode: fused scores equal the 12-dp decimal reciprocal
    sums per (query, doc); fused_rank is score-desc with doc
    tie-break; top_k truncates; queries fuse independently."""
    from decimal import Decimal

    from networkframe_spark.functions.search import rrf_fuse

    r1 = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3), ("q2", "z", 1)],
        "query_id string, doc_id string, rank int",
    )
    r2 = spark.createDataFrame(
        [("q1", "b", 1), ("q1", "a", 2), ("q1", "d", 3)],
        "query_id string, doc_id string, rank int",
    )
    got = {
        (r["query_id"], r["doc_id"]): r
        for r in rrf_fuse(
            [r1, r2], id_col="doc_id", k=60, query_col="query_id"
        ).collect()
    }

    def rr(*ranks):
        return float(
            sum(round(Decimal(1) / (60 + r), 12) for r in ranks)
        )

    assert got[("q1", "a")]["rrf_score"] == round(rr(1, 2), 6)
    assert got[("q1", "b")]["rrf_score"] == round(rr(2, 1), 6)
    assert got[("q1", "c")]["rrf_score"] == round(rr(3), 6)
    assert got[("q1", "a")]["n_lists"] == 2
    assert got[("q1", "c")]["n_lists"] == 1
    # a and b tie exactly (same reciprocal multiset): doc tie-break
    assert got[("q1", "a")]["fused_rank"] == 1
    assert got[("q1", "b")]["fused_rank"] == 2
    assert got[("q2", "z")]["fused_rank"] == 1
    top2 = rrf_fuse(
        [r1, r2], id_col="doc_id", k=60, query_col="query_id", top_k=2
    ).collect()
    assert {(r["query_id"], r["doc_id"]) for r in top2} == {
        ("q1", "a"),
        ("q1", "b"),
        ("q2", "z"),
    }


def test_retrieval_metrics_hand_computed(spark):
    """Binary-gain metrics against a worked example: hits, recall,
    MRR from the first relevant rank, nDCG from closed-form DCG/IDCG;
    a query with no relevant docs gets NULL recall/ndcg and mrr 0."""
    import math

    from networkframe_spark.functions.retrieval import retrieval_metrics

    pred = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
         ("q2", "x", 1), ("q2", "y", 2)],
        "query_id string, doc_id string, rank int",
    )
    truth = spark.createDataFrame(
        [("q1", "b"), ("q1", "c"), ("q1", "zz")],
        "query_id string, doc_id string",
    )
    got = {
        r["query_id"]: r
        for r in retrieval_metrics(pred, truth, k=3).collect()
    }
    g1 = got["q1"]
    assert (g1["n_rel"], g1["hits"]) == (3, 2)
    assert g1["precision_at_k"] == round(2 / 3, 6)
    assert g1["recall_at_k"] == round(2 / 3, 6)
    assert g1["mrr"] == 0.5  # first hit at rank 2
    dcg = 1 / math.log2(3) + 1 / math.log2(4)
    idcg = 1 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert abs(g1["dcg"] - dcg) < 2e-6
    assert abs(g1["ndcg"] - dcg / idcg) < 2e-6
    g2 = got["q2"]
    assert (g2["n_rel"], g2["hits"], g2["mrr"]) == (0, 0, 0.0)
    assert g2["recall_at_k"] is None and g2["ndcg"] is None


def test_retrieval_metrics_graded_gains(spark):
    """Graded gains change DCG/IDCG: the ideal ordering is by gain
    desc, so a high-gain doc retrieved late still caps nDCG < 1."""
    import math

    from networkframe_spark.functions.retrieval import retrieval_metrics

    pred = spark.createDataFrame(
        [("q", "lo", 1), ("q", "hi", 2)],
        "query_id string, doc_id string, rank int",
    )
    truth = spark.createDataFrame(
        [("q", "hi", 3.0), ("q", "lo", 1.0)],
        "query_id string, doc_id string, gain double",
    )
    r = retrieval_metrics(pred, truth, k=2, gain_col="gain").collect()[0]
    dcg = 1.0 / math.log2(2) + 3.0 / math.log2(3)
    idcg = 3.0 / math.log2(2) + 1.0 / math.log2(3)
    assert abs(r["dcg"] - dcg) < 2e-6
    assert abs(r["idcg"] - idcg) < 2e-6
    assert abs(r["ndcg"] - dcg / idcg) < 2e-6


def test_mmr_rerank_prefers_diverse_over_redundant(spark):
    """A near-duplicate of the top pick is deferred behind a less
    relevant but orthogonal candidate; scores match the hand-run
    greedy; rank order is the pick order."""
    from networkframe_spark.functions.similarity import mmr_rerank

    cand = spark.createDataFrame(
        [
            ("q", "a", 0.95, [1.0, 0.0]),
            ("q", "b", 0.94, [1.0, 0.001]),
            ("q", "c", 0.50, [0.0, 1.0]),
        ],
        "query_id string, vec_id string, cosine double,"
        " embedding array<double>",
    )
    got = {
        r["vec_id"]: r
        for r in mmr_rerank(cand, k=3, lam=0.5).collect()
    }
    assert [got[v]["mmr_rank"] for v in ("a", "c", "b")] == [1, 2, 3]
    # scores are exact integers in 1e-8 units: (num*rel6 - (100-num)*sim6)/1e8
    assert got["a"]["mmr_score"] == 50 * 950000 / 1e8  # 0.475
    # c picked over b: 0.25 - 0.5*0 beats 0.47 - 0.5*sim(a,b)~=1
    import math

    sim6_ab = round(
        round(
            (1.0 * 1.0 + 0.0 * 0.001)
            / (1.0 * math.sqrt(1.0 + 0.001**2)),
            6,
        )
        * 1e6
    )
    assert got["c"]["mmr_score"] == 50 * 500000 / 1e8  # 0.25
    assert got["b"]["mmr_score"] == (50 * 940000 - 50 * sim6_ab) / 1e8


def test_mmr_rerank_k1_is_pure_relevance(spark):
    from networkframe_spark.functions.similarity import mmr_rerank

    cand = spark.createDataFrame(
        [("q", "a", 0.9, [1.0, 0.0]), ("q", "b", 0.8, [0.0, 1.0]),
         ("q2", "z", 0.1, [1.0, 1.0])],
        "query_id string, vec_id string, cosine double,"
        " embedding array<double>",
    )
    got = mmr_rerank(cand, k=1, lam=0.7).collect()
    assert {(r["query_id"], r["vec_id"]) for r in got} == {
        ("q", "a"), ("q2", "z")
    }


def test_mann_whitney_u_no_ties_hand_computed(spark):
    """U, z (continuity-corrected), and the A&S-polynomial p match a
    hand computation on a tie-free example."""
    import math

    from networkframe_spark.functions.stats import mann_whitney_u

    a, b = [1.0, 2.0, 3.0, 10.0], [4.0, 5.0, 6.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    # U_a = #{(i,j): a_i > b_j} = 3 (only 10 beats each of 4,5,6)
    assert got["u_stat"] == 3.0
    assert (got["n_a"], got["n_b"]) == (4, 3)
    mu, var = 4 * 3 / 2, 4 * 3 * (7 + 1) / 12
    z = (3 - mu + 0.5) / math.sqrt(var)  # cc toward the mean
    assert abs(got["z"] - z) < 2e-6
    t = 1 / (1 + 0.2316419 * abs(z))
    poly = (
        0.319381530 * t - 0.356563782 * t**2 + 1.781477937 * t**3
        - 1.821255978 * t**4 + 1.330274429 * t**5
    )
    p = min(1.0, 2 * math.exp(-0.5 * z * z) / math.sqrt(2 * math.pi) * poly)
    assert abs(got["p_value"] - p) < 2e-6


def test_mann_whitney_u_ties_use_midranks(spark):
    """Tied values share midranks and shrink the null variance via
    the tie-correction term."""
    from networkframe_spark.functions.stats import mann_whitney_u

    # a = [1, 2, 2], b = [2, 3]: sorted 1,(2,2,2),3 — the three 2s
    # share midrank 3; R_a = 1 + 3 + 3 = 7, U_a = 7 - 3*4/2 = 1
    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    assert got["u_stat"] == 1.0
    assert (got["n_a"], got["n_b"]) == (3, 2)


def test_bootstrap_ci_mean_brackets_mean_and_is_deterministic(spark):
    from networkframe_spark.functions.stats import bootstrap_ci_mean

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    r1 = bootstrap_ci_mean(df, "v", "id", n_boot=50).collect()[0]
    r2 = bootstrap_ci_mean(df, "v", "id", n_boot=50).collect()[0]
    assert r1 == r2  # RNG-free: identical on re-run
    assert r1["mean"] == 49.5
    assert r1["ci_lo"] < 49.5 < r1["ci_hi"]
    assert 40.0 < r1["ci_lo"] and r1["ci_hi"] < 60.0  # sane width
    assert (r1["n"], r1["n_boot"]) == (100, 50)


def test_bootstrap_ci_constant_data_degenerate_interval(spark):
    from networkframe_spark.functions.stats import bootstrap_ci_mean

    df = spark.createDataFrame(
        [(i, 7.25) for i in range(40)], "id long, v double"
    )
    r = bootstrap_ci_mean(df, "v", "id", n_boot=20).collect()[0]
    assert r["mean"] == r["ci_lo"] == r["ci_hi"] == 7.25


def test_winsorize_null_group_forms_its_own_group(spark):
    """Regression (round-8 advice): rows whose group key IS NULL were
    silently dropped by the inner fence join.  With the null-safe
    join they winsorize within their own NULL group."""
    from networkframe_spark.functions.stats import winsorize

    rows = [(i, None, float(i)) for i in range(1, 50)] + [
        (50, None, 10_000.0),
        (51, "a", 1.0),
        (52, "a", 2.0),
        (53, "a", 3.0),
    ]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = winsorize(df, "v", 0.05, 0.95, group_col="grp")
    got = {r["id"]: (r["v_wins"], r["was_clamped"]) for r in out.collect()}
    assert len(got) == len(rows)  # nothing dropped
    assert got[50][1] and got[50][0] < 10_000.0  # NULL-group spike clamped
    assert got[25] == (25.0, False)  # NULL-group mid-range untouched
    assert got[52] == (2.0, False)  # named group unaffected


def test_lsh_top_k_multiprobe_monotone_and_degenerate(spark):
    """Multi-probe LSH: widening the Hamming ball only adds candidate
    pairs (recall is monotone in n_probe_bits), and probing the full
    ball (n_probe_bits = n_planes) is bit-identical to brute force."""
    from pyspark.sql import functions as F

    from networkframe_spark.functions.similarity import (
        ann_recall_report,
        brute_force_top_k,
        lsh_top_k,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id < 5")

    def hits(npb):
        approx = lsh_top_k(
            emb, qs, k=5, n_planes=4, n_tables=2, n_probe_bits=npb
        )
        r = (
            ann_recall_report(emb, qs, approx, k=5)
            .agg(F.sum("n_hit").alias("h"))
            .first()
        )
        return int(r["h"])

    h0, h1, h4 = hits(0), hits(1), hits(4)
    assert h0 <= h1 <= h4
    full = lsh_top_k(
        emb, qs, k=5, n_planes=4, n_tables=2, n_probe_bits=4
    ).select("query_id", "vec_id", "cosine", "rank")
    brute = brute_force_top_k(emb, qs, k=5).select(
        "query_id", "vec_id", "cosine", "rank"
    )
    assert full.exceptAll(brute).count() == 0
    assert brute.exceptAll(full).count() == 0
    import pytest

    with pytest.raises(ValueError):
        lsh_top_k(emb, qs, n_planes=4, n_probe_bits=5)


def test_ann_rerank_exhaustive_equals_brute(spark):
    """Contract: exact re-ranking of an EXHAUSTIVE candidate set is
    bit-identical to brute_force_top_k under both metrics — the
    rerank stage shares brute's 6-dp expression tree, so restoring
    full candidates restores brute force exactly."""
    from networkframe_spark.functions.similarity import (
        ann_rerank,
        brute_force_top_k,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(120)
    qs = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    allpairs = qs.select("query_id").crossJoin(emb.select("vec_id"))
    for metric, score_col in (("l2", "d2"), ("cosine", "cosine")):
        got = sorted(
            (r["query_id"], r["rank"], r["vec_id"], r[score_col])
            for r in ann_rerank(
                allpairs, emb, qs, k=5, metric=metric
            ).collect()
        )
        want = sorted(
            (r["query_id"], r["rank"], r["vec_id"], r[score_col])
            for r in brute_force_top_k(
                emb, qs, k=5, query_id_col="query_id",
                exclude_self=False, metric=metric,
            ).collect()
        )
        assert got == want, metric


def test_ann_rerank_restores_ivfpq_recall(spark, tmp_path):
    """Oversampled IVF-PQ candidates + exact rerank: every rerank
    score equals brute's exact d2 for that pair, and recall@k of
    the reranked top-k is >= recall of the raw ADC top-k (any true
    neighbor the candidate set retains MUST survive an exact
    rerank, while ADC ranking can drop it)."""
    from networkframe_spark.functions.similarity import (
        ann_recall_report,
        ann_rerank,
        brute_force_top_k,
        build_ivfpq_index,
        ivfpq_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    path = str(tmp_path / "ivfpq_rr")
    build_ivfpq_index(
        emb, path, n_lists=8, m=4, k_codes=16, n_iter=2,
        codebook_init="first_ids", coarse_init="first_ids",
        residual=False,
    )
    qs = emb.filter("vec_id < 6").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = ivfpq_search(spark, path, qs, k=25, n_probe=2)
    rer = ann_rerank(cand, emb, qs, k=5, metric="l2")
    # exactness: rerank scores are brute's 6-dp d2 for those pairs
    exact = {
        (r["query_id"], r["vec_id"]): r["d2"]
        for r in brute_force_top_k(
            emb, qs, k=200, query_id_col="query_id",
            exclude_self=False, metric="l2",
        ).collect()
    }
    rows = rer.collect()
    assert rows and all(
        exact[(r["query_id"], r["vec_id"])] == r["d2"] for r in rows
    )
    # quality: rerank recall >= raw ADC-rank recall at the same k
    def total_recall(pred):
        rep = ann_recall_report(
            emb, qs, pred, k=5, query_id_col="query_id",
            exclude_self=False, metric="l2",
        )
        agg = rep.agg(
            F.sum("n_hit").alias("h"), F.sum("n_truth").alias("t")
        ).first()
        return int(agg["h"]), int(agg["t"])

    h_rerank, t1 = total_recall(rer)
    h_raw, t2 = total_recall(cand.filter(F.col("rank") <= 5))
    assert t1 == t2 and h_rerank >= h_raw


def test_ann_rerank_plan_corpus_never_shuffles(spark):
    """The rerank's corpus probe is a broadcast hash join on the id —
    the full-precision scan must reach the join with NO Exchange on
    the corpus side (the whole point at 100 TB: read candidate
    vectors in place).  The only hash exchange in the plan is the
    per-query top-k window."""
    from networkframe_spark.functions.similarity import ann_rerank
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001")
    qs = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = qs.select("query_id").crossJoin(
        emb.filter("vec_id < 40").select("vec_id")
    )
    out = ann_rerank(cand, emb, qs, k=5, metric="l2")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    # two hash exchanges only: the candidate-pair dedup (inside the
    # broadcast subtree, candidate-sized) and the top-k window — the
    # corpus FileScan feeds its BroadcastHashJoin directly
    assert plan.count("Exchange hashpartitioning") == 2


def test_sorted_neighborhood_pairs_exact_semantics(spark):
    """SNM candidates == every pair within `window` positions of the
    global (key, id) sort order, each exactly once — verified against
    an enumerated truth with duplicate keys (ties break by id)."""
    from networkframe_spark.functions.dedup import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"k{i % 3}") for i in range(1, 21)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    w = 4
    got = sorted(
        (r["id_a"], r["id_b"], r["gap"])
        for r in sorted_neighborhood_pairs(df, "k", window=w).collect()
    )
    order = [i for i, _ in sorted(rows, key=lambda t: (t[1], t[0]))]
    want = sorted(
        (order[i], order[j], j - i)
        for i in range(len(order))
        for j in range(i + 1, min(i + w, len(order)))
    )
    assert got == want
    n = len(rows)
    assert len(got) == sum(n - g for g in range(1, w))


def test_sorted_neighborhood_plan_no_cartesian(spark):
    """The block-key trick keeps pairing an equi-join: O(n x window)
    output, no CartesianProduct / NestedLoop anywhere in the plan."""
    from networkframe_spark.functions.dedup import (
        sorted_neighborhood_pairs,
    )
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    out = sorted_neighborhood_pairs(
        docs, F.lower(F.substring("text", 1, 12)), window=4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert out.count() > 0


def test_ann_rerank_shuffle_fallback_identical(spark):
    """broadcast_candidates=False (the corpus x corpus escape hatch
    for beyond-driver-size candidate sets) is result-identical to
    the broadcast path — the join strategy is a physical choice,
    never a semantic one."""
    from networkframe_spark.functions.similarity import ann_rerank
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(100)
    qs = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = qs.select("query_id").crossJoin(
        emb.filter("vec_id % 3 = 0").select("vec_id")
    )
    rows = lambda df: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["d2"]) for r in df.collect()
    )
    a = rows(ann_rerank(cand, emb, qs, k=4, metric="l2"))
    b = rows(
        ann_rerank(
            cand, emb, qs, k=4, metric="l2", broadcast_candidates=False
        )
    )
    assert a == b and len(a) > 0


def test_ann_search_batched_identical_and_guard_bypass(spark, tmp_path, monkeypatch):
    """Chunked search == one-shot search bit-for-bit (per-query
    independence), and a query set the residual ADC guard REJECTS
    one-shot succeeds when batched — the guard's 'chunk the query
    batch' remedy as an operator."""
    from networkframe_spark.functions import similarity as sim
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    path = str(tmp_path / "ivfpq_b")
    sim.build_ivfpq_index(
        emb, path, n_lists=8, m=4, k_codes=16,
        codebook_init="first_ids", coarse_init="first_ids",
        residual=True,
    )
    qs = emb.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = lambda df: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["approx_d2"])
        for r in df.collect()
    )
    want = rows(sim.ivfpq_search(spark, path, qs, k=3, n_probe=2))
    got = rows(
        sim.ann_search_batched(
            spark, path, qs, batch_size=3, k=3, n_probe=2
        )
    )
    assert got == want and len(got) > 0
    # shrink the guard so 10 queries fail one-shot (10*2*4*16 = 1280)
    # but 3-query chunks pass (3*2*4*16 = 384)
    monkeypatch.setattr(sim, "_MAX_RESIDUAL_LUT_ROWS", 1000)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="chunk the query batch"):
        sim.ivfpq_search(spark, path, qs, k=3, n_probe=2).collect()
    got2 = rows(
        sim.ann_search_batched(
            spark, path, qs, batch_size=3, k=3, n_probe=2
        )
    )
    assert got2 == want
    # durable spill mode: chunks land as parquet, result is one scan
    # over the spill dir — same rows, and the chunk files exist
    import os as _os

    spill = str(tmp_path / "spill")
    got3 = rows(
        sim.ann_search_batched(
            spark, path, qs, batch_size=3, k=3, n_probe=2,
            spill_dir=spill,
        )
    )
    assert got3 == want
    assert len([d for d in _os.listdir(spill) if d.startswith("chunk=")]) == 4


def test_ann_rerank_custom_candidate_columns(spark):
    """cand_query_col / cand_id_col resolve a hand-built candidate
    frame whose pair columns aren't the searcher-output names —
    same result as the canonical names (ADVICE r12: the params for
    queries/corpus silently did NOT apply to candidates)."""
    from networkframe_spark.functions.similarity import ann_rerank
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(60)
    qs = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pairs = qs.select("query_id").crossJoin(emb.select("vec_id"))
    renamed = pairs.select(
        F.col("query_id").alias("qid"), F.col("vec_id").alias("cid")
    )
    rows = lambda df: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["d2"])
        for r in df.collect()
    )
    want = rows(ann_rerank(pairs, emb, qs, k=4))
    got = rows(
        ann_rerank(
            renamed, emb, qs, k=4, cand_query_col="qid", cand_id_col="cid"
        )
    )
    assert got == want and len(got) > 0


def test_snm_duplicates_exhaustive_window_equals_jaccard(spark):
    """Contract: with window >= n_rows every pair is a candidate, so
    snm_duplicates degenerates to ngram_jaccard_duplicates exactly
    (same shingles, same 6-dp arithmetic, same orientation) — the
    blocking pass only ever REMOVES candidates, never rescores."""
    from networkframe_spark.functions.dedup import (
        ngram_jaccard_duplicates,
        snm_duplicates,
    )
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(
        100
    )
    rows = lambda df: sorted(
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    )
    got = rows(snm_duplicates(docs, window=101, threshold=0.5))
    want = rows(ngram_jaccard_duplicates(docs, threshold=0.5))
    assert got == want and len(got) > 0


def test_dedup_corpus_snm_method(spark):
    """dedup_corpus(method='snm') folds SNM-verified pairs into
    clusters and keeps min-id representatives — identical cluster
    fold as the other generators, order-based candidates."""
    from networkframe_spark.functions.dedup import dedup_corpus
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    kept = dedup_corpus(docs, method="snm", threshold=0.5)
    n_in, n_out = docs.count(), kept.count()
    assert 0 < n_out < n_in  # the fixture's seeded near-dups collapse
    # every survivor is its own cluster representative
    assert kept.filter("doc_id != cluster_id").count() == 0


def test_snm_duplicates_multipass_keys(spark):
    """Multi-pass SNM: a near-dup pair whose PREFIX keys sort far
    apart (first word differs) is missed by the single prefix pass
    but found when a second sort key (text suffix) is added — and
    multi-pass never loses a single-pass pair."""
    from networkframe_spark.functions.dedup import snm_duplicates

    body = " ".join(f"w{i}" for i in range(19))
    rows = [(1, "aaa " + body), (2, "zzz " + body)]
    rows += [(10 + i, f"m{i} " + " ".join(f"x{i}{j}" for j in range(19)))
             for i in range(28)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    prefix = F.lower(F.substring("text", 1, 16))
    suffix = F.substring("text", -16, 16)
    single = {
        (r["id_a"], r["id_b"])
        for r in snm_duplicates(
            docs, key=prefix, window=3, threshold=0.7
        ).collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in snm_duplicates(
            docs, key=[prefix, suffix], window=3, threshold=0.7
        ).collect()
    }
    assert (1, 2) not in single
    assert (1, 2) in multi
    assert single <= multi


def test_lsh_index_search_matches_lsh_top_k(spark, tmp_path):
    """Persisted-LSH contract: searching the stored banding is
    bit-identical to the in-memory lsh_top_k at the same (n_planes,
    n_tables, n_probe_bits) — home buckets and the Hamming-1 probe
    ball both."""
    from networkframe_spark.functions.similarity import (
        build_lsh_index,
        lsh_index_search,
        lsh_top_k,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    path = str(tmp_path / "lsh")
    meta = build_lsh_index(emb, path, n_planes=4, n_tables=2)
    assert meta["n_planes"] == 4 and meta["dim"] > 0
    qs = emb.filter("vec_id < 8")
    rows = lambda df: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in df.collect()
    )
    for pb in (0, 1):
        got = rows(
            lsh_index_search(spark, path, qs, k=5, n_probe_bits=pb)
        )
        want = rows(
            lsh_top_k(
                emb, qs, k=5, n_planes=4, n_tables=2, n_probe_bits=pb
            )
        )
        assert got == want, pb
    # exhaustive probing == brute force (the oracle contract)
    from networkframe_spark.functions.similarity import brute_force_top_k

    got = rows(lsh_index_search(spark, path, qs, k=5, n_probe_bits=4))
    want = rows(brute_force_top_k(emb, qs, k=5))
    assert got == want


def test_lsh_index_search_plan_prunes_partitions(spark, tmp_path):
    """A home-bucket probe reads only the touched (table, bucket)
    partition directories: PartitionFilters present, and fewer
    bucket directories scanned than exist."""
    from networkframe_spark.functions.similarity import (
        build_lsh_index,
        lsh_index_search,
    )
    from networkframe_spark.sources import read_embeddings

    import os

    from tests.conftest import scan_partition_counts

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    path = str(tmp_path / "lshp")
    build_lsh_index(emb, path, n_planes=4, n_tables=2)
    qs = emb.filter("vec_id < 2")
    out = lsh_index_search(spark, path, qs, k=3, n_probe_bits=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # the REAL pruning assertion: partitions actually read (scan
    # metric) < (table, bucket) directories that exist on disk —
    # 2 queries x 2 tables at ball-0 probe at most 4 of them
    total = sum(
        1
        for tdir in os.listdir(os.path.join(path, "bands"))
        if tdir.startswith("table=")
        for bdir in os.listdir(os.path.join(path, "bands", tdir))
        if bdir.startswith("bucket=")
    )
    scans = scan_partition_counts(out)
    assert scans, "no FileSourceScan found in the executed plan"
    scanned = max(s.get("numPartitions", 0) for s in scans)
    assert 0 < scanned <= 4 < total, (scanned, total)


def test_lsh_index_add_equals_rebuild(spark, tmp_path):
    """Incremental add against the stored planes == full rebuild over
    the union (bucket membership depends only on the deterministic
    manifest), and a replayed add appends zero rows (retry guard)."""
    from networkframe_spark.functions.similarity import (
        build_lsh_index,
        lsh_index_add,
        lsh_index_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_lsh_index(emb.filter("vec_id % 2 = 0"), inc, n_planes=4, n_tables=2)
    lsh_index_add(spark, inc, emb.filter("vec_id % 2 = 1"))
    build_lsh_index(emb, full, n_planes=4, n_tables=2)
    qs = emb.filter("vec_id < 6")
    rows = lambda p: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in lsh_index_search(
            spark, p, qs, k=4, n_probe_bits=1
        ).collect()
    )
    assert rows(inc) == rows(full)
    n_before = spark.read.parquet(inc + "/bands").count()
    lsh_index_add(spark, inc, emb.filter("vec_id % 2 = 1"))  # replay
    assert spark.read.parquet(inc + "/bands").count() == n_before


def test_ann_search_batched_composes_with_lsh_index(spark, tmp_path):
    """The chunked driver is searcher-generic: batched probing of the
    persisted LSH index equals the one-shot call (per-query
    independence holds across the whole index family)."""
    from networkframe_spark.functions.similarity import (
        ann_search_batched,
        build_lsh_index,
        lsh_index_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(150)
    path = str(tmp_path / "lshb")
    build_lsh_index(emb, path, n_planes=4, n_tables=2)
    qs = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = lambda df: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in df.collect()
    )
    want = rows(
        lsh_index_search(
            spark, path, qs, k=4, n_probe_bits=1,
            query_id_col="query_id", exclude_self=False,
        )
    )
    got = rows(
        ann_search_batched(
            spark, path, qs, batch_size=3, searcher=lsh_index_search,
            k=4, n_probe_bits=1, exclude_self=False,
        )
    )
    assert got == want and len(got) > 0


def test_dedup_corpus_containment_method(spark):
    """dedup_corpus(method='containment') folds near-subset pairs —
    the generator symmetric Jaccard structurally misses — through
    the same cluster fold."""
    from networkframe_spark.functions.dedup import dedup_corpus
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    kept = dedup_corpus(docs, method="containment", threshold=0.8)
    n_in, n_out = docs.count(), kept.count()
    assert 0 < n_out < n_in
    assert kept.filter("doc_id != cluster_id").count() == 0


def test_lsh_index_search_empty_query_batch(spark, tmp_path):
    """An empty query batch returns an empty result with the search
    schema (probing nothing), matching the ivf/ivfpq probe paths —
    not a numpy shape crash."""
    from networkframe_spark.functions.similarity import (
        build_lsh_index,
        lsh_index_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(50)
    path = str(tmp_path / "lshe")
    build_lsh_index(emb, path, n_planes=4, n_tables=2)
    out = lsh_index_search(
        spark, path, emb.filter("vec_id < 0"), k=3, n_probe_bits=1
    )
    assert out.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert out.count() == 0


def test_ivf_sq_search_exhaustive_matches_sq_brute(spark, tmp_path):
    """build_ivf_sq_index + ivf_sq_search: the exhaustive probe is
    bit-identical to brute-force L2 over the DEQUANTIZED corpus (the
    sq_topk oracle arithmetic) — int8 cells lose only what the
    quantizer rounds, never what the index routes."""
    from networkframe_spark.functions.similarity import (
        brute_force_top_k,
        build_ivf_sq_index,
        dequantize_expr,
        ivf_sq_search,
        quantize_embeddings,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    path = str(tmp_path / "ivfsq")
    cents = build_ivf_sq_index(emb, path, n_lists=8, n_iter=2)
    assert len(cents) == 8
    qs = emb.filter("vec_id < 5")
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["d2"])
        for r in ivf_sq_search(
            spark, path, qs, k=3, n_probe=8, exclude_self=False
        ).collect()
    )
    deq = quantize_embeddings(emb).select(
        "vec_id",
        dequantize_expr(F.col("qembedding"), F.col("scale")).alias(
            "embedding"
        ),
    )
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["d2"])
        for r in brute_force_top_k(
            deq, qs, k=3, exclude_self=False, metric="l2"
        ).collect()
    )
    assert got == want and len(got) == 15
    # cosine metric path: bounded scores, same row shape
    cos = ivf_sq_search(
        spark, path, qs, k=3, n_probe=8, metric="cosine", exclude_self=False
    ).collect()
    assert len(cos) == 15 and all(-1.0 <= r["cosine"] <= 1.0 for r in cos)


def test_ivf_sq_search_plan_prunes_partitions(spark, tmp_path):
    """A partial probe reads only the probed list_id directories:
    PartitionFilters present AND partitions actually read (scan
    metric) < cell directories on disk."""
    import os

    from networkframe_spark.functions.similarity import (
        build_ivf_sq_index,
        ivf_sq_search,
    )
    from networkframe_spark.sources import read_embeddings
    from tests.conftest import scan_partition_counts

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    path = str(tmp_path / "ivfsqp")
    build_ivf_sq_index(emb, path, n_lists=8, n_iter=2)
    qs = emb.filter("vec_id < 2")
    out = ivf_sq_search(spark, path, qs, k=3, n_probe=2, exclude_self=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    total = sum(
        1
        for d in os.listdir(os.path.join(path, "cells"))
        if d.startswith("list_id=")
    )
    scans = scan_partition_counts(out)
    assert scans, "no FileSourceScan found in the executed plan"
    scanned = max(s.get("numPartitions", 0) for s in scans)
    # 2 queries x 2 probes touch at most 4 distinct cells
    assert 0 < scanned <= 4 < total, (scanned, total)


def test_ivf_sq_index_add_equals_rebuild(spark, tmp_path):
    """Incremental SQ add against the stored centroids == full
    rebuild over the union (assignment depends only on the manifest;
    quantization is per-vector), and a replayed add appends zero
    rows."""
    from networkframe_spark.functions.similarity import (
        build_ivf_sq_index,
        ivf_sq_index_add,
        ivf_sq_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    even, odd = emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")
    inc = str(tmp_path / "inc")
    build_ivf_sq_index(even, inc, n_lists=4, n_iter=1)
    ivf_sq_index_add(spark, inc, odd)
    # rebuild-over-union twin: same centroids requires same seed set,
    # so compare SEARCH results against brute over the dequantized
    # union instead of a second index (centroid seeds would differ)
    qs = emb.filter("vec_id < 6")
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["d2"])
        for r in ivf_sq_search(
            spark, inc, qs, k=4, n_probe=4, exclude_self=False
        ).collect()
    )
    from networkframe_spark.functions.similarity import (
        brute_force_top_k,
        dequantize_expr,
        quantize_embeddings,
    )

    deq = quantize_embeddings(emb).select(
        "vec_id",
        dequantize_expr(F.col("qembedding"), F.col("scale")).alias(
            "embedding"
        ),
    )
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["d2"])
        for r in brute_force_top_k(
            deq, qs, k=4, exclude_self=False, metric="l2"
        ).collect()
    )
    assert got == want
    n_before = spark.read.parquet(inc + "/cells").count()
    ivf_sq_index_add(spark, inc, odd)  # replay
    assert spark.read.parquet(inc + "/cells").count() == n_before


def test_index_compact_preserves_search(spark, tmp_path):
    """index_compact: after N incremental adds the store holds many
    small files per partition; compaction collapses them (~one file
    per directory) and search is bit-identical pre/post — on BOTH
    store layouts (bands: 2 partition cols; cells: 1)."""
    import glob

    from networkframe_spark.functions.similarity import (
        build_ivf_sq_index,
        build_lsh_index,
        index_compact,
        ivf_sq_index_add,
        ivf_sq_search,
        lsh_index_add,
        lsh_index_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    qs = emb.filter("vec_id < 4")

    # -- LSH store ((table, bucket)-partitioned) -----------------------
    lsh = str(tmp_path / "lsh")
    build_lsh_index(emb.filter("vec_id % 4 = 0"), lsh, n_planes=4, n_tables=2)
    for m in (1, 2, 3):
        lsh_index_add(spark, lsh, emb.filter(f"vec_id % 4 = {m}"))
    rows = lambda: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in lsh_index_search(
            spark, lsh, qs, k=3, n_probe_bits=1
        ).collect()
    )
    before_rows = rows()
    n_dirs = len(glob.glob(lsh + "/bands/table=*/bucket=*"))
    n_files_before = len(
        glob.glob(lsh + "/bands/**/*.parquet", recursive=True)
    )
    rep = index_compact(spark, lsh)
    n_files_after = len(
        glob.glob(lsh + "/bands/**/*.parquet", recursive=True)
    )
    assert rep["bands"]["files_before"] == n_files_before
    assert rep["bands"]["files_after"] == n_files_after
    assert n_files_after < n_files_before
    assert n_files_after <= n_dirs  # ~one file per partition dir
    assert rows() == before_rows

    # -- int8 IVF store (list_id-partitioned) --------------------------
    sq = str(tmp_path / "sq")
    build_ivf_sq_index(emb.filter("vec_id % 3 = 0"), sq, n_lists=4, n_iter=1)
    for m in (1, 2):
        ivf_sq_index_add(spark, sq, emb.filter(f"vec_id % 3 = {m}"))
    sq_rows = lambda: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["d2"])
        for r in ivf_sq_search(
            spark, sq, qs, k=3, n_probe=4, exclude_self=False
        ).collect()
    )
    before_sq = sq_rows()
    b = len(glob.glob(sq + "/cells/**/*.parquet", recursive=True))
    rep2 = index_compact(spark, sq)
    a = len(glob.glob(sq + "/cells/**/*.parquet", recursive=True))
    assert rep2["cells"]["files_after"] == a < b == rep2["cells"]["files_before"]
    assert sq_rows() == before_sq
    # nothing else under either root was touched or reported
    assert set(rep) == {"bands"} and set(rep2) == {"cells"}


def test_ivf_sq_probe_guard_is_fanout_aware(spark, tmp_path, monkeypatch):
    """ivf_sq_search caps the queries x n_probe probe-pair product
    (the composite the plain query-count guard misses)."""
    import pytest

    import networkframe_spark.functions.similarity as sim
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(50)
    path = str(tmp_path / "sqguard")
    sim.build_ivf_sq_index(emb, path, n_lists=4, n_iter=1)
    monkeypatch.setattr(sim, "_MAX_PROBE_ROWS", 10)
    qs = emb.filter("vec_id < 6")  # 6 queries x 4 probes = 24 > 10
    with pytest.raises(ValueError, match="probe-pair table"):
        sim.ivf_sq_search(spark, path, qs, k=3, n_probe=4)


def test_opq_rotation_orthogonal_deterministic(spark):
    """opq_rotation learns an ORTHOGONAL matrix (R R^T = I — the
    Procrustes solve guarantees it) and is fully deterministic
    (hash-ordered sample, fixed-init k-means, no RNG)."""
    import numpy as np

    from networkframe_spark.functions.similarity import opq_rotation
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001")
    R1 = opq_rotation(emb, m=4, k_codes=8, n_iter=2, sample_rows=300)
    R2 = opq_rotation(emb, m=4, k_codes=8, n_iter=2, sample_rows=300)
    assert R1 == R2
    R = np.asarray(R1)
    d = R.shape[0]
    assert R.shape == (d, d)
    assert np.allclose(R @ R.T, np.eye(d), atol=1e-9)
    # a real rotation, not a no-op
    assert not np.allclose(R, np.eye(d))


def test_ivfpq_identity_rotation_equals_plain(spark, tmp_path):
    """rotation=identity must be bit-identical to no rotation at all
    (the rotated-space machinery adds nothing but the matmul), so the
    OPQ plumbing provably changes ONLY the space, never the
    search/scoring semantics."""
    import numpy as np

    from networkframe_spark.functions.similarity import (
        build_ivfpq_index,
        ivfpq_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(150)
    dim = len(emb.first()["embedding"])
    eye = np.eye(dim).tolist()
    plain, rot = str(tmp_path / "plain"), str(tmp_path / "rot")
    kw = dict(
        n_lists=4, m=4, k_codes=8, n_iter=1,
        codebook_init="first_ids", coarse_init="first_ids",
        residual=False,
    )
    build_ivfpq_index(emb, plain, **kw)
    build_ivfpq_index(emb, rot, rotation=eye, **kw)
    qs = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = lambda p: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["approx_d2"])
        for r in ivfpq_search(spark, p, qs, k=4, n_probe=4).collect()
    )
    assert rows(plain) == rows(rot)


def test_ivfpq_opq_end_to_end(spark, tmp_path):
    """A learned OPQ rotation composes with the whole index family:
    exhaustive raw-code probe of the rotated index == pq_search over
    the explicitly-rotated corpus (the rotated-space pq contract),
    incremental add routes through the stored rotation, and residual
    mode accepts a rotation."""
    from networkframe_spark.functions.similarity import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_search,
        opq_rotation,
        pq_codebook,
        pq_encode,
        pq_search,
        rotate_embeddings,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200)
    R = opq_rotation(emb, m=4, k_codes=8, n_iter=2, sample_rows=200)
    path = str(tmp_path / "opq")
    build_ivfpq_index(
        emb, path, n_lists=4, m=4, k_codes=8, n_iter=1,
        codebook_init="first_ids", coarse_init="first_ids",
        residual=False, rotation=R,
    )
    qs = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["approx_d2"])
        for r in ivfpq_search(spark, path, qs, k=4, n_probe=4).collect()
    )
    # the contract twin: everything rotated explicitly, then plain PQ
    rot_emb = rotate_embeddings(emb, R)
    cb = pq_codebook(rot_emb, m=4, k=8, init="first_ids")
    codes = pq_encode(rot_emb, cb)
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["approx_d2"])
        for r in pq_search(
            codes, cb, rotate_embeddings(qs, R), k=4
        ).collect()
    )
    assert got == want
    # incremental add rotates through the stored manifest
    inc = str(tmp_path / "opq_inc")
    build_ivfpq_index(
        emb.filter("vec_id % 2 = 0"), inc, n_lists=4, m=4, k_codes=8,
        n_iter=1, codebook_init="first_ids", coarse_init="first_ids",
        residual=False, rotation=R,
    )
    ivfpq_index_add(spark, inc, emb.filter("vec_id % 2 = 1"))
    n = spark.read.parquet(inc + "/codes").count()
    assert n == emb.count()
    ivfpq_index_add(spark, inc, emb.filter("vec_id % 2 = 1"))  # replay
    assert spark.read.parquet(inc + "/codes").count() == n
    # residual mode composes with rotation (search auto-routes both)
    res = str(tmp_path / "opq_res")
    build_ivfpq_index(
        emb, res, n_lists=4, m=4, k_codes=8, n_iter=1,
        residual=True, rotation=R,
    )
    out = ivfpq_search(spark, res, qs, k=4, n_probe=4)
    assert out.groupBy("query_id").count().filter("count != 4").count() == 0


def test_index_stats_tracks_adds_and_compaction(spark, tmp_path):
    """index_stats (pure FS listing, no Spark job): files-per-partition
    grows with each incremental add and returns to 1 after
    index_compact — the signal the production compaction rule keys on."""
    from networkframe_spark.functions.similarity import (
        build_ivf_sq_index,
        index_compact,
        index_stats,
        ivf_sq_index_add,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(150)
    path = str(tmp_path / "idx")
    build_ivf_sq_index(emb.filter("vec_id % 3 = 0"), path, n_lists=4, n_iter=1)
    s0 = index_stats(spark, path)["cells"]
    assert s0["partitions"] == 4 and s0["files"] >= 4 and s0["bytes"] > 0
    for m in (1, 2):
        ivf_sq_index_add(spark, path, emb.filter(f"vec_id % 3 = {m}"))
    s1 = index_stats(spark, path)["cells"]
    assert s1["files"] > s0["files"]
    assert s1["max_files_per_partition"] > s0["max_files_per_partition"]
    index_compact(spark, path)
    s2 = index_stats(spark, path)["cells"]
    assert s2["max_files_per_partition"] == 1
    assert s2["partitions"] == 4
    # a path with no known stores reports nothing
    assert index_stats(spark, str(tmp_path / "nothing")) == {}


def test_ann_search_batched_composes_with_ivf_sq(spark, tmp_path):
    """The chunked driver stays searcher-generic: batched probing of
    the int8 IVF index equals the one-shot call (per-query
    independence holds for the newest index family too)."""
    from networkframe_spark.functions.similarity import (
        ann_search_batched,
        build_ivf_sq_index,
        ivf_sq_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(150)
    path = str(tmp_path / "sqb")
    build_ivf_sq_index(emb, path, n_lists=4, n_iter=1)
    qs = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = lambda df: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["d2"]) for r in df.collect()
    )
    want = rows(
        ivf_sq_search(
            spark, path, qs, k=4, n_probe=2,
            query_id_col="query_id", exclude_self=False,
        )
    )
    got = rows(
        ann_search_batched(
            spark, path, qs, batch_size=3, searcher=ivf_sq_search,
            k=4, n_probe=2, exclude_self=False,
        )
    )
    assert got == want and len(got) > 0


def test_ivf_sq_search_empty_query_batch(spark, tmp_path):
    """An empty query batch returns an empty result with the search
    schema (probing nothing) — for IVF-SQ and, through the same probe
    kernel, IVF and IVF-PQ in both code modes — not a numpy shape
    crash."""
    from networkframe_spark.functions.similarity import (
        build_ivf_index,
        build_ivf_sq_index,
        build_ivfpq_index,
        ivf_index_search,
        ivf_sq_search,
        ivfpq_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(50)
    empty = emb.filter("vec_id < 0")
    path = str(tmp_path / "sqe")
    build_ivf_sq_index(emb, path, n_lists=4, n_iter=1)
    out = ivf_sq_search(spark, path, empty, k=3, n_probe=2)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "d2", "rank"]
    ipath = str(tmp_path / "ivfe")
    build_ivf_index(emb, ipath, n_lists=4, n_iter=1)
    out = ivf_index_search(spark, ipath, empty, k=3, n_probe=2)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "cosine", "rank"]
    for residual in (False, True):
        ppath = str(tmp_path / f"pqe{residual}")
        build_ivfpq_index(
            emb, ppath, n_lists=4, m=4, k_codes=8, n_iter=1,
            codebook_init="first_ids", residual=residual,
        )
        out = ivfpq_search(
            spark, ppath, empty, k=3, n_probe=2, query_id_col="vec_id"
        )
        assert out.count() == 0
        assert out.columns == ["query_id", "vec_id", "rank", "approx_d2"]


def test_probe_searches_job_counts(spark, tmp_path):
    """Spark jobs per call, result collected, of the four persisted
    searches (40 queries).  Manifests are read through the store's
    FileSystem with no job (each ``spark.read.json`` read ran 2), and
    the non-residual IVF-PQ lookup table comes from the collected
    batch instead of a second run of the query input: the counts
    were IVF 8, IVF-SQ 8, IVF-PQ 14 raw and 13 residual, LSH 9."""
    from networkframe_spark import store
    from networkframe_spark.functions import similarity as sim
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(200).cache()
    qs = emb.filter("vec_id % 5 = 0").limit(40).cache()
    qs.count()
    p = {n: str(tmp_path / n) for n in ("ivf", "sq", "raw", "res", "lsh")}
    sim.build_ivf_index(emb, p["ivf"], n_lists=8, n_iter=1)
    sim.build_ivf_sq_index(emb, p["sq"], n_lists=8, n_iter=1)
    for n in ("raw", "res"):
        sim.build_ivfpq_index(
            emb, p[n], n_lists=8, m=4, k_codes=8, n_iter=1,
            codebook_init="first_ids", residual=n == "res",
        )
    sim.build_lsh_index(emb, p["lsh"], n_planes=4, n_tables=3)
    sc = spark.sparkContext
    calls = {
        "manifest": lambda: store.read_manifest(spark, p["res"], "codebook"),
        "ivf": lambda: sim.ivf_index_search(spark, p["ivf"], qs, n_probe=3).collect(),
        "sq": lambda: sim.ivf_sq_search(spark, p["sq"], qs, n_probe=3).collect(),
        "raw": lambda: sim.ivfpq_search(
            spark, p["raw"], qs, n_probe=3, query_id_col="vec_id").collect(),
        "res": lambda: sim.ivfpq_search(
            spark, p["res"], qs, n_probe=3, query_id_col="vec_id").collect(),
        "lsh": lambda: sim.lsh_index_search(
            spark, p["lsh"], qs, n_probe_bits=1).collect(),
    }
    jobs = {}
    try:
        for name, call in calls.items():
            sc.setJobGroup(f"probe-{name}", name)
            call()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"probe-{name}"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    pins = {"manifest": 0, "ivf": 6, "sq": 6, "raw": 8, "res": 9, "lsh": 7}
    assert all(jobs[k] <= pins[k] for k in pins), jobs


def test_minhash_index_lifecycle(spark, tmp_path):
    """Persisted MinHash index: probe == full-rebuild probe after
    incremental adds (band membership is a pure function of the
    stored params), replayed adds append zero rows, compaction leaves
    the decision bit-identical, and the probe scan partition-prunes
    the (band, kmod) store."""
    import glob

    from networkframe_spark.functions.dedup import (
        build_minhash_index,
        minhash_index_add,
        minhash_index_decontaminate,
    )
    from networkframe_spark.functions.similarity import index_compact
    from networkframe_spark.sources import read_table
    from tests.conftest import scan_partition_counts

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    train = docs.filter("doc_id % 20 != 0")
    ev = docs.filter("doc_id % 20 = 0")
    full, inc = str(tmp_path / "full"), str(tmp_path / "inc")
    build_minhash_index(train, full, n_perm=4, bands=2, n_kmod=16)
    rows = lambda p: sorted(
        map(
            tuple,
            minhash_index_decontaminate(
                spark, p, ev, threshold=0.25
            ).collect(),
        )
    )
    want = rows(full)
    assert len(want) > 0
    # estimates are k/4 fractions
    assert all(r[2] in (0.25, 0.5, 0.75, 1.0) for r in want)
    build_minhash_index(
        train.filter("doc_id % 2 = 1"), inc, n_perm=4, bands=2, n_kmod=16
    )
    minhash_index_add(spark, inc, train.filter("doc_id % 2 = 0"))
    assert rows(inc) == want
    n_before = spark.read.parquet(inc + "/mbands").count()
    minhash_index_add(spark, inc, train.filter("doc_id % 2 = 0"))  # replay
    assert spark.read.parquet(inc + "/mbands").count() == n_before
    f_before = len(glob.glob(inc + "/mbands/**/*.parquet", recursive=True))
    rep = index_compact(spark, inc)
    f_after = len(glob.glob(inc + "/mbands/**/*.parquet", recursive=True))
    assert rep["mbands"]["files_after"] == f_after < f_before
    assert rows(inc) == want
    # pruning: a tiny eval batch touches fewer (band, kmod) dirs than
    # exist on disk
    out = minhash_index_decontaminate(spark, full, ev.limit(2))
    total = len(glob.glob(full + "/mbands/band=*/kmod=*"))
    scans = scan_partition_counts(out)
    assert scans
    scanned = max(s.get("numPartitions", 0) for s in scans)
    assert 0 < scanned <= 4 < total, (scanned, total)


def test_minhash_index_duplicates_contract(spark, tmp_path):
    """Persisted-index self-dedup: (1) full-store self-join equals the
    incremental duty cycle — selfdup(old) UNION deltadup(new) after
    minhash_index_add — (2) the delta probe partition-prunes, (3) a
    re-add of an existing id with CHANGED text appends nothing (the
    band-0 anti-join is id-definitive, not kmod-local), and (4)
    dedup_corpus(method='minhash_index') wires survivors + cluster_id."""
    import glob

    from networkframe_spark.functions.dedup import (
        build_minhash_index,
        dedup_corpus,
        minhash_index_add,
        minhash_index_duplicates,
    )
    from networkframe_spark.sources import read_table
    from tests.conftest import scan_partition_counts

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    full, inc = str(tmp_path / "full"), str(tmp_path / "inc")
    build_minhash_index(docs, full, n_perm=4, bands=2, n_kmod=16)
    want = sorted(
        map(
            tuple,
            minhash_index_duplicates(spark, full, threshold=0.25).collect(),
        )
    )
    assert len(want) > 0
    assert all(a < b for a, b, _ in want)

    old, new = docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0")
    build_minhash_index(old, inc, n_perm=4, bands=2, n_kmod=16)
    old_pairs = minhash_index_duplicates(spark, inc, threshold=0.25).collect()
    minhash_index_add(spark, inc, new)
    delta = minhash_index_duplicates(
        spark, inc, threshold=0.25, delta_docs=new
    )
    got = sorted(set(map(tuple, old_pairs)) | set(map(tuple, delta.collect())))
    assert got == want  # add-then-selfdup == full rebuild

    # the delta probe prunes the (band, kmod) store at file listing
    tiny = minhash_index_duplicates(
        spark, inc, threshold=0.25, delta_docs=new.limit(2)
    )
    total = len(glob.glob(inc + "/mbands/band=*/kmod=*"))
    scans = scan_partition_counts(tiny)
    assert scans
    assert 0 < max(s.get("numPartitions", 0) for s in scans) <= 4 < total

    # changed-text re-add: same id, different text -> zero rows appended
    n_before = spark.read.parquet(inc + "/mbands").count()
    mutated = new.limit(3).withColumn(
        "text", F.concat(F.lit("MUTATED "), F.col("text"))
    )
    minhash_index_add(spark, inc, mutated)
    assert spark.read.parquet(inc + "/mbands").count() == n_before

    # one-call wiring
    out = dedup_corpus(
        docs, method="minhash_index", threshold=0.25, index_path=full
    )
    dropped = {b for _, b, _ in want} - {a for a, _, _ in want}
    assert out.count() <= docs.count()
    assert "cluster_id" in out.columns
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    # every surviving doc is its own cluster representative's member;
    # no kept id is a pure duplicate-side of a pair
    assert ids.isdisjoint(dropped) or all(
        i in ids for i in {a for a, _, _ in want}
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="index_path"):
        dedup_corpus(docs, method="minhash_index")

    # COLD START (r15): no store at index_path -> build-if-missing with
    # the given params, then selfdup; result == the warm call against a
    # pre-built store at the same params, and the store left behind is
    # reusable (second call is warm and identical)
    cold = str(tmp_path / "cold")
    out_cold = dedup_corpus(
        docs,
        method="minhash_index",
        threshold=0.25,
        index_path=cold,
        index_build_params={"n_perm": 4, "bands": 2, "n_kmod": 16},
    )
    rows = lambda d: sorted(
        (r["doc_id"], r["cluster_id"])
        for r in d.select("doc_id", "cluster_id").collect()
    )
    assert rows(out_cold) == rows(out)
    assert glob.glob(cold + "/mbands/band=*/kmod=*")  # store left behind
    out_warm = dedup_corpus(
        docs, method="minhash_index", threshold=0.25, index_path=cold
    )
    assert rows(out_warm) == rows(out)


def test_minhash_index_string_ids_empty_eval(spark, tmp_path):
    """Empty-eval decontaminate and empty-delta selfdup derive their
    id types from the store/eval schemas (string ids stay string)."""
    from pyspark.sql.types import StringType

    from networkframe_spark.functions.dedup import (
        build_minhash_index,
        minhash_index_decontaminate,
        minhash_index_duplicates,
    )
    from networkframe_spark.sources import read_table

    docs = (
        read_table(spark, "/root/testdata/sf0.001", "documents")
        .limit(40)
        .withColumn("doc_id", F.concat(F.lit("d"), F.col("doc_id")))
    )
    path = str(tmp_path / "sidx")
    build_minhash_index(docs, path, n_perm=4, bands=2, n_kmod=16)
    empty = docs.filter("1 = 0")
    out = minhash_index_decontaminate(spark, path, empty)
    assert out.count() == 0
    assert isinstance(out.schema["train_id"].dataType, StringType)
    assert isinstance(out.schema["eval_id"].dataType, StringType)
    dup = minhash_index_duplicates(spark, path, delta_docs=empty)
    assert dup.count() == 0
    assert isinstance(dup.schema["id_a"].dataType, StringType)
    # and the non-empty string-id path works end-to-end
    assert minhash_index_duplicates(spark, path, threshold=0.25).count() >= 0


def test_shuffle_partitions_auto_fallback():
    """Platforms with AQE auto shuffle partitions expose the literal
    string 'auto' — the helper must fall back to defaultParallelism
    instead of ValueError.  (Vanilla Spark rejects setting 'auto', so
    the conf surface is stubbed.)"""
    from networkframe_spark.session import shuffle_partitions

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, key):
            return self._v

    class _SC:
        defaultParallelism = 7

    class _Spark:
        sparkContext = _SC()

        def __init__(self, v):
            self.conf = _Conf(v)

    assert shuffle_partitions(_Spark("auto")) == 7
    assert shuffle_partitions(_Spark(None)) == 7
    assert shuffle_partitions(_Spark("16")) == 16


def test_index_remove_contract(spark, tmp_path):
    """index_remove (retraction lifecycle): for corpus-independent
    manifests (MinHash params, LSH planes) remove-then-probe is
    BIT-IDENTICAL to a rebuild over the remaining corpus; re-running
    the same removal is a no-op; fully-emptied partitions are deleted
    from disk; ivf_sq post-remove exhaustive search equals the
    pre-remove search with removed ids dropped from candidates."""
    import glob
    import os

    from networkframe_spark.functions.dedup import (
        build_minhash_index,
        minhash_index_decontaminate,
        minhash_index_duplicates,
    )
    from networkframe_spark.functions.similarity import (
        build_ivf_sq_index,
        build_lsh_index,
        index_remove,
        ivf_sq_search,
        lsh_index_search,
    )
    from networkframe_spark.sources import read_embeddings, read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    rm = docs.filter("doc_id % 5 = 1").select("doc_id")
    full, part = str(tmp_path / "f"), str(tmp_path / "p")
    build_minhash_index(docs, full, n_perm=4, bands=2, n_kmod=16)
    rep = index_remove(spark, full, rm)
    assert rep["mbands"]["rows_removed"] == 2 * rm.count()
    build_minhash_index(
        docs.filter("doc_id % 5 != 1"), part, n_perm=4, bands=2, n_kmod=16
    )
    ev = docs.filter("doc_id % 20 = 0")
    probe = lambda p: sorted(
        map(
            tuple,
            minhash_index_decontaminate(
                spark, p, ev, threshold=0.25
            ).collect(),
        )
    )
    assert probe(full) == probe(part)
    dups = lambda p: sorted(
        map(
            tuple,
            minhash_index_duplicates(spark, p, threshold=0.25).collect(),
        )
    )
    assert dups(full) == dups(part)
    # idempotent
    assert index_remove(spark, full, rm)["mbands"]["rows_removed"] == 0

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(100)
    l1, l2 = str(tmp_path / "l1"), str(tmp_path / "l2")
    build_lsh_index(emb, l1, n_planes=4, n_tables=2)
    index_remove(spark, l1, emb.filter("vec_id % 3 = 0").select("vec_id"))
    # an empty id list removes nothing and runs no Spark job (it used
    # to fail schema inference on the empty list)
    last_job = lambda: max(
        spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1
    )
    before = last_job()
    assert index_remove(spark, l1, []) == {
        "bands": {
            "rows_removed": 0,
            "partitions_rewritten": 0,
            "partitions_deleted": 0,
        }
    }
    assert last_job() == before
    build_lsh_index(emb.filter("vec_id % 3 != 0"), l2, n_planes=4, n_tables=2)
    qs = emb.filter("vec_id < 5")
    srch = lambda p: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in lsh_index_search(spark, p, qs, k=4).collect()
    )
    assert srch(l1) == srch(l2)
    # a Python id list removes like a one-column frame: one band row
    # per id and table
    assert index_remove(spark, l2, [1, 2])["bands"]["rows_removed"] == 2 * 2

    # ivf_sq: manifests are corpus-trained, so the contract is
    # candidate-set subtraction — post-remove exhaustive search ==
    # pre-remove search minus removed ids, re-ranked
    s1 = str(tmp_path / "s1")
    build_ivf_sq_index(emb, s1, n_lists=4, n_iter=1)
    pre = ivf_sq_search(
        spark, s1, qs, k=100, n_probe=4, exclude_self=False
    ).collect()
    index_remove(spark, s1, emb.filter("vec_id % 3 = 0").select("vec_id"))
    post = ivf_sq_search(
        spark, s1, qs, k=100, n_probe=4, exclude_self=False
    ).collect()
    assert all(r["vec_id"] % 3 != 0 for r in post)
    want = {}
    for r in sorted(
        (r for r in pre if r["vec_id"] % 3 != 0),
        key=lambda r: (r["query_id"], r["rank"]),
    ):
        want.setdefault(r["query_id"], []).append((r["vec_id"], r["d2"]))
    got = {}
    for r in sorted(post, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["d2"]))
    assert got == want

    # emptied-partition deletion: remove every doc of a tiny index.
    # Full retraction must leave a READABLE zero-row store (one marker
    # partition dir, ADVICE r14) — every reader keeps working instead
    # of dying on 'Unable to infer schema'.
    tiny = str(tmp_path / "tiny")
    build_minhash_index(
        docs.filter("doc_id < 10"), tiny, n_perm=4, bands=2, n_kmod=16
    )
    rep = index_remove(
        spark, tiny, docs.filter("doc_id < 10").select("doc_id")
    )
    assert rep["mbands"]["partitions_deleted"] > 0
    # exactly one marker partition dir survives, and it holds 0 rows
    left = glob.glob(os.path.join(tiny, "mbands", "band=*", "kmod=*"))
    assert len(left) == 1
    assert spark.read.parquet(os.path.join(tiny, "mbands")).count() == 0
    # readers on the fully-retracted store: empty results, no crash
    assert minhash_index_duplicates(spark, tiny, threshold=0.25).count() == 0
    assert (
        minhash_index_decontaminate(spark, tiny, ev, threshold=0.25).count()
        == 0
    )
    from networkframe_spark.functions.similarity import index_compact

    # compact on the empty store is a no-op, never an unreadable swap
    index_compact(spark, tiny)
    assert spark.read.parquet(os.path.join(tiny, "mbands")).count() == 0
    # the streaming/add duty cycle resumes: add docs back (dedupe=True
    # reads the store), and the store converges to a fresh rebuild
    from networkframe_spark.functions.dedup import minhash_index_add as _mia

    _mia(spark, tiny, docs.filter("doc_id < 10"), dedupe=True)
    tiny2 = str(tmp_path / "tiny2")
    build_minhash_index(
        docs.filter("doc_id < 10"), tiny2, n_perm=4, bands=2, n_kmod=16
    )
    assert dups(tiny) == dups(tiny2)

    # remove -> re-add duty cycle: the add's band-0 retry guard no
    # longer sees the removed ids, so they re-enter cleanly and the
    # store converges back to the pre-remove probe
    from networkframe_spark.functions.dedup import minhash_index_add

    pre = probe(part)
    minhash_index_add(spark, full, docs.filter("doc_id % 5 = 1"))
    full_again = probe(full)
    build_minhash_index(docs, str(tmp_path / "f2"), n_perm=4, bands=2,
                        n_kmod=16)
    assert full_again == probe(str(tmp_path / "f2"))
    assert pre == probe(part)  # part untouched throughout


def test_public_dim_kwarg_validated(spark):
    """The public ``dim`` kwarg feeds the known-dim codegen unroll,
    where a wrong value silently scores a PREFIX (understated) or
    nulls (overstated).  Public entry points must validate a supplied
    dim against a sampled row and raise, never silently mis-score."""
    import pytest

    from networkframe_spark.functions.similarity import (
        brute_force_top_k,
        build_lsh_index,
        lsh_top_k,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(20)
    true_dim = len(emb.first()["embedding"])
    wrong = 4 if true_dim != 4 else 8
    with pytest.raises(ValueError, match="does not match"):
        brute_force_top_k(emb, emb.limit(2), k=3, dim=wrong)
    with pytest.raises(ValueError, match="does not match"):
        lsh_top_k(emb, emb.limit(2), k=3, dim=wrong)
    with pytest.raises(ValueError, match="does not match"):
        build_lsh_index(emb, "/tmp/__never_written__", dim=wrong)
    # the TRUE dim passes and matches the inferred-dim result
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in brute_force_top_k(
            emb, emb.limit(2), k=3, dim=true_dim
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in brute_force_top_k(emb, emb.limit(2), k=3).collect()
    )
    assert got == want


def test_dot_norm_unroll_bit_identity(spark):
    """The known-dim codegen unroll of dot_expr/norm_expr/l2_lit_expr
    must be BIT-identical to the interpreted fold (same 0.0-seeded
    left association) — the invariant every hash-green LSH/IVF oracle
    silently relies on."""
    import math

    from networkframe_spark.functions.similarity import (
        dot_expr,
        l2_lit_expr,
        norm_expr,
    )

    rows = [
        (i, [math.sin(0.37 * i + d) * 10 ** ((d % 5) - 2) for d in range(16)],
         [math.cos(0.91 * i - d) for d in range(16)])
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    out = df.select(
        dot_expr(F.col("a"), F.col("b")).alias("fold"),
        dot_expr(F.col("a"), F.col("b"), 16).alias("unroll"),
        norm_expr(F.col("a")).alias("nfold"),
        norm_expr(F.col("a"), 16).alias("nunroll"),
    ).collect()
    for r in out:
        assert r["fold"] == r["unroll"]  # exact, not approx
        assert r["nfold"] == r["nunroll"]
    cen = [math.sin(1.7 * d) for d in range(16)]
    arr = F.array(*[F.lit(float(x)) for x in cen])
    out2 = df.select(
        F.aggregate(
            F.zip_with(F.col("a"), arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("fold"),
        l2_lit_expr(F.col("a"), cen).alias("unroll"),
    ).collect()
    for r in out2:
        assert r["fold"] == r["unroll"]


def test_index_maintain_compacts_only_breached(spark, tmp_path):
    """index_maintain: pure-listing trigger — below threshold it
    returns {} and touches nothing; above, it compacts ONLY the
    breached stores, with search bit-identical and file counts
    restored to ~one per partition."""
    import glob

    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_add,
        text_index_search,
    )
    from networkframe_spark.functions.similarity import (
        index_maintain,
        index_stats,
    )
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "tix")
    build_text_index(docs.filter("doc_id < 100"), path, n_kmod=8)
    # below threshold: no-op
    assert index_maintain(spark, path, max_files_per_partition=1000) == {}
    for lo in (100, 200, 300, 400):
        text_index_add(
            spark, path, docs.filter(f"doc_id >= {lo} AND doc_id < {lo+100}")
        )
    st = index_stats(spark, path)
    assert st["postings"]["max_files_per_partition"] > 2
    terms = ["spark", "hash", "vector"]
    want = sorted(
        map(tuple, text_index_search(spark, path, terms, k=10).collect())
    )
    rep = index_maintain(spark, path, max_files_per_partition=2)
    assert "postings" in rep  # breached store compacted
    for sub in rep:
        assert rep[sub]["files_after"] < rep[sub]["files_before"]
    st2 = index_stats(spark, path)
    assert (
        st2["postings"]["max_files_per_partition"]
        < st["postings"]["max_files_per_partition"]
    )
    got = sorted(
        map(tuple, text_index_search(spark, path, terms, k=10).collect())
    )
    assert got == want
    # idempotent: a second maintain right after finds nothing breached
    assert index_maintain(spark, path, max_files_per_partition=2) == {}


def test_embedding_duplicates_arrow_verify_equals_expr(spark):
    """The Arrow (mapInPandas einsum) bucket verify has been removed;
    the expression verify is the only one left, and ``verify=`` is no
    longer accepted.  What the Arrow/expr comparison guarded still
    holds: above the unroll gate the LSH path's verify equals the exact
    path pair-for-pair at 6 dp on planted near-dups."""
    import math

    # planted clusters of 3 near-identical 32-dim vectors (dim > the
    # unroll gate, where the Arrow verify used to take over)
    rows = []
    for c in range(40):
        base = [math.sin(1.0 + 7 * c + i) for i in range(32)]
        for m in range(3):
            rows.append(
                (3 * c + m, [v + 0.001 * m * ((i % 5) - 2) for i, v in enumerate(base)])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.99, mode="lsh", n_planes=4, n_tables=4)

    def pairs(out):
        return sorted((a, b, round(c, 6)) for a, b, c in out.collect())

    lsh = pairs(embedding_duplicates(emb, **kw))
    exact = pairs(embedding_duplicates(emb, threshold=0.99, mode="exact"))
    assert len(lsh) >= 120  # the 3 pairs of every planted cluster
    assert lsh == exact
    with pytest.raises(TypeError, match="verify"):
        embedding_duplicates(emb, verify="arrow", **kw)
    # wrong caller-supplied dim is rejected, never silently mis-scored
    with pytest.raises(ValueError, match="does not match"):
        embedding_duplicates(emb, dim=16, **kw)


def test_index_recall_check_drift_duty_cycle(spark, tmp_path):
    """The r15-verdict recall-drift monitor: adds against FROZEN
    centroids silently degrade probe recall; index_recall_check trips
    on a deliberately drifted store (adds from a shifted cluster
    distribution), passes on the healthy and rebuilt stores, and the
    documented repair (in-place build_* mode='overwrite' retrain)
    searches bit-identically to a fresh build."""
    import random

    from networkframe_spark.functions.similarity import (
        build_ivf_sq_index,
        index_recall_check,
        ivf_sq_index_add,
        ivf_sq_search,
    )

    rng = random.Random(7)
    dim = 16

    def cluster_rows(centers, n_per, id0):
        rows, i = [], id0
        for cj in centers:
            for _ in range(n_per):
                v = [0.0] * dim
                v[cj] = 10.0
                rows.append(
                    (i, [x + rng.uniform(-0.5, 0.5) for x in v])
                )
                i += 1
        return rows

    schema = "vec_id long, embedding array<double>"
    base = spark.createDataFrame(cluster_rows(range(8), 50, 0), schema)
    drift = spark.createDataFrame(
        cluster_rows(range(8, 16), 50, 10000), schema
    )
    path = str(tmp_path / "ix")
    build_ivf_sq_index(base, path, n_lists=8, n_iter=5)
    probes_a = base.filter("vec_id % 10 = 3").selectExpr(
        "vec_id as query_id", "embedding"
    )
    healthy = index_recall_check(
        spark, path, probes_a, k=10, n_probe=1, min_recall=0.9
    )
    assert healthy["family"] == "ivf_sq"
    assert not healthy["recall_breached"]
    assert healthy["recommend"] == "ok"
    assert healthy["mean_recall"] > 0.95
    # drift: a second distribution ingested against the frozen
    # centroids — every new cluster's points scatter across the old
    # cells, so n_probe=1 probes miss most true neighbors
    ivf_sq_index_add(spark, path, drift)
    probes_b = drift.filter("vec_id % 10 = 3").selectExpr(
        "vec_id as query_id", "embedding"
    )
    drifted = index_recall_check(
        spark, path, probes_b, k=10, n_probe=1, min_recall=0.9
    )
    assert drifted["recall_breached"]
    assert drifted["recommend"] == "rebuild"
    assert drifted["mean_recall"] < 0.6
    # repair = retrain in place over the current corpus
    union = base.unionByName(drift)
    build_ivf_sq_index(
        union, path, n_lists=16, n_iter=5, mode="overwrite"
    )
    rebuilt = index_recall_check(
        spark, path, probes_b, k=10, n_probe=1, min_recall=0.9
    )
    assert not rebuilt["recall_breached"]
    assert rebuilt["recommend"] == "ok"
    assert rebuilt["mean_recall"] > 0.95
    # in-place rebuild == fresh build, bit-for-bit
    fresh = str(tmp_path / "fresh")
    build_ivf_sq_index(union, fresh, n_lists=16, n_iter=5)
    a = sorted(
        map(
            tuple,
            ivf_sq_search(
                spark, path, probes_b, k=5, n_probe=2,
                query_id_col="query_id", exclude_self=False,
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            ivf_sq_search(
                spark, fresh, probes_b, k=5, n_probe=2,
                query_id_col="query_id", exclude_self=False,
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_index_recall_check_family_detection(spark, tmp_path):
    """Auto-detection covers all four ANN families; ivfpq without a
    corpus is a loud error (codes are not reconstructible)."""
    import pytest

    from networkframe_spark.functions.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        build_lsh_index,
        index_recall_check,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").select(
        "vec_id", "embedding"
    ).filter("vec_id < 100")
    probes = emb.filter("vec_id < 5").selectExpr(
        "vec_id as query_id", "embedding"
    )
    ivf = str(tmp_path / "ivf")
    build_ivf_index(emb, ivf, n_lists=4, n_iter=2)
    # exhaustive probe: recall exactly 1.0 by the probe contract —
    # drift-induced pruning loss is the ONLY thing this can lose
    chk = index_recall_check(spark, ivf, probes, k=5, n_probe=4)
    assert chk["family"] == "ivf" and chk["mean_recall"] == 1.0
    lsh = str(tmp_path / "lsh")
    build_lsh_index(emb, lsh, n_planes=4, n_tables=2)
    chk = index_recall_check(
        spark, lsh, probes, k=5, n_probe_bits=4, min_recall=0.99
    )
    assert chk["family"] == "lsh" and chk["mean_recall"] == 1.0
    pq = str(tmp_path / "pq")
    build_ivfpq_index(
        emb, pq, n_lists=4, m=4, k_codes=16,
        codebook_init="first_ids", residual=False,
    )
    with pytest.raises(ValueError, match="corpus"):
        index_recall_check(spark, pq, probes, k=5)
    chk = index_recall_check(
        spark, pq, probes, k=5, n_probe=4, corpus=emb, min_recall=0.0
    )
    assert chk["family"] == "ivfpq" and chk["n_queries"] == 5


def test_index_add_rejects_wrong_family(spark, tmp_path):
    """An add of the wrong family raises and leaves the store as it
    was: an IVF add on an IVF-SQ store would append raw-float rows the
    int8 search ranks first with d2 = None, and an LSH add on a
    MinHash store would band vectors into a document store."""
    import pytest

    from networkframe_spark.functions.dedup import build_minhash_index
    from networkframe_spark.functions.similarity import (
        build_ivf_sq_index,
        ivf_index_add,
        lsh_index_add,
    )
    from networkframe_spark.sources import read_embeddings, read_table

    emb = read_embeddings(spark, SF_DIR).filter("vec_id < 40")
    sq = str(tmp_path / "sq")
    build_ivf_sq_index(emb.filter("vec_id < 30"), sq, n_lists=2, n_iter=1)
    with pytest.raises(ValueError, match="ivf_sq.*ivf|ivf.*ivf_sq"):
        ivf_index_add(spark, sq, emb.filter("vec_id >= 30"))
    assert spark.read.parquet(sq + "/cells").count() == 30

    docs = read_table(spark, SF_DIR, "documents")
    mh = str(tmp_path / "mh")
    build_minhash_index(docs.filter("doc_id < 30"), mh, n_perm=4, bands=2)
    with pytest.raises(ValueError, match="minhash.*lsh|lsh.*minhash"):
        lsh_index_add(spark, mh, emb)
    assert spark.read.parquet(mh + "/mbands").count() == 2 * 30


def test_index_rebuild_retrains_with_stored_params(spark, tmp_path):
    """index_rebuild re-reads the stored structural params (n_lists /
    planes / PQ shape) and retrains in place with mode='overwrite' —
    searches bit-identical to a fresh build over the same corpus, for
    all three families with trained state."""
    from networkframe_spark.functions.similarity import (
        build_ivf_sq_index,
        build_ivfpq_index,
        build_lsh_index,
        index_rebuild,
        ivf_sq_search,
        ivfpq_search,
        lsh_index_search,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, "/root/testdata/sf0.001").select(
        "vec_id", "embedding"
    ).filter("vec_id < 150")
    half = emb.filter("vec_id < 75")
    probes = emb.filter("vec_id < 5").selectExpr(
        "vec_id as query_id", "embedding"
    )

    # ivf_sq: build on half, rebuild over full, compare to fresh full
    sq, sq_fresh = str(tmp_path / "sq"), str(tmp_path / "sqf")
    build_ivf_sq_index(half, sq, n_lists=4, n_iter=2)
    rep = index_rebuild(spark, sq, emb, n_iter=2)
    assert rep["family"] == "ivf_sq" and rep["params"]["n_lists"] == 4
    build_ivf_sq_index(emb, sq_fresh, n_lists=4, n_iter=2)
    srch = lambda p: sorted(map(tuple, ivf_sq_search(
        spark, p, probes, k=5, n_probe=2,
        query_id_col="query_id", exclude_self=False).collect()))
    assert srch(sq) == srch(sq_fresh) and len(srch(sq)) > 0

    # lsh: params (n_planes, n_tables) survive the rebuild
    lsh, lsh_fresh = str(tmp_path / "lsh"), str(tmp_path / "lshf")
    build_lsh_index(half, lsh, n_planes=4, n_tables=2)
    rep = index_rebuild(spark, lsh, emb)
    assert rep["family"] == "lsh"
    assert rep["params"] == {"n_planes": 4, "n_tables": 2}
    build_lsh_index(emb, lsh_fresh, n_planes=4, n_tables=2)
    lsrch = lambda p: sorted(map(tuple, lsh_index_search(
        spark, p, probes, k=5, n_probe_bits=4,
        query_id_col="query_id", exclude_self=False).collect()))
    assert lsrch(lsh) == lsrch(lsh_fresh) and len(lsrch(lsh)) > 0

    # ivfpq: PQ shape (m, k_codes, residual) rides the manifest
    pq, pq_fresh = str(tmp_path / "pq"), str(tmp_path / "pqf")
    kw = dict(n_lists=4, m=4, k_codes=16,
              codebook_init="first_ids", residual=False)
    build_ivfpq_index(half, pq, **kw)
    rep = index_rebuild(
        spark, pq, emb, codebook_init="first_ids", n_iter=3
    )
    assert rep["family"] == "ivfpq"
    assert rep["params"]["m"] == 4 and rep["params"]["k_codes"] == 16
    assert rep["params"]["residual"] is False
    build_ivfpq_index(emb, pq_fresh, **kw)
    psrch = lambda p: sorted(map(tuple, ivfpq_search(
        spark, p, probes, k=5, n_probe=4,
        query_id_col="query_id").collect()))
    assert psrch(pq) == psrch(pq_fresh) and len(psrch(pq)) > 0


def test_auto_n_planes_policy_math():
    """The adopted LSH plane policy: density term tracks corpus size
    at constant bucket rows; the S-curve recall cap binds at low
    thresholds so recall never silently collapses; clamped [4, 16]."""
    from networkframe_spark.functions.dedup import (
        LSH_TARGET_BUCKET_ROWS,
        auto_n_planes,
    )

    t = LSH_TARGET_BUCKET_ROWS
    # density term: n = target * 2^k -> k planes (high threshold,
    # cap never binds at 0.99 / 12 tables)
    assert auto_n_planes(t * 2 ** 10, 0.99, 12) == 10
    assert auto_n_planes(t * 2 ** 13, 0.99, 12) == 13
    # growth: 4x corpus -> +2 planes (constant density)
    assert (
        auto_n_planes(t * 2 ** 12, 0.99, 12)
        - auto_n_planes(t * 2 ** 10, 0.99, 12)
        == 2
    )
    # clamps
    assert auto_n_planes(10, 0.99, 12) == 4
    assert auto_n_planes(t * 2 ** 30, 0.99, 12) == 16
    # recall cap binds at low thresholds: t=0.8 with 12 tables allows
    # only ~5 planes within a 1% miss budget — density never overrides
    import math

    p = 1 - math.acos(0.8) / math.pi
    got = auto_n_planes(t * 2 ** 12, 0.8, 12)
    assert got < 12
    assert (1 - p ** got) ** 12 <= 0.01
    # more tables relax the cap
    assert auto_n_planes(t * 2 ** 12, 0.8, 64) > got


def test_embedding_duplicates_auto_planes_end_to_end(spark):
    """n_planes=None resolves through the policy and equals the same
    call with the resolved planes pinned explicitly."""
    import math

    from networkframe_spark.functions.dedup import (
        auto_n_planes,
        embedding_duplicates,
    )

    rows = []
    for c in range(60):
        base = [math.sin(1.0 + 5 * c + i) for i in range(16)]
        for m in range(3):
            rows.append(
                (3 * c + m,
                 [v + 0.001 * m * ((i % 5) - 2) for i, v in enumerate(base)])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    resolved = auto_n_planes(emb.count(), 0.99, 12)
    a = sorted(map(tuple, embedding_duplicates(
        emb, threshold=0.99, mode="lsh").collect()))
    b = sorted(map(tuple, embedding_duplicates(
        emb, threshold=0.99, mode="lsh", n_planes=resolved).collect()))
    assert a == b and len(a) > 0
