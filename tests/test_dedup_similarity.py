"""Unit tests for dedup/similarity/text/multimodal operators on controlled
inputs (the fixture-scale differential checks live in the query catalog)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_dedup,
    shingles,
    simhash64,
)
from cernbox_migration_database_spark.operators.multimodal import (
    decode_media,
    documents_as_media,
    frame_sample_plan,
    perceptual_hash,
    phash_near_dup_pairs,
)
from cernbox_migration_database_spark.operators.similarity import (
    cosine_near_dup_pairs,
    dot_exact,
    knn_bruteforce,
    with_lsh_bucket,
)
from cernbox_migration_database_spark.operators.text import (
    normalize_text,
    tokens,
    with_quality,
)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy cat", "en"),   # near-dup of 1
        (3, "completely different words entirely here now", "en"),
        (4, "the  quick brown fox jumps over the  lazy dog ", "en"),  # exact after norm
        (5, "short one", "en"),                                      # < 3 tokens
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_shingles_short_doc_empty(spark):
    df = _docs(spark).select("doc_id", shingles("text").alias("sh"))
    got = {r["doc_id"]: r["sh"] for r in df.collect()}
    assert got[5] == []
    assert "the quick brown" in got[1]


def test_exact_dedup_normalized(spark):
    out = exact_dedup(_docs(spark))
    by_keeper = {r["keeper"]: r["n_copies"] for r in out.collect()}
    assert by_keeper[1] == 2  # doc 4 normalizes to doc 1
    assert out.count() == 4


def test_jaccard_pairs_finds_near_dup(spark):
    out = jaccard_pairs(_docs(spark), threshold=0.5)
    rows = [(r["doc_a"], r["doc_b"]) for r in out.collect()]
    assert (1, 2) in rows and (1, 4) in rows and (2, 4) in rows
    assert all(a != 3 and b != 3 for a, b in rows)


def test_minhash_lsh_matches_bruteforce_on_high_sim(spark):
    brute = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(_docs(spark), block_col=None, threshold=0.9).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_dedup(_docs(spark), threshold=0.9).collect()
    }
    # docs 1 and 4 tokenize identically -> identical signatures -> every band
    # collides -> LSH is guaranteed (not just likely) to catch the pair
    assert (1, 4) in lsh
    assert lsh == brute == {(1, 4)}


def test_simhash_properties(spark):
    out = {r["doc_id"]: r["simhash"] for r in simhash64(_docs(spark)).collect()}
    assert all(len(v) == 64 and set(v) <= {"0", "1"} for v in out.values())
    ham12 = sum(a != b for a, b in zip(out[1], out[2]))
    ham13 = sum(a != b for a, b in zip(out[1], out[3]))
    assert ham12 < ham13  # near-dup is closer in Hamming space
    assert out[1] == out[4]  # identical token sets -> identical signature


def test_simhash_packed_matches_per_bit_reference(spark):
    """r13: the bit-slice-packed aggregation (3 counters of 21 bits per
    BIGINT) must reproduce the per-bit definition exactly — signature bit
    j is the sign of 2*sum(bit_j) - n_tokens over distinct tokens, with
    bit j of a token = bit (3 - j%4) of hex digit j//4 of md5(token)."""
    import hashlib

    docs = _docs(spark)
    got = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    for row in docs.collect():
        toks = sorted({t for t in row["text"].split(" ") if t})
        sums = [0] * 64
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest()
            for j in range(64):
                bit = (int(hx[j // 4], 16) >> (3 - j % 4)) & 1
                sums[j] += bit
        sig = "".join(
            "1" if 2 * sums[j] - len(toks) >= 0 else "0" for j in range(64)
        )
        assert got[row["doc_id"]] == sig


def test_simhash_refuses_documents_at_the_packed_counter_limit(spark):
    """The 21-bit slices are exact only below 2^21 distinct tokens per
    document: a document just below the limit keeps its per-bit
    signature, and one at the limit fails the query instead of returning
    bits a slice carry may have flipped."""
    import hashlib

    import numpy as np

    limit = 1 << 21

    def doc(n):
        # the signature aggregates (doc, token) rows, so n single-token
        # rows under one doc_id form the same group as one n-token text,
        # without a 16 MB cell split into a 2M-element array on one task
        return spark.range(n).select(
            F.lit(0).cast("long").alias("doc_id"),
            F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
        )

    n = limit - 1
    # bit j of a token = bit (63 - j) of the first 16 md5 hex digits
    words = np.array(
        [int(hashlib.md5(f"t{i}".encode()).hexdigest()[:16], 16)
         for i in range(n)],
        dtype=np.uint64,
    )
    sums = [
        int(((words >> np.uint64(63 - j)) & np.uint64(1)).sum())
        for j in range(64)
    ]
    want = "".join("1" if 2 * s - n >= 0 else "0" for s in sums)
    assert simhash64(doc(n)).first()["simhash"] == want
    with pytest.raises(Exception, match="exact only below 2\\^21"):
        simhash64(doc(limit)).collect()


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.99, 0.1, 0.0, 0.0], 0),   # close to 1
        (3, [0.0, 1.0, 0.0, 0.0], 0),
        (4, [-1.0, 0.0, 0.0, 0.0], 1),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_dot_exact(spark):
    df = _vecs(spark)
    r = df.where("vec_id = 2").select(
        dot_exact(F.col("embedding"), F.col("embedding")).alias("d")
    ).collect()[0]["d"]
    # float32 storage: 0.99 and 0.1 round to their nearest float32 first
    assert math.isclose(r, 0.99**2 + 0.1**2, rel_tol=1e-6)


def test_knn_ranks_nearest_first(spark):
    df = _vecs(spark)
    out = knn_bruteforce(df, df.where("vec_id = 1"), top_k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order[0] == 2 and order[-1] == 4  # most similar .. opposite


def test_cosine_near_dup_blocked(spark):
    out = cosine_near_dup_pairs(_vecs(spark), threshold=0.9).collect()
    assert [(r["vec_a"], r["vec_b"]) for r in out] == [(1, 2)]


def test_lsh_bucket_shape(spark):
    out = with_lsh_bucket(_vecs(spark)).select("bucket").collect()
    assert all(len(r["bucket"]) == 8 and set(r["bucket"]) <= {"0", "1"} for r in out)


def test_quality_and_normalize(spark):
    d = with_quality(_docs(spark))
    got = {r["doc_id"]: r for r in d.collect()}
    assert got[5]["quality"] == "too_short"
    assert got[1]["n_tokens"] == 9
    norm = _docs(spark).select(normalize_text("text").alias("n")).collect()
    assert norm[3]["n"] == norm[0]["n"]  # doc 4 == doc 1 after normalization


def test_multimodal_decode_plumbing(spark):
    media = documents_as_media(_docs(spark))
    out = decode_media(media, fake=True)
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 5
    assert rows[1]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert len(rows[1]["sha"]) == 64
    assert 0.0 <= rows[1]["mean_luma"] <= 1.0


def test_multimodal_decode_real_is_marked_stub(spark):
    media = documents_as_media(_docs(spark))
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        decode_media(media, fake=False).collect()


def test_perceptual_hash_near_dup_pairs(spark):
    """Image near-dup via dHash + exact pigeonhole banding: a blob with a
    one-byte corruption must pair with its original at small Hamming
    distance; unrelated blobs must not pair. The banded candidate path
    must find every pair brute force finds (pigeonhole exactness)."""
    base = bytes(range(200)) * 3
    near = bytearray(base)
    near[100] ^= 0xFF  # one-byte corruption (big enough to flip a cell)
    blobs = [
        (1, base),
        (2, bytes(near)),
        (3, b"completely different content " * 30),
        (4, base),  # exact duplicate of 1
    ]
    media = spark.createDataFrame(
        [(i, b, "image/fake", None, None, None) for i, b in blobs],
        "media_id long, blob binary, media_type string, width int, "
        "height int, duration_ms long",
    )
    hashes = perceptual_hash(media, fake=True)
    hs = {r["media_id"]: r["phash"] for r in hashes.collect()}
    assert all(len(h) == 64 and set(h) <= {"0", "1"} for h in hs.values())
    assert hs[1] == hs[4]  # identical blobs → identical hash

    pairs = {
        (r["ia"], r["ib"]): r["hamming"]
        for r in phash_near_dup_pairs(hashes, max_hamming=8).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 0
    assert (1, 2) in pairs and 0 < pairs[(1, 2)] <= 8
    assert not any(3 in p for p in pairs)
    # banding is exact: must equal the brute-force pair set
    brute = {
        (a, b)
        for a in hs
        for b in hs
        if a < b and sum(x != y for x, y in zip(hs[a], hs[b])) <= 8
    }
    assert set(pairs) == brute

    with pytest.raises(Exception, match="NotImplementedError|decoder|dHash"):
        perceptual_hash(media, fake=False).collect()


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 3500)], "media_id long, duration_ms long")
    out = frame_sample_plan(df, every_ms=1000).collect()
    assert [r["sample_ms"] for r in out] == [0, 1000, 2000, 3000]


def test_jaccard_hot_shingle_cap_matches_oracle(spark):
    """Skew guard: an adversarial boilerplate shingle shared by EVERY doc
    would drive an O(n^2) blow-up on one join key. With max_df the hot
    shingles are dropped on both engines and the capped result is exact
    Jaccard over the surviving shingle space — compared value-for-value
    against a DuckDB oracle implementing the identical cap."""
    import duckdb
    import pandas as pd

    boiler = "copyright acme corp all rights reserved"
    rows = []
    for i in range(1, 41):
        if i in (1, 2):  # true near-dup pair: shared unique content
            body = f"alpha beta gamma delta epsilon zeta eta theta{' iota' if i == 2 else ' kappa'}"
        else:
            body = f"unique{i} content{i} words{i} body{i} tail{i}"
        rows.append((i, f"{boiler} {body}", "en"))
    sdf = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    cap = 5

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(sdf, threshold=0.2, max_df=cap).collect()
    }

    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])  # noqa: F841
    oracle = duckdb.sql(
        f"""
        WITH toks AS (
          SELECT doc_id, lang,
                 list_filter(string_split(text, ' '), t -> t <> '') AS t
          FROM pdf),
        sh AS (SELECT doc_id, lang,
                      list_distinct(list_transform(generate_series(1, len(t)-2),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
               FROM toks WHERE len(t) >= 3),
        ex AS (SELECT doc_id, lang, unnest(s) AS shingle
               FROM sh WHERE len(s) > 0),
        freq AS (SELECT lang, shingle, COUNT(*) AS c FROM ex GROUP BY 1, 2),
        kept AS (SELECT ex.* FROM ex JOIN freq USING (lang, shingle)
                 WHERE freq.c <= {cap}),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
          FROM kept a JOIN kept b
            ON a.lang = b.lang AND a.shingle = b.shingle
               AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT ia, ib,
               inter::DOUBLE / (sa.n + sb.n - inter) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = ia
                   JOIN sizes sb ON sb.doc_id = ib
        WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.2
        """
    ).fetchall()
    want = {(ia, ib): j for ia, ib, j in oracle}

    assert got == pytest.approx(want)
    assert (1, 2) in got  # the true near-dup survives the cap
    # the boilerplate-only cross pairs are gone: every surviving pair shares
    # non-boilerplate content
    assert all(a in (1, 2) and b in (1, 2) for (a, b) in got)


def test_jaccard_cap_bounds_join_fanout(spark):
    """The cap's point at scale: no join key's row count exceeds max_df, so
    the biggest possible per-key pair fan-out is max_df^2 regardless of how
    hot the corpus's boilerplate is."""
    from cernbox_migration_database_spark.operators.dedup import _shingle_sets

    rows = [(i, f"spam spam spam ham{i} eggs{i} extra{i}", "en") for i in range(1, 31)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    cap = 4
    sets = _shingle_sets(sdf, "text", "doc_id", "lang", 3)
    ex = sets.select("doc_id", "lang", F.explode("sh").alias("shingle"))
    freq = ex.groupBy("lang", "shingle").agg(F.count(F.lit(1)).alias("c"))
    hot = freq.filter(F.col("c") > cap).select("lang", "shingle")
    kept = ex.join(F.broadcast(hot), ["lang", "shingle"], "left_anti")
    max_key = (
        kept.groupBy("lang", "shingle").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_key is not None and max_key <= cap
    # and the hot key really was hot before the cap
    assert freq.agg(F.max("c")).collect()[0][0] == 30


def test_ivf_ann_recall_vs_bruteforce(spark):
    """IVF quality gate: searching only nprobe=4 of 16 cells (25% of the
    corpus) must keep mean recall@10 well above the 25% a random subset
    would give. Measured 2026-08: seed centroids 0.805, kmeans-trained 0.79
    at sf0.01 — asserted with margin (float kmeans means are partition-order
    sensitive in the last ulp)."""
    from cernbox_migration_database_spark.operators.similarity import (
        ann_ivf,
        centroid_literals,
        kmeans_train,
        seed_centroids,
    )
    from cernbox_migration_database_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    truth: dict[int, set[int]] = {}
    for r in knn_bruteforce(emb, queries, top_k=10).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def mean_recall(pred_df):
        pmap: dict[int, set[int]] = {}
        for r in pred_df.collect():
            pmap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        vals = [len(pmap.get(q, set()) & t) / len(t) for q, t in truth.items()]
        return sum(vals) / len(vals)

    seed = seed_centroids(emb, k=16)
    assert mean_recall(ann_ivf(emb, queries, seed, nprobe=4, top_k=10)) >= 0.6

    trained = centroid_literals(spark, kmeans_train(emb, k=16, iters=2))
    assert mean_recall(ann_ivf(emb, queries, trained, nprobe=4, top_k=10)) >= 0.6

    # the FROZEN trained centroids (operators/ivf_trained.py — what the
    # similarity_ann_ivf_trained differential serves) hold the same bar,
    # and deterministically (frozen literals, exact integer ranking)
    from cernbox_migration_database_spark.operators.ivf_trained import (
        TRAINED_IVF_CENTROIDS,
    )

    frozen = centroid_literals(spark, TRAINED_IVF_CENTROIDS)
    assert mean_recall(ann_ivf(emb, queries, frozen, nprobe=4, top_k=10)) >= 0.6


def test_kmeans_train_shapes_and_determinism(spark):
    """Lloyd training returns k centroids of the input dimension; the
    assignment expression covers every corpus vector (no dropped cells)."""
    from cernbox_migration_database_spark.operators.similarity import (
        cell_of,
        centroid_literals,
        kmeans_train,
        with_norm,
    )
    from cernbox_migration_database_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = kmeans_train(emb, k=8, iters=2)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)

    lits = centroid_literals(spark, cents)
    d = with_norm(emb).withColumn(
        "cell", cell_of(F.col("svec"), F.col("norm"), lits)
    )
    cells = d.groupBy("cell").count().collect()
    assert sum(r["count"] for r in cells) == emb.count()
    assert all(0 <= r["cell"] < 8 for r in cells)


def test_connected_components_chain_triangle_pair(spark):
    """Min-label propagation on a known graph: a 4-chain (tests multi-hop
    propagation past one round), a triangle, and an isolated pair — every
    node must land on its component's minimum id, untouched docs absent."""
    from cernbox_migration_database_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [
            (10, 11), (11, 12), (12, 13),   # chain 10-11-12-13
            (20, 21), (21, 22), (20, 22),   # triangle
            (30, 31),                        # pair
        ],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["cluster"]
        for r in connected_components(pairs).collect()
    }
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }


def test_label_propagation_splits_bridged_triangles(spark):
    from cernbox_migration_database_spark.operators.dedup import (
        connected_components,
        label_propagation,
    )

    # two triangles joined by one bridge edge (3-4): connected components
    # merges them into one cluster; frequency-voting LPA keeps them apart
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "doc_a long, doc_b long",
    )
    lpa = {
        r["doc_id"]: r["community"]
        for r in label_propagation(pairs, iterations=3).collect()
    }
    # hand-traced synchronous rounds with (count DESC, label ASC) tie-break
    assert lpa == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    cc = {
        r["doc_id"]: r["cluster"] for r in connected_components(pairs).collect()
    }
    assert set(cc.values()) == {1}


def test_weighted_lpa_outvotes_count(spark):
    """Weighted LPA: one strong edge must outvote two weak ones — the exact
    case where count-voting and weight-voting disagree. Node 1 has
    neighbors {2 (w=9), 3 (w=1), 4 (w=1)}; nodes 3,4 carry label 3 after
    round 1... keep it to ONE round for a hand-checkable assertion:
    count-LPA gives node 1 label 3 (two votes beat one), weighted gives
    label 2 (9 > 2)."""
    from cernbox_migration_database_spark.operators.dedup import (
        label_propagation,
    )

    pairs = spark.createDataFrame(
        [(1, 2, 9), (1, 3, 1), (1, 4, 1), (3, 4, 1)],
        ["doc_a", "doc_b", "w"],
    )
    unweighted = {
        r["doc_id"]: r["community"]
        for r in label_propagation(pairs, iterations=1).collect()
    }
    weighted = {
        r["doc_id"]: r["community"]
        for r in label_propagation(pairs, iterations=1, weight_col="w").collect()
    }
    # node 1: neighbors' initial labels are {2:w9, 3:w1, 4:w1}
    assert unweighted[1] == 2  # counts tie 1-1-1 -> smallest label wins
    assert weighted[1] == 2  # 9 beats 1,1
    # node 4: neighbors {1:w1, 3:w1} -> tie -> smallest label = 1 both ways
    assert unweighted[4] == 1 and weighted[4] == 1
    # node 2's only neighbor is 1
    assert weighted[2] == 1


def test_star_cc_converges_on_long_chain(spark):
    """A 30-node path has diameter 29: min-label needs ~29 rounds (and now
    RAISES at its default 15-round budget instead of silently returning
    partial labels), while large-star/small-star collapses it in O(log d)
    rounds — the scale claim, executed."""
    import pytest as _pytest

    from cernbox_migration_database_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 129)], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["cluster"]
        for r in connected_components_star(chain, max_iters=10).collect()
    }
    assert got == {i: 100 for i in range(100, 130)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=15)


def test_star_cc_matches_minlabel_on_random_graph(spark):
    """Both formulations must produce identical clusters on a multi-
    component random graph (fixed seed: reproducible)."""
    import random

    from cernbox_migration_database_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(45)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    star = {
        r["doc_id"]: r["cluster"]
        for r in connected_components_star(df).collect()
    }
    minlabel = {
        r["doc_id"]: r["cluster"]
        for r in connected_components(df, max_iters=60).collect()
    }
    assert star == minlabel and len(star) > 0


def test_simhash_hamming_pairs_exact_vs_bruteforce(spark, sf_dir):
    """The banding guarantee is exactness, so the bucketed pair set must
    EQUAL the brute-force all-pairs Hamming<=3 set on the fixture corpus
    (zero recall loss is the claim — verify it, don't trust it)."""
    from pyspark.sql import functions as F

    from cernbox_migration_database_spark.operators.dedup import (
        simhash64,
        simhash_hamming_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_hamming_pairs(docs).collect()
    }
    sigs = simhash64(docs).collect()
    sig = {r["doc_id"]: r["simhash"] for r in sigs}
    ids = sorted(sig)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = sum(x != y for x, y in zip(sig[a], sig[b]))
            if h <= 3:
                want.add((a, b, h))
    assert got == want and len(want) > 0

    # widened banding (the h<=5 scale configuration, 6 uneven bands of
    # 11/10 bits) keeps the exactness guarantee
    got5 = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_hamming_pairs(docs, max_hamming=5, n_bands=6).collect()
    }
    want5 = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = sum(x != y for x, y in zip(sig[a], sig[b]))
            if h <= 5:
                want5.add((a, b, h))
    assert got5 == want5 and len(want5) >= len(want)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_hamming_pairs(docs, max_hamming=4, n_bands=4)


def test_pq_seed_vectors_encode_to_themselves(spark, sf_dir):
    from cernbox_migration_database_spark.operators import similarity as S
    from cernbox_migration_database_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = S.pq_codebooks(emb)
    assert len(books) == S.PQ_M and len(books[0]) == S.PQ_K
    enc = S.pq_encode(emb, books)
    # a codebook source vector is distance 0 from its own entry in every
    # subspace, so it must encode to its own id (ties can't precede it:
    # dist 0 sorts first, and equal-dist ties break to the smaller code,
    # which can only happen for an identical duplicate subvector)
    seeds = enc.where(F.col("vec_id") < S.PQ_K).collect()
    assert len(seeds) == S.PQ_K * S.PQ_M
    mismatched = [r for r in seeds if r["code"] > r["vec_id"]]
    assert not mismatched
    # full corpus: every vector gets exactly m codes in [0, k)
    from pyspark.sql import functions as FF
    stats = enc.agg(
        FF.countDistinct("vec_id").alias("nv"),
        FF.count(FF.lit(1)).alias("n"),
        FF.min("code").alias("mn"),
        FF.max("code").alias("mx"),
    ).collect()[0]
    assert stats["n"] == stats["nv"] * S.PQ_M
    assert 0 <= stats["mn"] and stats["mx"] < S.PQ_K


def test_pq_adc_recall_vs_exact_l2(spark, sf_dir):
    """ADC recall@10 against exact scaled-L2 top-10. With 16 untrained
    seed codes per subspace on unclustered fixture vectors (PQ's worst
    case), measured mean recall is ~0.245 at sf0.01 — well above the
    ~0.02 random baseline; the bound asserts the separation, not the
    point value."""
    from pyspark.sql import Window as W

    from cernbox_migration_database_spark.operators import similarity as S
    from cernbox_migration_database_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = S.pq_codebooks(emb)
    codes = S.pq_encode(emb, books)
    q = emb.where(F.col("vec_id") < 20)
    adc = S.pq_adc_topk(codes, q, books, top_k=10)

    sv = emb.select("vec_id", S.scaled_vector(F.col("embedding")).alias("sv"))
    qs = sv.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("sv").alias("qv")
    )
    pairs = sv.crossJoin(F.broadcast(qs)).where(
        F.col("vec_id") != F.col("qid")
    )
    d = pairs.withColumn(
        "l2",
        F.aggregate(
            F.zip_with("sv", "qv", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    w = W.partitionBy("qid").orderBy("l2", "vec_id")
    exact: dict[int, set[int]] = {}
    for r in (
        d.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 10)
        .select("qid", "vec_id")
        .collect()
    ):
        exact.setdefault(r["qid"], set()).add(r["vec_id"])
    got: dict[int, set[int]] = {}
    for r in adc.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact[k] & got.get(k, set())) / 10 for k in exact]
    assert sum(recalls) / len(recalls) >= 0.10


def test_pagerank_hand_traced_path_graph(spark):
    from cernbox_migration_database_spark.operators.graph import (
        PR_SCALE,
        pagerank,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    # path 1-2-3, degrees 1/2/1, all ranks start at PR_SCALE:
    # round 1: r(1) = 0.15*S + 0.85*(S/2)       = 5_750_000
    #          r(2) = 0.15*S + 0.85*(S + S)     = 18_500_000
    #          r(3) = r(1)
    r1 = {r["doc_id"]: r["rank_scaled"] for r in pagerank(pairs, iterations=1).collect()}
    assert r1 == {1: 5_750_000, 2: 18_500_000, 3: 5_750_000}
    assert PR_SCALE == 10**7
    r3 = {r["doc_id"]: r["rank_scaled"] for r in pagerank(pairs, iterations=3).collect()}
    assert r3[1] == r3[3] and r3[2] > r3[1]


def test_prefix_filter_equals_naive_jaccard(spark):
    from cernbox_migration_database_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "en", "the quick brown fox jumps over the lazy dog today"),
            (2, "en", "the quick brown fox jumps over the lazy cat today"),
            (3, "en", "the quick brown fox leaps over the lazy dog today"),
            (4, "en", "completely different text with no shared shingles here"),
            (5, "de", "the quick brown fox jumps over the lazy dog today"),
            (6, "en", "another unrelated document about spark and parquet files"),
        ],
        "doc_id long, lang string, text string",
    )

    def canon(df):
        return sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in df.collect()
        )

    for t in (0.2, 0.5, 0.8):
        naive = canon(
            D.jaccard_pairs(docs, block_col="lang", k=3, threshold=t)
        )
        fast = canon(
            D.prefix_filter_pairs(docs, block_col="lang", k=3, threshold=t)
        )
        assert fast == naive, f"threshold {t}"
    # sanity: the graph is non-trivial (near-dups found, lang blocking held)
    pairs = {
        (a, b)
        for a, b, _ in canon(
            D.prefix_filter_pairs(docs, block_col="lang", k=3, threshold=0.2)
        )
    }
    # one changed word mid-sentence kills 3 of ~8 shingles: (1,3) lands at
    # J = 5/11 ~ 0.45, so it appears at t=0.2 but not t=0.5
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(5 in p for p in pairs)  # cross-language blocked


def test_pq_codebooks_validates_seed_rows_and_divisibility(spark):
    """ADVICE r3: sparse ids (missing seed rows) and d % m != 0 raise
    explicit errors instead of bare IndexError / silent tail-dim drop."""
    from cernbox_migration_database_spark.operators.similarity import (
        pq_codebooks,
    )

    sparse = spark.createDataFrame(
        [(0, [1.0] * 8), (7, [2.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="ids must be dense"):
        pq_codebooks(sparse, m=2, k=4)

    dense_bad_dim = spark.createDataFrame(
        [(i, [float(i)] * 7) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebooks(dense_bad_dim, m=2, k=4)


def test_ivf_pq_with_full_probe_equals_plain_adc(spark):
    """With nprobe = n_cells the IVF restriction admits every corpus vector,
    so the composite must equal full-corpus PQ-ADC row-for-row — the
    correctness anchor for the cell-restricted fast path."""
    from cernbox_migration_database_spark.operators.similarity import (
        ivf_pq_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
        seed_centroids,
    )
    from cernbox_migration_database_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = seed_centroids(emb, k=16)
    books = pq_codebooks(emb)
    queries = emb.where(F.col("vec_id") < 8)
    full = ivf_pq_topk(emb, queries, cents, books, nprobe=16, top_k=5)
    plain = pq_adc_topk(pq_encode(emb, books), queries, books, top_k=5)
    a = sorted(map(tuple, full.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b and len(a) == 8 * 5


def test_ivf_pq_restriction_is_subset_of_probed_cells(spark):
    """Every neighbor returned at nprobe=2 must live in one of the query's
    2 probed cells (the invariant that makes the scan-fraction claim real),
    and results must agree with plain ADC wherever the neighbor was
    admitted."""
    from cernbox_migration_database_spark.operators.similarity import (
        cell_of,
        ivf_pq_topk,
        pq_codebooks,
        probe_cells,
        seed_centroids,
        with_norm,
    )
    from cernbox_migration_database_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = seed_centroids(emb, k=16)
    books = pq_codebooks(emb)
    queries = emb.where(F.col("vec_id") < 8)
    got = ivf_pq_topk(emb, queries, cents, books, nprobe=2, top_k=5)
    cells = {
        r["vec_id"]: r["cell"]
        for r in with_norm(emb)
        .select("vec_id", cell_of(F.col("svec"), F.col("norm"), cents).alias("cell"))
        .collect()
    }
    probed = {
        r["vec_id"]: set(r["p"])
        for r in with_norm(queries)
        .select(
            "vec_id",
            probe_cells(F.col("svec"), F.col("norm"), cents, 2).alias("p"),
        )
        .collect()
    }
    for r in got.collect():
        assert cells[r["neighbor_id"]] in probed[r["query_id"]], r


def test_semantic_keep_prunes_all_within_cell_neardups(spark):
    """After SemDeDup-style pruning, the KEPT corpus contains no
    within-cell pair above the threshold (any such pair would have been
    merged into one cluster and all but the minimum dropped), and every
    cluster keeps exactly its minimum id."""
    from cernbox_migration_database_spark.queries import QUERIES

    out = QUERIES["dedup_semantic_keep"](spark, "/root/testdata/sf0.01")
    rows = out.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append((r["vec_id"], r["kept"]))
    for cluster, members in by_cluster.items():
        kept = [v for v, k in members if k]
        assert kept == [min(v for v, _ in members)] == [cluster]

    from cernbox_migration_database_spark.operators.similarity import (
        cell_of,
        cosine_near_dup_pairs,
        seed_centroids,
        with_norm,
    )
    from cernbox_migration_database_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cents = seed_centroids(emb, k=16)
    kept_ids = {r["vec_id"] for r in rows if r["kept"]}
    kept_df = with_norm(emb.where(F.col("vec_id").isin(list(kept_ids)))).withColumn(
        "cell", cell_of(F.col("svec"), F.col("norm"), cents)
    )
    leftover = cosine_near_dup_pairs(kept_df, block_col="cell", threshold=0.4)
    assert leftover.count() == 0


def test_repeated_spans_matches_sequential_reference(spark, sf_dir):
    """The distributed span dedup must equal the obvious sequential
    algorithm: scan documents in id order, keep a span's first occurrence,
    drop every later one, reassemble in position order."""
    from cernbox_migration_database_spark.queries import QUERIES
    from cernbox_migration_database_spark.sources.catalog import load_table

    docs = sorted(
        (r["doc_id"], r["text"])
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    )
    first = {}
    expected = {}
    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        segs = [" ".join(toks[i : i + 3]) for i in range(0, len(toks), 3)]
        for idx, seg in enumerate(segs):
            first.setdefault(seg, (doc_id, idx))
        kept = [
            seg for idx, seg in enumerate(segs) if first[seg] == (doc_id, idx)
        ]
        if segs:
            expected[doc_id] = (len(kept), len(segs) - len(kept), " ".join(kept))
    got = {
        r["doc_id"]: (r["n_kept"], r["n_dropped"], r["new_text"])
        for r in QUERIES["dedup_repeated_spans"](spark, sf_dir).collect()
    }
    assert got == expected
    assert any(d for _, d, _ in got.values())  # the fixture has real repeats


def test_mmr_rerank_prefers_diverse_over_redundant(spark):
    from cernbox_migration_database_spark.operators import similarity as S

    rows = [
        (0, [1.0, 0.0]),       # the query
        (1, [0.9, 0.1]),       # most relevant
        (2, [0.89, 0.11]),     # near-duplicate of 1 (cosine ~0.9998)
        (3, [0.5, -0.5]),      # diverse, lower relevance
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.mmr_rerank(
        df, query_id=0, k=3, pool_size=8, lam=0.5, pen_weight=0.5
    ).collect()
    order = [r.vec_id for r in out]
    # pure relevance would give [1, 2, 3]; MMR penalizes 2 for its
    # near-1.0 similarity to the already-picked 1 (score goes negative)
    # and promotes the diverse 3
    assert order == [1, 3, 2]
    assert [r.rank for r in out] == [1, 2, 3]
    # rank-1 score is pure lam*relevance (no selected set yet)
    assert abs(out[0].mmr_score - 0.5 * out[0].relevance) < 1e-9


def test_trained_pq_recall_pinned(spark):
    """R7 verdict item 3: TRAINED codebooks (per-subspace Lloyd,
    operators/similarity.py:pq_train_codebooks, frozen as literals in
    operators/pq_trained.py) must lift recall@10 vs exact scaled-L2 to
    >= 0.6 at sf0.01 — against the ~0.245 the untrained m=8/k=16 seeds
    deliver. nprobe=16 probes every IVF cell, so the composite equals
    full-corpus ADC and the number isolates codebook quality. Every
    quantity here is exact integer arithmetic over frozen inputs, so the
    measured recall is a constant (0.62 at freeze time), not a sample."""
    from pyspark.sql import Window as W

    from cernbox_migration_database_spark.operators import similarity as S
    from cernbox_migration_database_spark.operators.pq_trained import (
        TRAINED_PQ_CODEBOOKS,
        TRAINED_PQ_K,
        TRAINED_PQ_M,
    )
    from cernbox_migration_database_spark.sources.catalog import load_table

    assert len(TRAINED_PQ_CODEBOOKS) == TRAINED_PQ_M
    assert all(len(b) == TRAINED_PQ_K for b in TRAINED_PQ_CODEBOOKS)

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    cents = S.seed_centroids(emb, k=16)
    got_df = S.ivf_pq_topk(
        emb, q, cents, TRAINED_PQ_CODEBOOKS, nprobe=16, top_k=10
    )

    sv = emb.select(
        "vec_id", S.scaled_vector(F.col("embedding")).alias("sv")
    )
    qs = sv.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("sv").alias("qv")
    )
    pairs = sv.crossJoin(F.broadcast(qs)).where(
        F.col("vec_id") != F.col("qid")
    )
    d = pairs.withColumn(
        "l2",
        F.aggregate(
            F.zip_with("sv", "qv", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    w = W.partitionBy("qid").orderBy("l2", "vec_id")
    exact: dict[int, set[int]] = {}
    for r in (
        d.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 10)
        .select("qid", "vec_id")
        .collect()
    ):
        exact.setdefault(r["qid"], set()).add(r["vec_id"])

    def mean_recall(df):
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recs = [len(exact[k] & got.get(k, set())) / 10 for k in exact]
        return sum(recs) / len(recs)

    trained = mean_recall(got_df)
    assert trained >= 0.6, f"trained recall@10 = {trained}"
    # and strictly above the untrained seed floor
    seeds = S.pq_codebooks(emb)
    seed_recall = mean_recall(
        S.pq_adc_topk(S.pq_encode(emb, seeds), q, seeds, top_k=10)
    )
    assert trained > seed_recall + 0.2, (trained, seed_recall)


def test_pq_train_codebooks_shape_and_objective(spark):
    """The trainer itself: deterministic seed init, scaled-long entries,
    and Lloyd iterations do not worsen the quantization objective (total
    min squared distance; <= with a tiny slack for the per-iteration
    integer rounding of means)."""
    from cernbox_migration_database_spark.operators import similarity as S
    from cernbox_migration_database_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seeds = S.pq_codebooks(emb, m=8, k=16)
    trained = S.pq_train_codebooks(emb, m=8, k=16, iters=3)
    assert len(trained) == 8 and all(len(b) == 16 for b in trained)
    assert all(
        isinstance(v, int)
        for book in trained for entry in book for v in entry
    )

    def objective(books):
        codes = S.pq_encode(emb, books)
        lut = S.pq_query_lut(emb, books)
        return (
            codes.join(
                lut,
                (codes["vec_id"] == lut["query_id"])
                & (codes["sub_id"] == lut["sub_id"])
                & (codes["code"] == lut["code"]),
            )
            .agg(F.sum("d"))
            .first()[0]
        )

    assert objective(trained) <= objective(seeds) * 1.001


def test_trained_ivfpq_composite_recall_pinned(spark):
    """The fully trained composite (frozen Lloyd centroids + frozen
    per-subspace codebooks) must roughly DOUBLE recall@10 over the
    fully-seeded composite at the same nprobe=4/16 — measured 0.57 vs
    0.305 at sf0.01, pinned with margin. Deterministic: frozen literals,
    exact integer ranking."""
    from pyspark.sql import Window as W

    from cernbox_migration_database_spark.operators import similarity as S
    from cernbox_migration_database_spark.operators.ivf_trained import (
        TRAINED_IVF_CENTROIDS,
    )
    from cernbox_migration_database_spark.operators.pq_trained import (
        TRAINED_PQ_CODEBOOKS,
    )
    from cernbox_migration_database_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.where(F.col("vec_id") < 20)

    sv = emb.select(
        "vec_id", S.scaled_vector(F.col("embedding")).alias("sv")
    )
    qs = sv.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("sv").alias("qv")
    )
    pairs = sv.crossJoin(F.broadcast(qs)).where(
        F.col("vec_id") != F.col("qid")
    )
    d = pairs.withColumn(
        "l2",
        F.aggregate(
            F.zip_with("sv", "qv", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    w = W.partitionBy("qid").orderBy("l2", "vec_id")
    exact: dict[int, set[int]] = {}
    for r in (
        d.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 10)
        .select("qid", "vec_id")
        .collect()
    ):
        exact.setdefault(r["qid"], set()).add(r["vec_id"])

    def mean_recall(df):
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recs = [len(exact[k] & got.get(k, set())) / 10 for k in exact]
        return sum(recs) / len(recs)

    trained = mean_recall(
        S.ivf_pq_topk(
            emb, q,
            S.centroid_literals(spark, TRAINED_IVF_CENTROIDS),
            TRAINED_PQ_CODEBOOKS, nprobe=4, top_k=10,
        )
    )
    seeded = mean_recall(
        S.ivf_pq_topk(
            emb, q,
            S.seed_centroids(emb, k=16),
            S.pq_codebooks(emb), nprobe=4, top_k=10,
        )
    )
    assert trained >= 0.55, trained
    assert trained > seeded + 0.15, (trained, seeded)
