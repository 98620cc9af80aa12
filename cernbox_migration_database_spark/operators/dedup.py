"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:
  * exact dedup is a hash-groupBy — one shuffle on the fingerprint;
  * Jaccard pairs go through a shingle inverted index (explode + equi-join on
    the shingle) with blocking (here: language) — never a cross join;
  * MinHash/LSH replaces the full shingle join with a band-bucket join:
    candidate generation touches only rows sharing a band value, then exact
    Jaccard verifies just the candidates;
  * SimHash produces a 64-bit signature per document for Hamming-distance
    bucketing downstream.

Everything is md5-based so results are engine-reproducible (Spark's
xxhash64/hash are not portable to other engines); all hot paths are built-in
expressions, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..util import ensure_parallelism, tracked_persist
from .text import fingerprint, tokens

NUM_MINHASHES = 8
BAND_SIZE = 2  # 4 bands x 2 rows


def shingles_from_tokens(t: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (space-joined) from a *materialized* token
    array column. Two traps:
      * Spark's sequence(a, b) runs *descending* when b < a, so the
        fewer-than-k-tokens case must be guarded explicitly;
      * ``t`` MUST be a plain column reference — Catalyst does no common-
        subexpression elimination across higher-order lambdas, so passing the
        tokenize expression here would re-split the text once per element_at
        (measured 9x slowdown on the fixture corpus).
    """
    n = F.size(t)
    idx = F.sequence(F.lit(0), n - k)
    parts = lambda i: [F.element_at(t, i + j + 1) for j in range(k)]  # noqa: E731
    sh = F.transform(idx, lambda i: F.concat_ws(" ", *parts(i)))
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column | str, k: int = 3) -> Column:
    """Shingles directly from a text column — convenience form for small
    inputs/tests; hot paths go through _shingle_sets which materializes the
    token array first."""
    return shingles_from_tokens(tokens(text), k)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: one row per distinct
    fingerprint with the keeper (min id) and the copy count."""
    # No repartition here: shuffling full text bodies costs more than the
    # single-pass md5 (measured 1.35s vs 2.3s on the sf0.1 corpus) — the
    # groupBy ships only (fp, id).
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingle_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str | None,
    k: int,
    fanout: bool = True,
) -> DataFrame:
    # Three performance rules learned the hard way (each measured):
    #  1. repartition guard — a single-file input serializes everything
    #     onto one core (``fanout=False`` skips it for BOUNDED probe
    #     batches, where the repartition turns every consumer into a
    #     32-task stage over a handful of rows — r13, guide §2.4);
    #  2. tokens materialized as a column — no CSE across HOF lambdas
    #     (see shingles_from_tokens);
    #  3. persist the bare shingle projection BEFORE deriving n_sh/filter —
    #     CollapseProject would otherwise inline the whole shingle
    #     expression into size() and the filter, recomputing it 3x per row
    #     (6.2s -> 0.5s on the sf0.1 corpus).
    cols = [F.col(id_col), tokens(text_col).alias("__toks")]
    if block_col:
        cols.insert(1, F.col(block_col))
    toked = (ensure_parallelism(df) if fanout else df).select(*cols)
    keep = [id_col] + ([block_col] if block_col else [])
    sets = tracked_persist(
        toked.select(*keep, shingles_from_tokens(F.col("__toks"), k).alias("sh"))
    )
    return sets.withColumn("n_sh", F.size("sh")).filter(F.col("n_sh") > 0)


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact k-shingle Jaccard >= threshold.

    Inverted-index join: explode shingles, equi-join on (block, shingle),
    count intersections per pair, then |A u B| = |A| + |B| - |A n B|. The
    heavy join key includes the blocking column, which is also the natural
    salting lever for skewed shingles at scale.

    ``max_df`` is the skew guard: a shingle appearing in more than max_df
    documents (a "stop shingle" — boilerplate, headers) would contribute
    O(df^2) join pairs on one key and concentrate them in one shuffle
    partition. With the cap, document frequencies are counted first (a
    groupBy — map-side combine collapses the hot key, so the COUNT itself is
    skew-immune), the small hot set is broadcast-anti-joined away, and
    per-document sizes are recomputed so the result is exact Jaccard over
    the surviving shingle space on both engines.
    """
    sets_a = _shingle_sets(df, text_col, id_col, block_col, k)
    ex = sets_a.select(
        F.col(id_col), *( [F.col(block_col)] if block_col else [] ),
        F.col("n_sh"), F.explode("sh").alias("shingle"),
    )
    if max_df is not None:
        keys = ([block_col] if block_col else []) + ["shingle"]
        hot = (
            ex.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select(*keys)
        )
        ex = ex.join(F.broadcast(hot), keys, "left_anti")
        sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
        ex = (
            ex.drop("n_sh")
            .join(sizes, id_col)
            .withColumnRenamed("__n", "n_sh")
        )
    # NB: every column gets a side-specific alias — a self-join on a column
    # that keeps its attribute id on both sides degenerates into a
    # trivially-true predicate (Spark warns and mis-joins).
    a = ex.select(
        F.col(id_col).alias("ia"), F.col("n_sh").alias("na"),
        F.col("shingle").alias("sh_a"),
        *([F.col(block_col).alias("ba")] if block_col else []),
    )
    b = ex.select(
        F.col(id_col).alias("ib"), F.col("n_sh").alias("nb"),
        F.col("shingle").alias("sh_b"),
        *([F.col(block_col).alias("bb")] if block_col else []),
    )
    cond = (a.ia < b.ib) & (a.sh_a == b.sh_b)
    if block_col:
        cond = cond & (a.ba == b.bb)
    inter = (
        a.join(b, cond)
        .groupBy("ia", "ib", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b"), "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """DIRECTED near-duplicate pairs by exact k-shingle containment
    ``|A∩B| / |A|`` — the asymmetric twin of :func:`jaccard_pairs` that
    catches sub-document duplication Jaccard misses: a short doc fully
    embedded in a long one has containment 1.0 but Jaccard ≈ |A|/|B|.
    Same inverted-index join (one undirected ``ia < ib`` pass — never the
    doubled ``ia != ib`` shuffle); both directions are emitted from each
    undirected intersection row and thresholded independently."""
    sets_a = _shingle_sets(df, text_col, id_col, block_col, k)
    ex = sets_a.select(
        F.col(id_col), *([F.col(block_col)] if block_col else []),
        F.col("n_sh"), F.explode("sh").alias("shingle"),
    )
    a = ex.select(
        F.col(id_col).alias("ia"), F.col("n_sh").alias("na"),
        F.col("shingle").alias("sh_a"),
        *([F.col(block_col).alias("ba")] if block_col else []),
    )
    b = ex.select(
        F.col(id_col).alias("ib"), F.col("n_sh").alias("nb"),
        F.col("shingle").alias("sh_b"),
        *([F.col(block_col).alias("bb")] if block_col else []),
    )
    cond = (a.ia < b.ib) & (a.sh_a == b.sh_b)
    if block_col:
        cond = cond & (a.ba == b.bb)
    inter = (
        a.join(b, cond)
        .groupBy("ia", "ib", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    fwd = inter.select(
        F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b"),
        (F.col("inter").cast("double") / F.col("na")).alias("containment"),
    )
    rev = inter.select(
        F.col("ib").alias("doc_a"), F.col("ia").alias("doc_b"),
        (F.col("inter").cast("double") / F.col("nb")).alias("containment"),
    )
    return fwd.unionAll(rev).filter(F.col("containment") >= threshold)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = NUM_MINHASHES,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: h_i = min(md5(i || '|' || shingle)).
    md5-hex min is engine-portable; one groupBy over the exploded shingles
    computes all hashes in a single pass (no per-seed shuffle). Pass a
    precomputed ``sets_df`` to avoid re-tokenizing."""
    if sets_df is None:
        sets_df = _shingle_sets(df, text_col, id_col, None, k)
    ex = sets_df.select(
        F.col(id_col), F.col("n_sh"), F.explode("sh").alias("shingle")
    ).withColumn("hex", F.md5(F.col("shingle")))
    # All hashes sliced from ONE md5 (16 bits each — plenty for candidate
    # generation since exact Jaccard verifies afterwards); computing
    # num_hashes separate md5s measured ~1s slower on the sf0.1 corpus.
    aggs = [
        F.min(F.substring(F.col("hex"), 4 * i + 1, 4)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy(id_col, "n_sh").agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_MINHASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Band the signatures and emit distinct candidate pairs sharing >=1 band
    value. This join touches only same-bucket rows — the 100 TB-safe path
    (vs the full inverted-index join of jaccard_pairs)."""
    n_bands = num_hashes // band_size
    band_vals = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"h{bnd * band_size + r}") for r in range(band_size)]
            )
        )
        for bnd in range(n_bands)
    ]
    # One pass: posexplode the band-value array instead of a union of N
    # selects (a union would re-run the signature aggregation N times).
    bands = sigs.select(
        F.col(id_col), F.posexplode(F.array(*band_vals)).alias("band", "bv")
    )
    # Bucket-aggregate instead of a self-join: group ids per (band, bv)
    # bucket and expand pairs inside the array. One aggregation + one
    # distinct = two shuffles, vs three for join+distinct, and no join hash
    # table. Grouping on (band, bv) keeps band POSITION in the key — an
    # earlier self-join formulation lost it to an un-aliased-column
    # trivially-true predicate and paired values across band positions.
    # Pair fan-out per bucket is quadratic in bucket size for BOTH
    # formulations (inherent to LSH banding); array_sort gives ia < ib.
    buckets = (
        bands.groupBy("band", "bv")
        .agg(F.collect_set(F.col(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.array_sort("ids").alias("ids"))
    )
    # (x, i) lambda = (element, index); slice is 1-based, so i+2 starts at
    # the element AFTER x and over-length is clamped.
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("ia"), y.alias("ib")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
        .distinct()
    )


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Public form of the persisted per-document shingle-set projection
    (id, sh, n_sh) — lets a pipeline that needs the same shingles for a
    LATER stage (e.g. decontamination after near-dedup) tokenize the
    corpus once and share the cached sets."""
    return _shingle_sets(df, text_col, id_col, None, k).select(
        F.col(id_col), "sh", "n_sh"
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> band buckets ->
    candidate pairs -> exact Jaccard verification on candidates only.

    The shingle-set DataFrame is persisted (inside _shingle_sets) and shared
    between signature computation and verification. The verification join is
    deliberately NOT broadcast-hinted: on a near-dup-heavy 100 TB crawl the
    LSH candidate-pair set is billions of rows (not driver-sized), so a
    broadcast hint is a driver OOM at scale. AQE picks broadcast on its own
    whenever the candidate set measures under the auto-broadcast threshold,
    so small inputs keep the broadcast plan without the unsafe hint.
    Pass ``sets_df`` (from :func:`shingle_sets`) to reuse an
    already-persisted shingle projection instead of re-tokenizing.
    """
    if sets_df is None:
        sets_df = shingle_sets(df, text_col, id_col, k)
    sigs = minhash_signatures(df, text_col, id_col, k, sets_df=sets_df)
    cands = lsh_candidate_pairs(sigs, id_col)
    sa = sets_df.select(
        F.col(id_col).alias("ia"), F.col("sh").alias("sa"), F.col("n_sh").alias("na")
    )
    sb = sets_df.select(
        F.col(id_col).alias("ib"), F.col("sh").alias("sb"), F.col("n_sh").alias("nb")
    )
    verified = (
        cands.join(sa, "ia")
        .join(sb, "ib")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(
        F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b"), "jaccard"
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 15,
) -> DataFrame:
    """Cluster near-duplicate PAIRS into components: each node gets the
    minimum id reachable from it (the canonical "keep one doc per dup
    cluster" step after pair generation).

    Iterative min-label propagation: per round, every node takes the min of
    its own label and its neighbors' labels (one equi-join + one groupBy
    min). Converges in graph-diameter rounds — near-dup clusters are
    shallow, so this terminates in a handful of passes; the loop stops
    early via a monotone invariant (labels only decrease, so the global
    label sum strictly decreases until fixpoint — one cheap agg action per
    round, no extra join). Each round's labels are persisted and lineage is
    cut so plan depth stays constant. For billion-edge skewed graphs the
    two-phase large-star/small-star variant replaces this inner step; the
    driver loop shape is identical.
    """
    both = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = tracked_persist(
        both.unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        ).distinct()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    labels = tracked_persist(labels)
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iters):
        neigh = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label")), "dst"
            )
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
            .select(F.col("src").alias("id"), "nlabel")
        )
        # localCheckpoint: materializes this round's labels and cuts lineage
        # (block cleanup is handled by the context cleaner when the previous
        # round's RDD goes unreferenced).
        labels = labels.join(neigh, "id", "left").select(
            F.col("id"),
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
        ).localCheckpoint()
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # The monotone label-sum check proves non-convergence here: silently
        # returning partial labels would surface downstream as an
        # unexplained differential red (the recursive-CTE oracles compute
        # the true closure). Fail loudly instead — a component with
        # diameter > max_iters needs a bigger budget (or the
        # large-star/small-star variant, which converges in O(log d)).
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"(label sum still decreasing: {prev_sum}); raise max_iters or "
            "switch to the large-star/small-star iteration"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster"))


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components by LARGE-STAR / SMALL-STAR alternation — the
    billion-edge-scale variant the min-label fixpoint
    (:func:`connected_components`) documents as its swap-in.

    Why it scales where min-label doesn't: min-label needs graph-DIAMETER
    rounds and keeps the full edge relation live every round; star
    alternation converges in O(log d) rounds and each round REWRITES the
    edge set toward a star (every edge ends up (member, component-min)),
    so long chains collapse exponentially. Each half-round is one
    aggregate + one equi-join — no neighbor-list materialization:

      large-star: every node points its LARGER neighbors at the minimum
                  of its closed neighborhood;
      small-star: every node and its SMALLER neighbors re-attach to the
                  minimum of the smaller side.

    (Kiveris et al., "Connected Components in MapReduce and Beyond" — a
    public algorithm; re-expressed here as DataFrame joins.)

    Convergence = edge-set fixpoint, tested EXACTLY: same edge count AND an
    empty anti-join of new-vs-previous (a hash/sum signature would be
    probabilistic — a collision would silently stop early with wrong
    labels — and summing 64-bit hashes overflows under ANSI). Two
    metadata-sized actions per round, same budget class as min-label's
    label-sum check. Raises on max_iters exhaustion (silent partial labels
    would surface as an unexplained differential red).
    """
    a, b = F.col(a_col), F.col(b_col)
    nodes = tracked_persist(
        pairs.select(a.alias("id"))
        .unionByName(pairs.select(b.alias("id")))
        .distinct()
    )
    e = (
        pairs.select(F.greatest(a, b).alias("hi"), F.least(a, b).alias("lo"))
        .where(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint()
    )
    prev_n = None
    for _ in range(max_iters):
        bidir = e.select(
            F.col("hi").alias("u"), F.col("lo").alias("v")
        ).unionByName(e.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
        mins = bidir.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("u", "mv").alias("m"))
        large = (
            bidir.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(
                F.greatest("v", "m").alias("hi"), F.least("v", "m").alias("lo")
            )
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        mins2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            large.join(mins2, "hi")
            .select(F.col("lo").alias("x"), "m")
            .unionByName(mins2.select(F.col("hi").alias("x"), "m"))
            .select(
                F.greatest("x", "m").alias("hi"), F.least("x", "m").alias("lo")
            )
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        prev_e = e
        e = small.localCheckpoint()
        n = e.count()
        if prev_n == n and (
            e.join(prev_e, ["hi", "lo"], "left_anti").limit(1).count() == 0
        ):
            break
        prev_n = n
    else:
        raise RuntimeError(
            f"connected_components_star did not reach an edge fixpoint in "
            f"{max_iters} rounds"
        )
    roots = e.groupBy("hi").agg(F.min("lo").alias("root"))
    return nodes.join(roots, nodes["id"] == roots["hi"], "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce(F.col("root"), F.col("id")).alias("cluster"),
    )


def label_propagation(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    iterations: int = 3,
    weight_col: str | None = None,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation: every node
    starts labeled with its own id; each round, every node adopts the most
    frequent label among its neighbors, ties broken toward the smallest
    label. A fixed iteration count with a total tie-break order makes the
    algorithm fully deterministic — the asynchronous/randomized LPA of the
    literature is not, and could never be differentially tested. Unlike
    :func:`connected_components` (min-label fixpoint = transitive closure),
    frequency voting can split a weakly-bridged component into denser
    communities.

    Per round: one equi-join of the edge list against the label table plus
    two aggregations — count per (node, neighbor label), then an argmax per
    node via a single ``max(struct(count, -label))`` (no window, map-side
    combinable). Labels are re-materialized each round with lineage cut, so
    plan depth stays constant; edge state is partition-stable across rounds.

    ``weight_col``: when set, votes are ``SUM(weight)`` per neighbor label
    instead of ``COUNT(*)`` — weighted LPA, where a strong near-duplicate
    edge counts for more than a borderline one. Pass an INTEGER weight
    (e.g. floor(jaccard * 1e6)) so the vote sums stay exact and
    order-independent; float weights would make the argmax engine- and
    partitioning-dependent. Same plan shape and cost either way.
    """
    w_cols = [F.col(weight_col).alias("w")] if weight_col else []
    both = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst"), *w_cols
    )
    edges = tracked_persist(
        both.unionByName(
            pairs.select(
                F.col(b_col).alias("src"), F.col(a_col).alias("dst"), *w_cols
            )
        ).distinct()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    vote = F.sum("w") if weight_col else F.count(F.lit(1))
    for _ in range(iterations):
        cnt = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label")), "dst"
            )
            .groupBy("src", "label")
            .agg(vote.alias("c"))
        )
        # argmax by (count DESC, label ASC): max over (c, -label) structs
        best = cnt.groupBy("src").agg(
            F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m")
        )
        labels = best.select(
            F.col("src").alias("id"), (-F.col("m.nl")).alias("label")
        ).localCheckpoint()
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("community")
    )


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document as a '0'/'1' bitstring.

    Bit j of token t = bit (3 - j%4) of hex digit j//4 of md5(t); the
    signature bit is the sign of the +/-1 vote sum over distinct tokens.
    Pure integer/string arithmetic (instr-based hex decode) so any engine
    reproduces it exactly.

    Plan shape: ONE row per (doc, token), aggregated by a single
    groupBy(doc). The earlier formulation exploded sequence(0,63) per
    token — same answer, but 64x the shuffle rows; the vote-column form
    keeps the shuffle linear in token count and every sum map-side
    combinable (a constant factor that dominates at corpus scale). Vote
    sign uses sum(vote_j) = 2*sum(bit_j) - n_tokens, so only 0/1 bits and
    one count are aggregated.

    The 64 bit-sums are BIT-SLICE PACKED, 3 counters of 21 bits per
    BIGINT (r12 verdict item 7): 22 packed sums + one count instead of 65
    aggregation buffers — a third of the aggregate state and of the
    generated-class size (the 65-agg codegen compile dominated the cold
    run), with identical signatures (A/B-asserted on the sf0.1 corpus).
    21-bit counters are exact up to 2^21-1 distinct tokens per document
    (~2 M unique words — far beyond any real document). Past that a slice
    sum can carry into its neighbour and silently flip signature bits, so
    a document at or above the limit fails the query instead.
    """
    toks = (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
        )
        .withColumn("hex", F.md5("tok"))
        # decode the 64 signature bits as TWO 32-bit integers up front
        # (conv is one string pass each); per-bit extraction is then a
        # shift+mod on a long — vs the earlier per-bit instr+substring,
        # 64 string scans per token, which dominated the eval cost
        .withColumn("h1", F.conv(F.substring("hex", 1, 8), 16, 10).cast("long"))
        .withColumn("h2", F.conv(F.substring("hex", 9, 8), 16, 10).cast("long"))
    )

    def _bit(j: int) -> Column:
        # bit (3 - j%4) of hex digit j//4 == bit (31 - j) of the big-endian
        # 32-bit word holding digits 0-7 (word h1 for j<32, h2 shifted)
        if j < 32:
            return F.shiftright(F.col("h1"), 31 - j) % 2
        return F.shiftright(F.col("h2"), 63 - j) % 2

    aggs = []
    for q in range(22):
        term = None
        for slot, j in enumerate(
            j for j in (3 * q, 3 * q + 1, 3 * q + 2) if j < 64
        ):
            t = F.shiftleft(_bit(j), 21 * slot)
            term = t if term is None else term + t
        aggs.append(F.sum(term).alias(f"p{q}"))
    aggs.append(F.count(F.lit(1)).alias("n_tok"))
    votes = toks.groupBy(id_col).agg(*aggs)

    def _s(j: int) -> Column:
        q, slot = divmod(j, 3)
        return F.shiftright(F.col(f"p{q}"), 21 * slot).bitwiseAND(
            F.lit((1 << 21) - 1)
        )

    sig = F.concat(
        *[
            F.when(2 * _s(j) - F.col("n_tok") >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for j in range(64)
        ]
    )
    exact = F.col("n_tok") < F.lit(1 << 21)
    too_long = F.raise_error(
        F.concat(
            F.lit("simhash64: document "),
            F.col(id_col).cast("string"),
            F.lit(" has "),
            F.col("n_tok").cast("string"),
            F.lit(" distinct tokens; the packed counters are exact only "
                  "below 2^21"),
        )
    )
    return votes.select(
        F.col(id_col), F.when(exact, sig).otherwise(too_long).alias("simhash")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance — the pairing step
    that completes the simhash path (signatures alone don't dedup).

    Candidate generation is EXACT, not probabilistic: the 64-bit signature
    splits into ``n_bands`` contiguous bands (default ``max_hamming + 1``,
    so 4x16 bits for the default h=3), and two signatures within Hamming
    distance h < n_bands differ in at most h bands, so by pigeonhole they
    share at least one band VERBATIM — a bucket equi-join finds every
    qualifying pair (no recall loss, unlike MinHash-LSH banding).
    Verification then computes the exact distance on candidates only.

    ``n_bands`` is the scale knob (r3 verdict note): MORE bands than the
    h+1 minimum means SHORTER band values, denser buckets, and more
    candidates to verify; fewer is impossible (pigeonhole breaks). At
    corpus scale the failure mode is the opposite — short bands (e.g.
    16 bits = 65k distinct values) saturate by birthday collision, so a
    larger-h caller picks the minimum bands for their h (6 bands of ~11
    bits for h<=5) and occupancy per bucket stays flat as the corpus
    grows only if band entropy exceeds log2(corpus); beyond that the
    right move is a longer signature, not more bands. Widths distribute
    64 bits as evenly as possible (e.g. 6 -> 11,11,11,11,10,10).

    Plan shape mirrors lsh_candidate_pairs: posexplode band values,
    bucket-aggregate pair expansion (no self-join), then one join back to
    the signature table and a row-local 64-position compare. All string/
    integer arithmetic — the DuckDB oracle reproduces every bit.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    if not max_hamming < n_bands <= 64:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < n_bands <= 64, "
            f"got h={max_hamming}, n_bands={n_bands}"
        )
    sigs = tracked_persist(simhash64(df, text_col, id_col))
    widths = [64 // n_bands + (1 if b < 64 % n_bands else 0) for b in range(n_bands)]
    starts = [sum(widths[:b]) for b in range(n_bands)]
    band_vals = [
        F.substring("simhash", starts[b] + 1, widths[b]) for b in range(n_bands)
    ]
    bands = sigs.select(
        F.col(id_col), F.posexplode(F.array(*band_vals)).alias("band", "bv")
    )
    buckets = (
        bands.groupBy("band", "bv")
        .agg(F.collect_set(F.col(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.array_sort("ids").alias("ids"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("ia"), y.alias("ib")),
            ),
        )
    )
    cands = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("ia"), F.col("simhash").alias("_sa"))
    sb = sigs.select(F.col(id_col).alias("ib"), F.col("simhash").alias("_sb"))
    ham = F.aggregate(
        F.sequence(F.lit(1), F.lit(64)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            F.substring(F.col("_sa"), i, F.lit(1))
            != F.substring(F.col("_sb"), i, F.lit(1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        cands.join(sa, "ia")
        .join(sb, "ib")
        .withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select(
            F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b"), "hamming"
        )
    )


def contamination_overlap(
    df: DataFrame,
    is_eval: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    k: int = 3,
) -> DataFrame:
    """Train/eval decontamination: for every train-split document, count the
    distinct k-gram shingles it shares with ANY eval-split document and how
    many eval docs it collides with — the pre-training hygiene step that
    catches benchmark leakage before a model memorizes its own test set.
    ``is_eval`` is any deterministic boolean column (the catalog query uses
    a content-hash split so the partition is reproducible cross-engine).

    Plan shape = the jaccard_pairs inverted index applied ACROSS the two
    splits: shingle sets built once (persisted — CollapseProject would
    otherwise recompute the HOF pipeline per consumer, see _shingle_sets),
    exploded to (doc, shingle) postings, equi-joined on (block, shingle) —
    never a cross join — then aggregated per train doc. At 100 TB the eval
    side is a benchmark suite (tiny), so AQE broadcasts its posting list and
    the train corpus never shuffles; the two count-distincts expand the
    joined rows 2x, which is bounded by collision count, not corpus size.
    """
    toked = ensure_parallelism(df).select(
        F.col(id_col),
        F.col(block_col),
        is_eval.alias("__is_eval"),
        tokens(text_col).alias("__toks"),
    )
    sets = tracked_persist(
        toked.select(
            id_col,
            block_col,
            "__is_eval",
            shingles_from_tokens(F.col("__toks"), k).alias("sh"),
        )
    )
    ex = sets.filter(F.size("sh") > 0).select(
        id_col, block_col, "__is_eval", F.explode("sh").alias("shingle")
    )
    train = ex.filter(~F.col("__is_eval")).select(
        F.col(id_col).alias("train_doc"), F.col(block_col), "shingle"
    )
    ev = ex.filter(F.col("__is_eval")).select(
        F.col(id_col).alias("eval_doc"), F.col(block_col), "shingle"
    )
    return (
        train.join(ev, [block_col, "shingle"])
        .groupBy("train_doc")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """EXACT Jaccard-threshold pairs via prefix filtering (the AllPairs /
    PPJoin candidate scheme — Bayardo et al. WWW'07, Xiao et al. WWW'08).

    The inverted-index join (jaccard_pairs) indexes EVERY shingle of every
    document; prefix filtering indexes only each document's first
    ``n - ceil(t*n) + 1`` shingles under one global token order, because
    two sets with Jaccard >= t must share at least one token inside those
    prefixes (any total order works for correctness; ordering by ascending
    document frequency makes prefixes maximally rare, which is what
    shrinks the candidate join). At t=0.8 the indexed fraction is ~20% of
    tokens and candidates collapse correspondingly — the difference
    between feasible and not on a 10^9-document corpus. Candidates are
    then verified with a row-local array_intersect against the full
    (persisted) sets, so the exact result is IDENTICAL to the naive
    threshold join — which is precisely what the catalog differential
    proves (same oracle SQL as dedup_ngram_jaccard).

    Plan: freq groupBy (map-side combinable), one per-document window to
    rank tokens rare-first (partitioned by doc — scales with documents),
    prefix inverted-index self-join, distinct candidate pairs, broadcast-
    friendly verification join against the set table.
    """
    sets = _shingle_sets(df, text_col, id_col, block_col, k)
    bcols = [block_col] if block_col else []
    ex = sets.select(
        F.col(id_col), *[F.col(c) for c in bcols],
        F.col("n_sh"), F.explode("sh").alias("shingle"),
    )
    freq = ex.groupBy(*bcols, "shingle").agg(
        F.count(F.lit(1)).alias("__df")
    )
    exf = ex.join(freq, [*bcols, "shingle"])
    w = W.partitionBy(id_col).orderBy("__df", "shingle")
    pref_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    )
    prefix = (
        exf.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= pref_len)
        .select(F.col(id_col), *[F.col(c) for c in bcols], "shingle")
    )
    a = prefix.select(
        F.col(id_col).alias("ia"), F.col("shingle").alias("sh_a"),
        *[F.col(c).alias(f"ba_{c}") for c in bcols],
    )
    b = prefix.select(
        F.col(id_col).alias("ib"), F.col("shingle").alias("sh_b"),
        *[F.col(c).alias(f"bb_{c}") for c in bcols],
    )
    cond = (F.col("ia") < F.col("ib")) & (F.col("sh_a") == F.col("sh_b"))
    for c in bcols:
        cond = cond & (F.col(f"ba_{c}") == F.col(f"bb_{c}"))
    cand = (
        a.join(b, cond)
        .select("ia", "ib", *[F.col(f"ba_{c}").alias(c) for c in bcols])
        .distinct()
    )
    sa = sets.select(
        F.col(id_col).alias("ia"), *[F.col(c) for c in bcols],
        F.col("sh").alias("sa"), F.col("n_sh").alias("na"),
    )
    sb = sets.select(
        F.col(id_col).alias("ib"), *[F.col(c) for c in bcols],
        F.col("sh").alias("sb"), F.col("n_sh").alias("nb"),
    )
    v = cand.join(sa, ["ia", *bcols]).join(sb, ["ib", *bcols])
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        v.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b"), "jaccard"
        )
    )
