"""Training-data pipeline ops: packing, chunking, decontamination, mixture weights, BPE, shard manifests, splits.

Split out of the monolithic queries.py (round 8); registration behavior
is identical — every ``@register`` feeds the shared registry in
``._registry`` and the public names re-export through the package root.
"""

from __future__ import annotations

from ..operators import bpe as BPE
from ..operators import dedup as D
from ..operators import langid as LID
from ..operators import pii as PII
from ..operators import shard as SH
from ..operators import sketches as SK
from ..operators import text as TX
from ..util import (
    ensure_parallelism,
    fanout_barrier,
    global_rank,
    stage_checkpoint,
    tracked_persist,
)
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from ._registry import PHASED, STAGE_TIMES, _t, _versioned_scratch, register
from .dedup import _SHINGLES, _minhash_bands_sql, _minhash_sigs_sql
from .text import _TOKS


@register(
    "train_weighted_sample",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             1.0 + len({_TOKS}) / 64.0 AS w,
             (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ws'),
                                     1, 13) AS BIGINT) + 1)
               / 4503599627370496.0 AS u
      FROM documents),
    r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY ln(u) / w DESC, doc_id) AS rank
      FROM t)
    SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id
    FROM r WHERE rank <= 20
    ORDER BY lang, rank
    """,
)
def train_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    each document draws key ln(u)/w — u a deterministic md5-derived
    uniform in (0,1], w its weight (here 1 + tokens/64, standing in for a
    quality score) — and the top 20 keys per language stratum are the
    sample, selected with probability proportional to weight. One pass,
    fully distributed: the key is row-local arithmetic (no data-dependent
    state), the top-n is a per-stratum window, so parallelism scales with
    strata; at 100 TB a giant stratum switches to the two-phase
    per-partition-top-n + merge trick (topk_orders' plan). Deterministic
    across engines and reruns unlike rand()/sampleBy — the one caveat is
    ln()'s sub-ulp libm variance, which can only matter on near-tied keys
    (probability ~0 on real data); the differential therefore compares the
    SELECTION (lang, rank, doc_id), never the float keys."""
    d = _t(spark, sf_dir, "documents")
    tc = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ws"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ).cast("double") / F.lit(float(2**52))
    key = F.log(u) / (F.lit(1.0) + tc.cast("double") / F.lit(64.0))
    w = W.partitionBy("lang").orderBy(F.col("__k").desc(), "doc_id")
    return (
        d.withColumn("__k", key)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("lang", "rank", "doc_id")
        .orderBy("lang", "rank")
    )


@register(
    "train_shuffle",
    """
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY md5(doc_id::VARCHAR || ':epoch7'),
                              doc_id) AS rank
    FROM documents
    """,
)
def train_shuffle(spark, sf_dir):
    """Deterministic global shuffle for training epochs: a content-hash
    sort key gives the same permutation on any cluster size or engine
    (df.orderBy(rand(seed)) is partition-layout-dependent — useless for
    reproducible epochs). Seed goes in the hashed string.

    The materialized global rank uses the classic two-pass partition-offset
    scheme instead of ``row_number`` over an UNPARTITIONED window (which
    Spark executes as a SINGLE task — the whole corpus through one core):

      1. range-repartition on the hash key (the same exchange a global
         orderBy pays — range partition i holds keys strictly below
         partition i+1's), sort within partitions;
      2. ``monotonically_increasing_id`` = (partitionId << 33) | localRow,
         assigned in the sorted row order, all map-side;
      3. one metadata-sized job collects per-partition counts (#partitions
         rows — same class as the IVF k-means centroid collects), prefix-
         sums them driver-side, and rejoins as a broadcast literal map;
      4. global rank = offset[pid] + localRow + 1 — every pass parallel.

    The persisted midpoint guarantees the count job and the final job see
    the SAME physical layout (range-sampling boundaries are resolved once).
    """
    d = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch7")))
    return global_rank(
        d.select("doc_id", key.alias("_k")), ["_k", "doc_id"]
    ).select("doc_id", "rank")


@register(
    "train_token_packing",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tok
      FROM documents),
    ordered AS (
      SELECT doc_id, lang, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks)
    SELECT doc_id, lang, n_tok,
           CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS bin
    FROM ordered
    """,
)
def train_token_packing(spark, sf_dir):
    """Token-budget packing for training batches: documents are laid out in
    a deterministic content-hash order and greedily packed into 512-token
    bins via a running token sum — bin = floor(preceding_tokens / budget).
    The hash order makes the packing stable across engines, reruns, and
    partition counts — df.sample-style RNG never is.

    TWO-LEVEL running sum, so parallelism is |langs| x 16 instead of
    |langs| (a real corpus has a handful of languages — a per-lang window
    serializes each language's whole token stream through one reducer at
    scale). The chunk key is the FIRST HEX CHAR of the same md5 used for
    ordering, so sorting by (chunk, md5) IS sorting by md5 — the two-level
    cumulative sum is exactly the per-lang one:

      1. window per (lang, chunk): within-chunk running sum, 16x the
         parallelism, same shuffle volume;
      2. per-(lang, chunk) token totals -> a |langs|x16-row table; prefix-
         sum those per lang (a window over the tiny aggregate, itself
         partitioned) -> the offset each chunk starts at;
      3. broadcast-join offsets back; global cum = chunk offset + within-
         chunk cum. For still-finer grain, widen the prefix to 2 hex chars
         (256 chunks/lang) — same plan.
    """
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", F.size(TX.tokens("text")).cast("long").alias("n_tok")
    )
    return _pack_bins_two_level(base)


def _pack_bins_two_level(base: DataFrame, budget: int = 512) -> DataFrame:
    """Two-level deterministic token packing (see train_token_packing's
    docstring for the full rationale): input (doc_id, lang, n_tok) ->
    output + ``bin``. Equivalent to a per-lang hash-ordered running sum,
    at |langs| x 16 parallelism."""
    k = F.md5(F.col("doc_id").cast("string"))
    base = tracked_persist(
        base.select(
            "doc_id",
            "lang",
            "n_tok",
            k.alias("_k"),
            F.substring(k, 1, 1).alias("_chunk"),
        )
    )
    w_in = (
        W.partitionBy("lang", "_chunk")
        .orderBy("_k", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    within = base.select(
        "doc_id",
        "lang",
        "n_tok",
        "_chunk",
        F.sum("n_tok").over(w_in).alias("_cum_in"),
    )
    w_off = (
        W.partitionBy("lang")
        .orderBy("_chunk")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = (
        base.groupBy("lang", "_chunk")
        .agg(F.sum("n_tok").alias("_tot"))
        .select(
            "lang",
            "_chunk",
            F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    return within.join(F.broadcast(offsets), ["lang", "_chunk"]).select(
        "doc_id",
        "lang",
        "n_tok",
        F.floor(
            (F.col("_off") + F.col("_cum_in") - F.col("n_tok")) / float(budget)
        )
        .cast("long")
        .alias("bin"),
    )


@register(
    "train_chunking",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    nchunks AS (
      SELECT doc_id, lang, t, len(t) AS n,
             CASE WHEN len(t) = 0 THEN 0
                  WHEN len(t) <= 128 THEN 1
                  ELSE CAST(ceil((len(t) - 128) / 96.0) AS BIGINT) + 1
             END AS n_chunks
      FROM toks),
    chunks AS (
      SELECT doc_id, lang, n,
             unnest(generate_series(0, CAST(n_chunks AS INTEGER) - 1)) AS chunk_id
      FROM nchunks WHERE n_chunks > 0),
    sliced AS (
      SELECT c.doc_id, c.lang, CAST(c.chunk_id AS BIGINT) AS chunk_id,
             list_slice(t.t, c.chunk_id * 96 + 1,
                        LEAST(c.chunk_id * 96 + 128, c.n)) AS ct
      FROM chunks c JOIN toks t ON t.doc_id = c.doc_id)
    SELECT doc_id, lang, chunk_id,
           CAST(len(ct) AS BIGINT) AS n_tok,
           md5(array_to_string(ct, ' ')) AS chunk_fp
    FROM sliced
    """,
)
def train_chunking(spark, sf_dir):
    """Fixed-window document chunking with overlap — how long documents
    become training sequences: 128-token chunks at stride 96 (32-token
    overlap), last chunk truncated, every token covered. Pure row-local
    array math (sequence -> posexplode -> slice): chunk count from the
    closed form ceil((n-128)/96)+1, the chunk itself a slice of the
    materialized token array — no shuffle at all, output is
    chunk-fingerprinted (md5) rather than re-emitting text so the result
    stays hashable and the dedup-ready id travels with each chunk. At
    100 TB this is the mapper between corpus and sequence store; the
    explode multiplies rows ~n/stride, all map-side."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", TX.tokens("text").alias("_t")
    ).withColumn("_n", F.size("_t"))
    n_chunks = (
        F.when(F.col("_n") == 0, F.lit(0))
        .when(F.col("_n") <= 128, F.lit(1))
        .otherwise(F.ceil((F.col("_n") - 128) / 96.0) + 1)
        .cast("int")
    )
    ex = base.withColumn("_nc", n_chunks).where(F.col("_nc") > 0).select(
        "doc_id",
        "lang",
        "_t",
        "_n",
        F.posexplode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias(
            "_pos", "chunk_id"
        ),
    )
    ct = F.slice(
        F.col("_t"),
        F.col("chunk_id") * 96 + 1,
        F.least(
            F.col("chunk_id") * 96 + F.lit(128), F.col("_n")
        )
        - F.col("chunk_id") * 96,
    )
    return ex.select(
        "doc_id",
        "lang",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(ct).cast("long").alias("n_tok"),
        F.md5(F.array_join(ct, " ")).alias("chunk_fp"),
    )


@register(
    "train_decontaminate",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, lang, {_SHINGLES} AS s FROM toks WHERE len(t) >= 3),
    ex AS (SELECT doc_id, lang, unnest(s) AS shingle
           FROM sh WHERE len(s) > 0),
    spl AS (SELECT doc_id, lang, shingle,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ('0', '1') AS is_eval
            FROM ex)
    SELECT a.doc_id AS train_doc,
           CAST(COUNT(DISTINCT a.shingle) AS BIGINT) AS n_shared_shingles,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_eval_docs
    FROM spl a JOIN spl b ON a.lang = b.lang AND a.shingle = b.shingle
    WHERE NOT a.is_eval AND b.is_eval
    GROUP BY a.doc_id
    """,
)
def train_decontaminate(spark, sf_dir):
    """Train/test decontamination (operators/dedup.py contamination_overlap):
    the corpus splits ~12.5% into a hash-designated eval set, and every
    train doc is scored by the distinct 3-gram shingles it shares with any
    eval doc — the n-gram benchmark-leakage check run before training. The
    split is a content hash (same mechanism as hash_sample), so the
    partition is reproducible across engines and reruns."""
    d = _t(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1"
    )
    return D.contamination_overlap(d, is_eval, block_col="lang", k=3)


@register(
    "bloom_decontaminate",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES} AS s FROM toks WHERE len(t) >= 3),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE len(s) > 0),
    spl AS (SELECT doc_id, g,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ('0', '1') AS is_eval
            FROM ex),
    evalg AS (SELECT DISTINCT g FROM spl WHERE is_eval),
    evalpos AS (
      SELECT DISTINCT
             CAST('0x' || substring(md5(g || '#' || CAST(i AS VARCHAR)), 1, 13)
                  AS BIGINT) % 262144 AS p
      FROM (SELECT g, unnest(generate_series(0, 3)) AS i FROM evalg)),
    train AS (SELECT DISTINCT doc_id, g FROM spl WHERE NOT is_eval),
    tfan AS (SELECT doc_id, g, unnest(generate_series(0, 3)) AS i FROM train),
    tpos AS (SELECT doc_id, g,
                    CAST('0x' || substring(md5(g || '#' || CAST(i AS VARCHAR)), 1, 13)
                         AS BIGINT) % 262144 AS p
             FROM tfan),
    ghit AS (SELECT doc_id, g,
                    COUNT(*) FILTER (WHERE p IN (SELECT p FROM evalpos)) = 4
                      AS bloom_pos
             FROM tpos GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) FILTER (WHERE bloom_pos) AS BIGINT) AS bloom_hits,
           CAST(COUNT(*) FILTER (WHERE bloom_pos
                                 AND g IN (SELECT g FROM evalg)) AS BIGINT)
             AS exact_hits
    FROM ghit
    GROUP BY doc_id
    HAVING COUNT(*) FILTER (WHERE bloom_pos) > 0
    ORDER BY doc_id
    """,
)
def bloom_decontaminate(spark, sf_dir):
    """Bloom-prefiltered decontamination (operators/sketches.py bloom_build
    / bloom_contains): the eval split's distinct 3-gram shingles fold into
    a 2^18-bit Bloom bitset (32 KiB, embedded as a literal array — ships
    inside the plan, no broadcast relation, no join), every train shingle
    is probed ROW-LOCALLY, and only the bloom-positive survivors pay the
    exact membership join. This is the 100 TB composition the exact
    anti-join (train_decontaminate) can't offer: the full corpus scan does
    pure codegen arithmetic and the shuffle/join touches just the tiny
    surviving fraction. One-sided error is visible in the result itself:
    exact_hits <= bloom_hits per doc (no false negatives; the gap is the
    measured false-positive count). The oracle replays the identical
    md5-derived positions as a set-membership check — a full differential
    over a probabilistic structure, hash arithmetic and all."""
    m_bits, k = 1 << 18, 4
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda t: t != "").alias("t"),
    )
    ex = base.select(
        "doc_id", F.explode(D.shingles_from_tokens(F.col("t"), 3)).alias("g")
    ).withColumn(
        "is_eval",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1"),
    )
    evalg = ex.where("is_eval").select("g").distinct()
    words = SK.bloom_build(evalg, "g", m_bits=m_bits, k=k)
    probed = tracked_persist(
        ex.where(~F.col("is_eval"))
        .select("doc_id", "g")
        .distinct()
        .withColumn("bloom_pos", SK.bloom_contains(F.col("g"), words, m_bits, k))
    )
    per_doc = probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(F.col("bloom_pos").cast("int")).cast("long").alias("bloom_hits"),
    )
    # Exact verification joins ONLY the bloom survivors. NO broadcast
    # hint on evalg: eval here is hash-designated as ~12.5% OF THE
    # CORPUS, so its shingle set grows linearly with data — a hard hint
    # would be a driver OOM at 100x (r9 verdict). AQE still picks
    # broadcast at measured-small scales; at 100 TB it correctly
    # shuffles. The bounded-broadcast variant is
    # train_decontaminate_external (fixed-size benchmark eval set).
    survivors = probed.where("bloom_pos").join(
        evalg.withColumn("__e", F.lit(True)), "g", "left"
    )
    exact = survivors.groupBy("doc_id").agg(
        F.sum(F.col("__e").isNotNull().cast("int")).cast("long").alias("exact_hits")
    )
    return (
        per_doc.where(F.col("bloom_hits") > 0)
        .join(exact, "doc_id")
        .select("doc_id", "n_shingles", "bloom_hits", "exact_hits")
        .orderBy("doc_id")
    )


@register(
    "train_mixture_weights",
    f"""
    WITH dl AS (SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tok
                FROM documents),
    lt AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS lang_toks
           FROM dl GROUP BY lang),
    tot AS (SELECT CAST(SUM(lang_toks) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_langs FROM lt),
    wt AS (SELECT lang, lang_toks,
                  least(1.0, (CAST(total AS DOUBLE) / n_langs) / lang_toks)
                    AS w
           FROM lt, tot)
    SELECT doc_id, dl.lang, n_tok, round(w, 9) AS weight
    FROM dl JOIN wt ON dl.lang = wt.lang
    WHERE CAST('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)),
                                 1, 13) AS BIGINT)
          / 4503599627370496.0 < w
    """,
)
def train_mixture_weights(spark, sf_dir):
    """Mixture rebalancing: compute a per-language sampling weight that
    equalizes token share across languages (weight = min(1, target/actual),
    target = total/n_langs), then take the reproducible per-doc sample at
    that rate via a 52-bit md5 fraction — the data-mixing stage that turns
    raw corpus proportions into a training distribution. The language stats
    are two tiny aggregates broadcast back onto the corpus; the sample
    filter is row-local, so the corpus itself never shuffles. The weight is
    a double computed by the identical op sequence on both engines (exact
    bigints -> one division chain), and the u < w comparison uses a 2^52
    md5 fraction, so the selected set is bit-stable cross-engine."""
    d = _t(spark, sf_dir, "documents")
    dl = ensure_parallelism(d).select(
        "doc_id",
        "lang",
        F.size(TX.tokens("text")).cast("long").alias("n_tok"),
    )
    lt = dl.groupBy("lang").agg(F.sum("n_tok").alias("lang_toks"))
    tot = lt.agg(
        F.sum("lang_toks").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    wt = lt.crossJoin(F.broadcast(tot)).select(
        "lang",
        "lang_toks",
        F.least(
            F.lit(1.0),
            (F.col("total").cast("double") / F.col("n_langs"))
            / F.col("lang_toks"),
        ).alias("w"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4503599627370496.0)
    )
    return (
        dl.join(F.broadcast(wt), "lang")
        .where(u < F.col("w"))
        .select("doc_id", "lang", "n_tok", F.round("w", 9).alias("weight"))
    )


@register(
    "train_curriculum_stages",
    f"""
    WITH q AS (
      SELECT doc_id, len(t) AS n_tokens,
             len(list_distinct(t))::DOUBLE / len(t) AS distinct_ratio
      FROM (SELECT doc_id, {_TOKS} AS t FROM documents)),
    staged AS (
      SELECT doc_id, n_tokens, distinct_ratio,
             NTILE(4) OVER (ORDER BY distinct_ratio, doc_id) AS stage
      FROM q)
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(SUM(CAST(CAST(distinct_ratio AS DECIMAL(20,9))
                 * 1000000000 AS BIGINT)) AS DOUBLE) / 1000000000.0
                 / COUNT(*), 9) AS avg_distinct_ratio
    FROM staged GROUP BY stage
    """,
)
def train_curriculum_stages(spark, sf_dir):
    """Curriculum-learning staging: rank the corpus by a difficulty proxy
    (vocabulary diversity) and split into 4 equal stages with per-stage
    token budgets — the "train on easy data first" scheduler's input
    table. NTILE over a totally-ordered key (ratio, doc_id) is
    deterministic on both engines; the per-stage mean goes through the
    exact scaled-long accumulator. The global NTILE sort is the one
    non-scalable step at 100 TB — there the stage boundary would come from
    approx quantiles (quantile_binning shows that path); this query pins
    the exact-semantics contract."""
    d = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    q = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("distinct_ratio"),
    )
    # NTILE(4) computed from a two-pass offset rank + the closed-form tile
    # function instead of an unpartitioned window: with n rows and k
    # tiles, the first (n mod k) tiles hold ceil(n/k) rows — identical to
    # NTILE semantics on both engines, but every pass stays parallel.
    ranked = global_rank(q, ["distinct_ratio", "doc_id"])
    n_total = ranked.agg(F.count(F.lit(1)).alias("_n"))
    k = 4
    qsz = (F.col("_n") / k).cast("long")  # floor: _n and k are positive
    rem = F.col("_n") % k
    boundary = rem * (qsz + 1)
    r = F.col("rank")
    stage = F.when(
        r <= boundary, ((r - 1) / (qsz + 1)).cast("long") + 1
    ).otherwise(rem + ((r - boundary - 1) / qsz).cast("long") + 1)
    staged = ranked.crossJoin(F.broadcast(n_total)).withColumn(
        "stage", stage.cast("int")
    )
    ratio_scaled = (
        # precision 20: a ratio of exactly 1.0 scales to 10^18, one digit
        # past DECIMAL(18)'s capacity
        F.col("distinct_ratio").cast("decimal(20,9)") * F.lit(10**9)
    ).cast("long")
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(ratio_scaled).cast("double")
            / F.lit(float(10**9))
            / F.count(F.lit(1)),
            9,
        ).alias("avg_distinct_ratio"),
    )


@register(
    "train_dataset_card",
    f"""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             md5(text) AS fp
      FROM documents
    ),
    dup AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM t
    ),
    top_lang AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY lang
      ORDER BY n DESC, lang LIMIT 1
    )
    SELECT d.n_docs, d.n_unique,
           (CAST(d.n_docs - d.n_unique AS DOUBLE) / d.n_docs) AS dup_rate,
           d.total_tokens, d.total_chars,
           (CAST(d.total_tokens AS DOUBLE) / d.n_docs) AS mean_tokens,
           d.n_langs, d.n_sources,
           tl.lang AS top_lang,
           (CAST(tl.n AS DOUBLE) / d.n_docs) AS top_lang_share
    FROM dup d CROSS JOIN top_lang tl
    """,
)
def train_dataset_card(spark, sf_dir):
    """The DATASET CARD a training pipeline ships with its output: one
    wide summary row — corpus size, exact-duplicate rate (content
    fingerprints), token/char totals and means, language/source
    diversity, dominant language and its share. Everything reduces
    map-side-combinably (counts, sums, distincts) plus one metadata-sized
    top-1; exact integer totals with fixed-op-sequence derived doubles
    keep the card bit-reproducible — a card whose numbers drift between
    runs is worse than no card. At 100 TB this is the same single
    aggregation pass any of the corpus queries make; the card is the
    cheap, always-on artifact that catches upstream drops (dup-rate or
    lang-share jumps) before training does."""
    t = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(TX.tokens("text")).cast("long").alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    dup = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    top = (
        t.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"), F.col("n").alias("top_n"))
    )
    return dup.crossJoin(top).select(
        "n_docs",
        "n_unique",
        (
            (F.col("n_docs") - F.col("n_unique")).cast("double")
            / F.col("n_docs")
        ).alias("dup_rate"),
        "total_tokens",
        "total_chars",
        (F.col("total_tokens").cast("double") / F.col("n_docs")).alias(
            "mean_tokens"
        ),
        "n_langs",
        "n_sources",
        "top_lang",
        (F.col("top_n").cast("double") / F.col("n_docs")).alias(
            "top_lang_share"
        ),
    )


@register(
    "train_shard_manifest",
    f"""
    WITH s AS (
        SELECT {SH.shard_key_sql("doc_id", 16)} AS shard, doc_id, lang, text
        FROM documents
    )
    SELECT
        shard,
        COUNT(*) AS n_docs,
        CAST(SUM(len(list_filter(string_split(text, ' '), t -> t != '')))
             AS BIGINT) AS tok_sum,
        CAST(SUM(length(text)) AS BIGINT) AS byte_sum,
        COUNT(DISTINCT lang) AS n_langs,
        MIN(doc_id) AS min_id,
        MAX(doc_id) AS max_id
    FROM s
    GROUP BY shard
    ORDER BY shard
    """,
)
def train_shard_manifest(spark, sf_dir):
    """Shard-export manifest: content-addressed md5 shard assignment
    (stable under corpus growth — adding documents never moves existing
    ones) and the N-row per-shard summary a training loader consumes
    instead of re-scanning the corpus. Assignment is row-local codegen;
    the manifest is one map-side-combinable aggregation on a 16-value
    key. The export itself (`export_shards`) adds a single exact 1:1
    repartition on the shard id with an in-exchange sort — pytest-covered
    (`test_shard_export.py`); this query differentials the assignment and
    the manifest math."""
    docs = _t(spark, sf_dir, "documents")
    return SH.shard_manifest(docs, "doc_id", n_shards=16)


@register(
    "train_pack_nextfit",
    f"""
    WITH RECURSIVE d AS (
        SELECT lang, {SH.shard_key_sql("doc_id", 4, "pack")} AS bucket, doc_id,
               CAST(len(list_filter(string_split(text, ' '), t -> t != ''))
                    AS INT) AS tc,
               ROW_NUMBER() OVER (
                   PARTITION BY lang, {SH.shard_key_sql("doc_id", 4, "pack")}
                   ORDER BY doc_id) AS rn
        FROM documents
    ),
    p AS (
        SELECT lang, bucket, rn, doc_id, tc, 1 AS bin, tc AS fill
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.lang, d.bucket, d.rn, d.doc_id, d.tc,
               CASE WHEN p.fill + d.tc > 256 THEN p.bin + 1 ELSE p.bin END,
               CASE WHEN p.fill + d.tc > 256 THEN d.tc ELSE p.fill + d.tc END
        FROM p JOIN d
          ON d.lang = p.lang AND d.bucket = p.bucket AND d.rn = p.rn + 1
    )
    SELECT lang, bucket, doc_id, bin, fill AS fill_after
    FROM p
    ORDER BY lang, bucket, doc_id
    """,
)
def train_pack_nextfit(spark, sf_dir):
    """Next-fit sequence packing (operators/shard.py:pack_next_fit):
    documents walk their (lang × content-addressed bucket) group in id
    order and fill 256-token bins, opening a new bin on overflow — the
    mapper from corpus to fixed-budget training sequences. The fold is a
    JVM `aggregate` over per-group sorted struct arrays (packing is
    sequential by nature; the bucket bounds the sequence length, and at
    scale you raise n_buckets to keep groups executor-sized). The oracle
    replays the identical discipline as a recursive CTE — a genuinely
    order-dependent operator differentialed exactly."""
    docs = _t(spark, sf_dir, "documents")
    tc = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    return SH.pack_next_fit(
        docs, tc, budget=256, group_cols=("lang",), n_buckets=4
    ).orderBy("lang", "bucket", "doc_id")


@register("train_bpe_merges", BPE.bpe_oracle_sql(6))
def train_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.py): 6 merge
    rounds learned from the word-frequency table — pair counting is one
    combinable aggregation over the vocabulary (not the corpus), the
    merge itself a row-local greedy fold, and the driver holds exactly
    one argmax row per round. The oracle unrolls the identical loop as a
    6-stage CTE chain with one-row argmax CTEs, so the differential pins
    the tie-break (count desc, lexicographic) and the left-to-right merge
    discipline exactly."""
    docs = _t(spark, sf_dir, "documents")
    return BPE.bpe_merge_rounds(spark, BPE.word_frequencies(docs), 6)


_ENCODE_MERGES = [
    ("s", "t"), ("r", "e"), ("a", "n"), ("i", "n"), ("o", "r"),
    ("e", "r"), ("st", "re"), ("a", "t"), ("b", "at"), ("w", "in"),
    ("stre", "a"), ("strea", "m"),
]


@register(
    "train_bpe_encode",
    BPE.bpe_encode_oracle_sql(_ENCODE_MERGES, top_n=60),
)
def train_bpe_encode(spark, sf_dir):
    """Tokenizer APPLICATION (operators/bpe.py:bpe_encode_words) — the
    step after train_bpe_merges learns the merge table: every vocabulary
    word is split to characters and each merge applied in learned order
    as a greedy left-to-right JVM fold, then corpus token statistics are
    re-weighted by word frequency. Encoding cost is proportional to the
    VOCABULARY (10^5-ish rows at 100 TB), not the corpus — the corpus
    pays exactly one word-count shuffle; no Python touches the row path.
    The oracle unrolls the 12-merge chain into one fold CTE per merge,
    so hierarchical merges ((st,re) consuming earlier merges' output)
    are differentialed exactly."""
    docs = _t(spark, sf_dir, "documents")
    enc = BPE.bpe_encode_words(BPE.word_frequencies(docs), _ENCODE_MERGES)
    return (
        BPE.token_stats(enc)
        .orderBy(F.desc("occurrences"), "token")
        .limit(60)
    )


@register(
    "train_split_no_leakage",
    """
    WITH fp AS (
      SELECT doc_id, source,
             MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, source, fp,
             CASE
               WHEN (ASCII(SUBSTR(fp, 1, 1)) * 256
                     + ASCII(SUBSTR(fp, 2, 1))) % 10 < 8 THEN 'train'
               WHEN (ASCII(SUBSTR(fp, 1, 1)) * 256
                     + ASCII(SUBSTR(fp, 2, 1))) % 10 = 8 THEN 'valid'
               ELSE 'test'
             END AS split
      FROM fp
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprints,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM assigned
    GROUP BY split
    ORDER BY split
    """,
)
def train_split_no_leakage(spark, sf_dir):
    """Leakage-safe train/valid/test split: the split key is a
    fingerprint of the NORMALIZED text (lowercase, whitespace-collapsed),
    not the row id — so exact and near-exact (formatting-level) duplicate
    documents land in the SAME split by construction and can never leak
    eval content into training. Assignment is a pure row-local hash
    (md5 prefix -> 80/10/10), no shuffle until the final stats. This is
    the split discipline the dedup family (dedup_exact, text_fingerprint)
    feeds: dedup finds duplicates, this makes splits immune to the ones
    dedup missed. Oracle recomputes fingerprint, bucket arithmetic and
    the per-split profile in SQL, pinning the assignment function
    bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    bucket = (
        F.ascii(F.substring(fp, 1, 1)) * 256 + F.ascii(F.substring(fp, 2, 1))
    ) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "valid").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), fp.alias("fp"), "source")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_fingerprints"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("split")
    )



def _pii_redact_sql(expr: str) -> str:
    """DuckDB rendering of pii.redact_pii — the same patterns in the same
    order, each with the 'g' flag to match Spark's replace-all default."""
    out = expr
    for name, pat in PII.PII_PATTERNS.items():
        out = f"regexp_replace({out}, '{pat}', '<{name.upper()}>', 'g')"
    return out


_PIPELINE_ORACLE = f"""
    WITH q AS (
      SELECT doc_id FROM (
        SELECT doc_id, len(t) AS n_tokens,
               len(list_distinct(t))::DOUBLE / len(t) AS distinct_ratio
        FROM (SELECT doc_id, {_TOKS} AS t FROM documents))
      WHERE n_tokens >= 20 AND distinct_ratio >= 0.3),
    lidq AS ({LID.oracle_sql()}),
    lkeep AS (SELECT doc_id FROM lidq WHERE lang_pred = lang),
    keep0 AS (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d JOIN q USING (doc_id) JOIN lkeep USING (doc_id)),
    red AS (
      SELECT doc_id, lang, {_pii_redact_sql("text")} AS text FROM keep0),
    fpd AS (
      SELECT doc_id, lang, text,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM red),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM fpd GROUP BY fp),
    d1 AS (SELECT f.doc_id, f.lang, f.text
           FROM fpd f JOIN keepers k ON f.doc_id = k.doc_id),
    {_minhash_sigs_sql("d1")},
    {_minhash_bands_sql()},
    mdrop AS (SELECT DISTINCT ib AS doc_id FROM verified WHERE jaccard >= 0.5),
    d2 AS (SELECT * FROM d1
           WHERE doc_id NOT IN (SELECT doc_id FROM mdrop)),
    dex AS (SELECT e.doc_id, e.shingle AS g
            FROM ex e JOIN d2 USING (doc_id)),
    spl AS (SELECT doc_id, g,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ('0', '1') AS is_eval
            FROM dex),
    contaminated AS (
      SELECT DISTINCT a.doc_id
      FROM spl a JOIN spl b ON a.g = b.g
      WHERE NOT a.is_eval AND b.is_eval),
    d3 AS (SELECT * FROM d2
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   NOT IN ('0', '1')
             AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
    ptoks AS (
      SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(length(text) AS BIGINT) AS n_bytes
      FROM d3),
    ordered AS (
      SELECT doc_id, lang, n_tok, n_bytes,
             SUM(n_tok) OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM ptoks),
    packed AS (
      SELECT doc_id, lang, n_tok, n_bytes,
             CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS bin
      FROM ordered)
    SELECT {SH.shard_key_sql("doc_id", 16)} AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
           CAST(SUM(n_bytes) AS BIGINT) AS byte_sum,
           CAST(COUNT(DISTINCT lang || ':' || CAST(bin AS VARCHAR)) AS BIGINT)
             AS n_bins,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id
    FROM packed
    GROUP BY shard
    ORDER BY shard
    """


def _pipeline_clean(spark: SparkSession, sf_dir: str):
    """Stages 1-5 of the pretraining-corpus pipeline (everything that
    SHRINKS the corpus), one lazy DAG over `documents`:

      quality filter (keep 'ok') -> langid filter (classifier agrees with
      the labeled lang) -> PII redaction (text rewritten through the
      placeholder patterns) -> exact dedup on the redacted fingerprint
      (keep min doc_id per group) -> MinHash-LSH near-dedup at j>=0.5
      (greedy keep-first: drop any doc pairing with a smaller id) ->
      decontamination (hash-designated ~12.5% eval split held out; train
      docs sharing ANY 3-shingle with an eval doc dropped).

    The decontamination runs the 100 TB composition — Bloom prefilter
    (eval shingles folded into a 32 KiB literal bitset, probed row-
    locally) followed by the exact verify join on the bloom-positive
    fraction only. Bloom has no false negatives and the verify removes
    its false positives, so the drop set equals the oracle's plain exact
    join — the probabilistic structure changes the COST, not the result.

    Writes the surviving corpus to scratch parquet (the checkpoint a real
    pipeline publishes for its downstream consumers) and returns the
    path.

    Stage attribution (r10 verdict item 4): each stage boundary is an
    EAGER localCheckpoint the next stage reads anyway (r13 — see
    util.stage_checkpoint: it materializes like the old persist+count AND
    cuts the lineage so later stages stop re-analyzing the ~600-term
    filter expressions per action), so the boundary is a timed point
    without added work — the recorded per-stage seconds land in
    ``STAGE_TIMES['pipeline_pretraining_corpus']`` and bench.py commits
    them with the phases, making a multi-second build attributable."""
    import time as _time

    stages: dict[str, float] = {}
    d3 = _pipeline_survivors(spark, sf_dir, stages)
    t0 = stages.pop("_decon_t0")
    out = _versioned_scratch("pipeline", sf_dir) + "/survivors"
    d3.write.mode("overwrite").parquet(out)
    stages["decontaminate_checkpoint"] = round(_time.time() - t0, 3)
    STAGE_TIMES["pipeline_pretraining_corpus"] = stages
    return out


def _pipeline_survivors(
    spark: SparkSession, sf_dir: str, stages: dict
) -> DataFrame:
    """Stages 1-5 as one frame ``(doc_id, lang, text)`` — the surviving
    corpus ready for the checkpoint write. Split from
    :func:`_pipeline_clean` so the plan of the build side is capturable
    as evidence (plans/r13); stage seconds for the first four boundaries
    land in ``stages``, with the stage-5 start time under ``_decon_t0``
    (its cost is realized by the caller's write action)."""
    import time as _time

    t0 = _time.time()
    # fan the scan out BEFORE the compute-heavy scan-local stages: a small
    # corpus arrives as one file = ONE partition, which serializes the
    # quality metrics, the 64-regex langid scoring and the PII redaction
    # onto a single core (guide §2.5 input skew). A bare repartition is NOT
    # enough — predicate pushdown moves the quality/langid filters back
    # below the exchange (verified in the plan); fanout_barrier blocks the
    # push with a persist, and is a no-op at real scale where the input is
    # already parallel.
    docs = fanout_barrier(_t(spark, sf_dir, "documents"))
    ok = TX.with_quality(docs).where(F.col("quality") == "ok")
    keep = LID.with_langid(ok).where(F.col("lang_pred") == F.col("lang"))
    # Stage boundaries are EAGER localCheckpoints, not persist+count: the
    # quality/langid/redact stage carries ~600 expression terms, and with a
    # plain persist every downstream action re-ANALYZES that subtree once
    # per occurrence in its DAG (~0.5 s each, driver-side, single-threaded
    # — measured r13; see util.stage_checkpoint). The checkpoint
    # materializes the stage (the same job the old count() ran) and makes
    # every later plan shallow.
    red = stage_checkpoint(
        keep.select(
            "doc_id", "lang", PII.redact_pii(F.col("text")).alias("text")
        )
    )
    stages["filter_langid_redact"] = round(_time.time() - t0, 3)
    t0 = _time.time()
    keepers = (
        red.withColumn("__fp", TX.fingerprint("text"))
        .groupBy("__fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    d1 = stage_checkpoint(
        red.join(keepers.select("doc_id"), "doc_id", "left_semi")
    )
    stages["exact_dedup"] = round(_time.time() - t0, 3)
    t0 = _time.time()
    # One shingle pass for stages 3 AND 4: the near-dedup and the
    # decontamination both use k=3 shingles of the same (redacted) text,
    # and d2 ⊆ d1 — so the persisted d1 shingle sets serve both. Before
    # r12 stage 4 re-tokenized d2 from scratch (a second corpus-wide
    # split+shingle+persist).
    sets_d1 = D.shingle_sets(d1, "text", "doc_id", 3)
    near = D.minhash_lsh_dedup(d1, threshold=0.5, sets_df=sets_d1)
    # no .distinct() on the drop ids: left_anti tolerates duplicate right
    # rows (a doc pairing with several smaller ids is dropped once either
    # way), so the distinct was a pure extra shuffle (r13, guide §2.4)
    d2 = stage_checkpoint(
        d1.join(
            near.select(F.col("doc_b").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
    )
    stages["near_dedup"] = round(_time.time() - t0, 3)
    t0 = _time.time()
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1"
    )
    # The d2-restricted shingle sets feed BOTH sides of the contamination
    # check (eval shingles -> bloom + exact verify; train shingles ->
    # probe). r12 evaluated this semi-join + explode THREE times (bloom
    # build, verify right side, train side) because nothing between
    # sets_d1 and the consumers was materialized; persisting the array
    # form once (same row count as sets_d1 — the explode stays lazy and
    # map-side per consumer) makes each side a cache read (r13, guide §5).
    sh = stage_checkpoint(
        sets_d1.join(d2.select("doc_id"), "doc_id", "left_semi").select(
            "doc_id", is_eval.alias("__is_eval"), F.col("sh").alias("s")
        )
    )
    ex = sh.where(F.size("s") > 0).select(
        "doc_id", "__is_eval", F.explode("s").alias("g")
    )
    # The DISTINCT eval shingles are what both consumers actually need
    # (bloom_build reduced to distinct positions internally; the semi-join
    # dedups its right side by construction) — computing the distinct ONCE
    # and persisting it replaces r12's two independent corpus-scale
    # evaluations of the eval posting list with one shuffle + two cache
    # reads, and bloom_build(assume_distinct=True) skips its now-redundant
    # internal distinct (r13, guide §2.4/§5). Size is bounded by the eval
    # split's distinct shingle count — the same growth class as the
    # persisted shingle sets themselves.
    evalg = tracked_persist(ex.where("__is_eval").select("g").distinct())
    m_bits, k = 1 << 18, 4
    words = SK.bloom_build(
        evalg, "g", m_bits=m_bits, k=k, assume_distinct=True
    )
    contaminated = (
        ex.where(~F.col("__is_eval"))
        .select("doc_id", "g")
        .where(SK.bloom_contains(F.col("g"), words, m_bits, k))
        .join(evalg, "g", "left_semi")  # eval ~12.5% of corpus: no hint
        .select("doc_id")
        # no .distinct(): the left_anti below dedups by construction
    )
    d3 = d2.where(~is_eval).join(contaminated, "doc_id", "left_anti")
    stages["_decon_t0"] = t0
    return d3.select("doc_id", "lang", "text")


def _pipeline_pack(spark: SparkSession, survivors_path: str) -> DataFrame:
    """Stages 6-7: token packing over the cleaned corpus and the shard
    manifest a training loader consumes. bin assignment is the two-level
    deterministic running sum of train_token_packing; shard assignment is
    the content-hash key of train_shard_manifest; the 16-row manifest
    carries per-shard doc/token/byte totals plus how many (lang, bin)
    packing units the shard's documents landed in."""
    d3 = spark.read.parquet(survivors_path)
    # the survivors checkpoint is small-file-sized at bench scale (one scan
    # partition) — fan out before the tokenization pass, as in the clean
    # phase; no-op when the checkpoint is already well-partitioned
    base = tracked_persist(
        ensure_parallelism(d3).select(
            "doc_id",
            "lang",
            F.size(TX.tokens("text")).cast("long").alias("n_tok"),
            F.length("text").cast("long").alias("n_bytes"),
        )
    )
    packed = _pack_bins_two_level(base.select("doc_id", "lang", "n_tok"))
    # (shard, lang, bin) units first, then shards: n_bins is a plain count
    # and only n_langs stays distinct, so Spark plans no Expand (two
    # distinct aggregates copy every row once per distinct group). lang is
    # non-null after the langid filter and bin is a long, so the counts
    # equal countDistinct(concat_ws(":", lang, bin)) and countDistinct(lang).
    return (
        packed.join(base.select("doc_id", "n_bytes"), "doc_id")
        .withColumn("shard", SH.shard_key(F.col("doc_id"), 16))
        .groupBy("shard", "lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_tok").alias("tok"),
            F.sum("n_bytes").alias("bytes"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .groupBy("shard")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum("tok").cast("long").alias("tok_sum"),
            F.sum("bytes").cast("long").alias("byte_sum"),
            F.count(F.lit(1)).alias("n_bins"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.min("lo").alias("min_id"),
            F.max("hi").alias("max_id"),
        )
        .orderBy("shard")
    )


@register("pipeline_pretraining_corpus", _PIPELINE_ORACLE)
def pipeline_pretraining_corpus(spark, sf_dir):
    """The catalog's stages run as ONE pipeline — the end-to-end DAG a
    pretraining-data user actually executes, not operator-by-operator:

        documents -> quality filter -> langid filter -> PII redact
                  -> exact dedup -> MinHash-LSH near-dedup
                  -> decontaminate (bloom prefilter + exact verify)
                  -> token packing -> shard manifest

    Every stage reuses the exact machinery its standalone query proved
    (text_quality, text_langid, text_pii_scrub's redaction,
    dedup_exact's fingerprint, dedup_minhash_lsh, bloom_decontaminate's
    composition, train_token_packing, train_shard_manifest), and the
    oracle is the SQL composition of those stage oracles over the same
    intermediate relations — so the differential proves the operators
    compose without driver-side glue, stage boundaries included. The
    16-row manifest folds every upstream stage into its totals: one
    wrongly kept/dropped/redacted document changes tok_sum/byte_sum.

    Scale shape: filters and redaction are scan-local codegen; the two
    dedups and the packing shuffle on content keys exactly as their
    standalone forms do; decontamination probes a 32 KiB in-plan bitset
    and joins only the bloom-positive fraction; the manifest is one
    16-key map-side-combinable aggregate. The mid-pipeline parquet
    checkpoint is the publish point a real pipeline hands its downstream
    consumers (and is what the bench's build/read phase split times)."""
    return _pipeline_pack(spark, _pipeline_clean(spark, sf_dir))


PHASED["pipeline_pretraining_corpus"] = (_pipeline_clean, _pipeline_pack)


@register(
    "train_decontaminate_external",
    f"""
    WITH bench AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 100),
    toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, lang, {_SHINGLES} AS s FROM toks WHERE len(t) >= 3),
    ex AS (SELECT doc_id, lang, unnest(s) AS shingle
           FROM sh WHERE len(s) > 0),
    spl AS (SELECT doc_id, lang, shingle,
                   doc_id IN (SELECT doc_id FROM bench) AS is_eval
            FROM ex)
    SELECT a.doc_id AS train_doc,
           CAST(COUNT(DISTINCT a.shingle) AS BIGINT) AS n_shared_shingles,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_eval_docs
    FROM spl a JOIN spl b ON a.lang = b.lang AND a.shingle = b.shingle
    WHERE NOT a.is_eval AND b.is_eval
    GROUP BY a.doc_id
    """,
)
def train_decontaminate_external(spark, sf_dir):
    """Decontamination against an EXTERNAL fixed-size benchmark suite —
    the shape real pipelines run (r9 verdict item 8): eval is a small
    STATIC table (here a deterministic 100-document stand-in: the 100
    lowest doc_ids, collected via the bounded probe-set discipline —
    ordered limit, never a corpus-fraction), so the eval shingle side is
    GENUINELY bounded at any corpus scale. That is what makes this
    variant's broadcast legitimate where the hash-split variants'
    (train_decontaminate, bloom_decontaminate) was stripped: there eval
    is ~12.5% OF THE CORPUS and grows with it; here it is 100 documents
    forever. The scan side is one pass over the corpus; the join touches
    only shingles colliding with the benchmark's."""
    d = _t(spark, sf_dir, "documents")
    bench_ids = [
        r[0]
        for r in d.select("doc_id").orderBy("doc_id").limit(100).collect()
    ]
    return D.contamination_overlap(
        d, F.col("doc_id").isin(bench_ids), block_col="lang", k=3
    )
