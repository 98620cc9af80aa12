"""Inverted text index over the versioned-table format — the lexical
retrieval analogue of the key/bloom/zone-map index family.

The full-scan BM25 (queries.py:bm25_search) re-tokenizes the corpus per
query; at 100 TB that is the whole corpus through a shuffle for every
search. The classic answer is the inverted index: materialize the
token-level statistics ONCE as posting lists, then a query touches only
the postings of its own terms.

Layout (three versioned tables under one base dir — committed together,
so snapshot isolation covers the whole index):

* ``postings`` — (tok, doc_id, tfc), hash-bucketed on ``tok`` via the
  Iceberg ``bucket(n, key)`` transform and partitioned by the bucket. A
  probe for q query terms maps each term to its bucket row-locally and
  reads AT MOST q buckets through the manifest-planned pruned scan
  (:func:`table_format.scan_partitions`) — zero directory listings, and
  the corpus-sized relation is never touched at query time.
* ``meta.json`` — n_buckets + corpus stats (n_docs, total token count):
  two scalars a probe needs; reading them must not cost a table scan.

``dlen`` (the document's total token count, for BM25 length
normalization) is DENORMALIZED into every posting row — the same move
Lucene makes by storing the per-doc norm in the postings: a probe that
had to join a corpus-sized doclen table would scan O(#docs) rows however
few terms it carries, which is exactly the cost the index exists to
avoid. With dlen in the posting, query evaluation touches ONLY the
probed buckets and reuses bit-for-bit the scaled-long score quantization
of the full-scan path, so indexed and scan BM25 are value-identical
(pinned by the shared oracle in the catalog).

Maintenance: postings is an ordinary versioned table — NEW documents
merge in (their posting rows carry their own tfc/dlen; only the buckets
the new tokens hash into rewrite) and the meta scalars advance.
Denormalized dlen makes documents immutable index units (the Lucene
segment discipline): re-ingesting or editing an EXISTING doc_id is
never merged additively — :func:`fold_text_index_changes` implements
the Lucene delete-and-readd move over a CDF-shaped window: a delete's
PRE-IMAGE text re-tokenizes to the exact (tok, doc_id) posting keys, so
the delete rewrites only the buckets those tokens hash into (the same
bounded blast radius as an insert) and the meta scalars decrement by
the pre-image's counts; an update folds as delete(pre) + add(post).
:func:`delete_docs_from_text_index` is the pre-image-less RTBF path
(doc_ids only): one semi-join pass over the postings finds the victims,
then the same keyed delete — a full postings read at refresh time,
never probe time. Replay protection belongs to the ingest path (the
exactly-once streaming sink's txn markers), not the index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store_state
from . import table_format as TF
from . import text as TXT
from ..util import ensure_parallelism, global_rank, topk_ranked

_META = "meta.json"


def build_text_index(
    spark: SparkSession,
    docs: DataFrame,
    base: str,
    n_buckets: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Tokenize once, commit postings + doclen + corpus stats."""
    os.makedirs(base, exist_ok=True)
    toks = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(TXT.tokens(text_col)).alias("pos", "tok"),
    )
    postings = TF.with_bucket(_postings(toks), key="tok", n_buckets=n_buckets)
    TF.create_table(
        postings, os.path.join(base, "postings"), partition_by="bucket",
        distribute=True,  # one file per bucket (skew-splitting rebalance)
    )
    n_docs, total = (
        TF.read_table(spark, os.path.join(base, "postings"))
        .agg(F.countDistinct("doc_id"), F.sum("tfc"))
        .first()
    )
    store_state.write(
        os.path.join(base, _META),
        {"n_buckets": n_buckets, "n_docs": int(n_docs),
         "total_tokens": int(total)},
    )
    return base


def _postings(toks: DataFrame) -> DataFrame:
    """(tok, doc_id, tfc, dlen, pos): term frequency with the document
    length denormalized in — one aggregation plus a per-doc window-free
    sum via a second groupBy joined back doc-locally (both shuffles are
    on the SAME doc_id key, so AQE coalesces them into one exchange
    lineage). ``pos`` carries the token's sorted 0-based positions (the
    Lucene positional-postings move): ~one int per occurrence, which is
    what makes phrase queries answerable from the probed buckets alone —
    without it a phrase means re-reading document text."""
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tfc"),
        F.sort_array(F.collect_list("pos")).alias("pos"),
    )
    dl = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dlen")
    )
    return tf.join(dl, "doc_id")


def _term_buckets(spark: SparkSession, terms: list[str], n_buckets: int) -> list[int]:
    """Map query terms to their postings buckets with the SAME xxhash64
    expression the writer used (hash parity by construction — one tiny
    local job, never a corpus read)."""
    t = spark.createDataFrame([(x,) for x in terms], "tok string")
    rows = TF.with_bucket(t, key="tok", n_buckets=n_buckets).collect()
    return sorted({r.bucket for r in rows})


def bm25_probe(
    spark: SparkSession,
    base: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 50,
    require_all: bool = False,
) -> DataFrame:
    """BM25 top-k via the index: manifest-planned read of the probed
    buckets only, then the standard scoring join. Value-identical to the
    full-scan formulation (same scaled-long quantization).

    ``require_all=True`` is the conjunctive (AND) mode: only documents
    containing EVERY distinct query term are ranked. The qualifier is one
    count-distinct over the already-pruned postings slice — probe cost is
    unchanged — and document frequencies stay corpus-wide (standard BM25
    idf is a term property, not a result-set property)."""
    meta = store_state.read(os.path.join(base, _META))
    buckets = _term_buckets(spark, terms, meta["n_buckets"])
    # a term may hash to a bucket no corpus token ever claimed: intersect
    # with the manifest's partitions (driver-side metadata, no listing)
    have = {
        e["path"].split("/", 1)[0]
        for e in TF.manifest(os.path.join(base, "postings"))
        if "/" in e["path"]
    }
    rels = [f"bucket={bk}" for bk in buckets if f"bucket={bk}" in have]
    if not rels:
        empty = "doc_id bigint, score double, rank int"
        return spark.createDataFrame([], empty)
    tf_scan = (
        TF.scan_partitions(spark, os.path.join(base, "postings"), rels)
        .where(F.col("tok").isin(*terms))
        .select("doc_id", "tok", "tfc", "dlen")
    )
    n_docs = F.lit(meta["n_docs"])
    avgdl = F.lit(float(meta["total_tokens"]) / meta["n_docs"])
    dfreq = tf_scan.groupBy("tok").agg(F.count(F.lit(1)).alias("dfc"))
    if require_all:
        qualifying = (
            tf_scan.groupBy("doc_id")
            .agg(F.count_distinct("tok").alias("__nt"))
            .where(F.col("__nt") == len(set(terms)))
            .select("doc_id")
        )
        tf_scan = tf_scan.join(qualifying, "doc_id", "left_semi")
    s = (
        F.log(1.0 + (n_docs - F.col("dfc") + 0.5) / (F.col("dfc") + 0.5))
        * (F.col("tfc") * F.lit(k1 + 1.0))
        / (
            F.col("tfc")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dlen") / avgdl)
        )
    )
    term_scores = tf_scan.join(F.broadcast(dfreq), "tok").select(
        "doc_id", s.alias("s")
    )
    scored = term_scores.groupBy("doc_id").agg(
        (
            F.sum(
                (F.col("s").cast("decimal(18,12)") * F.lit(10**12)).cast("long")
            ).cast("double")
            / F.lit(float(10**12))
        ).alias("score")
    )
    return topk_ranked(
        scored, [F.col("score").desc(), F.col("doc_id")], top_k
    )


def phrase_probe(
    spark: SparkSession,
    base: str,
    phrase: list[str],
    id_type: str = "bigint",
) -> DataFrame:
    """Exact-phrase search from the positional postings: (doc_id, n_occ)
    for every document containing the consecutive token sequence
    ``phrase``, n_occ counting ALL starting positions (overlaps
    included).

    Plan shape: the SAME manifest-planned bucket reads as bm25_probe (at
    most |distinct phrase terms| buckets), then a row-local adjacency
    check — term i's positions shift left by i, and a document matches
    wherever all shifted sets intersect. No document text is read, no
    corpus-sized relation is touched; the per-doc state is one small
    positions array per phrase term, intersected with array HOFs inside
    codegen."""
    if not phrase:
        raise ValueError("empty phrase")
    meta = store_state.read(os.path.join(base, _META))
    terms = sorted(set(phrase))
    buckets = _term_buckets(spark, terms, meta["n_buckets"])
    have = {
        e["path"].split("/", 1)[0]
        for e in TF.manifest(os.path.join(base, "postings"))
        if "/" in e["path"]
    }
    rels = [f"bucket={bk}" for bk in buckets if f"bucket={bk}" in have]
    if not rels:
        return spark.createDataFrame([], f"doc_id {id_type}, n_occ bigint")
    scan = (
        TF.scan_partitions(spark, os.path.join(base, "postings"), rels)
        .where(F.col("tok").isin(*terms))
        .select("doc_id", "tok", "pos")
    )
    # one slice per PHRASE INDEX (a repeated term contributes once per
    # index), positions shifted by -i so adjacency becomes set equality
    slices = None
    for i, t in enumerate(phrase):
        s = scan.where(F.col("tok") == t).select(
            "doc_id",
            F.lit(i).alias("i"),
            F.transform(F.col("pos"), lambda p: p - F.lit(i)).alias("sp"),
        )
        slices = s if slices is None else slices.unionByName(s)
    per_doc = (
        slices.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.array_sort(
                F.collect_list(F.struct("i", "sp"))
            ).alias("__s"),
        )
        .where(F.col("__n") == len(phrase))  # every phrase index present
    )
    inter = F.aggregate(
        F.expr("slice(__s, 2, size(__s) - 1)"),
        F.element_at(F.col("__s"), 1)["sp"],
        lambda acc, x: F.array_intersect(acc, x["sp"]),
    )
    return (
        per_doc.select(
            "doc_id", F.size(inter).cast("long").alias("n_occ")
        )
        .where(F.col("n_occ") > 0)
    )


def near_probe(
    spark: SparkSession,
    base: str,
    first: str,
    second: str,
    slop: int = 0,
    id_type: str = "bigint",
) -> DataFrame:
    """Ordered PROXIMITY search (Lucene span-near, two terms): documents
    where ``second`` occurs after ``first`` within ``slop`` intervening
    tokens. Returns (doc_id, n_pairs) — the count of qualifying
    (position-of-first, position-of-second) pairs, so ranking by
    proximity evidence is possible downstream.

    Same plan shape as :func:`phrase_probe`: at most two manifest-planned
    bucket reads, one doc-keyed equi-join of the two terms' posting rows,
    then a row-local nested-HOF pair count over the positions arrays
    (per-doc term frequencies are small; the fold never leaves the
    row)."""
    meta = store_state.read(os.path.join(base, _META))
    terms = sorted({first, second})
    buckets = _term_buckets(spark, terms, meta["n_buckets"])
    have = {
        e["path"].split("/", 1)[0]
        for e in TF.manifest(os.path.join(base, "postings"))
        if "/" in e["path"]
    }
    rels = [f"bucket={bk}" for bk in buckets if f"bucket={bk}" in have]
    if not rels:
        return spark.createDataFrame([], f"doc_id {id_type}, n_pairs bigint")
    scan = (
        TF.scan_partitions(spark, os.path.join(base, "postings"), rels)
        .where(F.col("tok").isin(*terms))
        .select("doc_id", "tok", "pos")
    )
    a = scan.where(F.col("tok") == first).select("doc_id", F.col("pos").alias("pa"))
    b = scan.where(F.col("tok") == second).select(
        "doc_id", F.col("pos").alias("pb")
    )
    window = slop + 1
    pairs = F.aggregate(
        F.col("pa"),
        F.lit(0).cast("long"),
        lambda acc, p: acc
        + F.size(
            F.filter(
                F.col("pb"),
                lambda q: (q > p) & (q - p <= F.lit(window)),
            )
        ).cast("long"),
    )
    return (
        a.join(b, "doc_id")
        .select("doc_id", pairs.alias("n_pairs"))
        .where(F.col("n_pairs") > 0)
    )


def refresh_text_index(
    spark: SparkSession, base: str, new_docs: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
) -> None:
    """Fold NEW documents into the index: their posting rows (carrying
    their own tfc/dlen) merge into the buckets their tokens hash into —
    the bucket transform bounds the blast radius — and the meta scalars
    advance. New doc_ids ONLY (documents are immutable index units, see
    module docstring): the batch's doc_ids are anti-join-checked against
    the existing postings BEFORE merging and a replayed/edited doc_id
    raises — the merge's own cardinality check only covers source-side
    uniqueness, and a silent ``when_matched=None`` drop would still bump
    the meta scalars, drifting idf/avgdl off the indexed==scan contract.
    The guard is one broadcast-semi pass over the postings (the batch's
    doc list is batch-sized) — refresh-time cost, never probe-time."""
    meta = store_state.read(os.path.join(base, _META))
    toks = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(TXT.tokens(text_col)).alias("pos", "tok"),
    )
    postings = TF.with_bucket(
        _postings(toks), key="tok", n_buckets=meta["n_buckets"]
    )
    batch_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
    replayed = (
        TF.read_table(spark, os.path.join(base, "postings"))
        .select("doc_id")
        .join(batch_ids, "doc_id", "left_semi")
        .select("doc_id")
        .distinct()
        .limit(5)
        .collect()
    )
    if replayed:
        raise ValueError(
            "refresh_text_index: batch re-delivers doc_id(s) already in "
            f"the index (first few: {sorted(r.doc_id for r in replayed)}) "
            "— documents are immutable index units; fold edits through "
            "fold_text_index_changes (delete pre-image + re-add) or "
            "dedupe the ingest (replayed microbatch?)"
        )
    TF.merge_into(
        spark,
        os.path.join(base, "postings"),
        postings,
        on=["tok", "doc_id"],
        when_matched=None,
    )
    add_docs, add_tok = postings.agg(
        F.countDistinct("doc_id"), F.sum("tfc")
    ).first()
    meta["n_docs"] += int(add_docs)
    meta["total_tokens"] += int(add_tok or 0)
    store_state.write(os.path.join(base, _META), meta)


def _delete_posting_keys(
    spark: SparkSession, base: str, meta: dict, victims: DataFrame
) -> tuple[int, int]:
    """Merge the (bucket, tok, doc_id) victim keys OUT of the postings and
    return (docs removed, tokens removed) for the meta decrement. The
    stats are computed BEFORE the delete commit from the victim set
    itself, so they describe exactly what the merge removes."""
    victims = victims.select("bucket", "tok", "doc_id", "tfc").persist()
    row = victims.agg(
        F.countDistinct("doc_id").alias("nd"), F.sum("tfc").alias("nt")
    ).first()
    nd, nt = int(row["nd"] or 0), int(row["nt"] or 0)
    if nd:
        TF.merge_into(
            spark,
            os.path.join(base, "postings"),
            victims.select("bucket", "tok", "doc_id"),
            on=["tok", "doc_id"],
            when_matched="delete",
            when_not_matched=None,
            check_cardinality=False,
        )
    victims.unpersist()
    return nd, nt


def fold_text_index_changes(
    spark: SparkSession,
    base: str,
    changes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    change_col: str = "_change_type",
) -> dict:
    """Fold a CDF-shaped window (``_change_type`` ∈ insert / delete /
    update_preimage / update_postimage, as produced by
    :func:`table_format.read_changes` over the document table) into the
    index — the delete-and-readd discipline every other index-family
    member already follows.

    Deletes keep the insert path's bounded blast radius: the PRE-IMAGE
    text re-tokenizes to the exact (tok, doc_id) posting keys, so the
    keyed delete-merge rewrites only the buckets those tokens hash into —
    no full postings pass, and the meta scalars decrement by the
    pre-image's own counts (its tfc sum IS its indexed dlen). Updates are
    delete(pre-image) + re-add(post-image): the delete commits FIRST so
    the re-add sails through refresh's immutable-unit guard. The window's
    pre-images are trusted verbatim — they come from the versioned
    table's change feed, which replays exactly what was indexed.

    Returns {"docs_removed", "tokens_removed", "docs_added",
    "tokens_added"} so callers can assert window accounting."""
    meta_path = os.path.join(base, _META)
    meta = store_state.read(meta_path)
    removed = changes.where(
        F.col(change_col).isin("delete", "update_preimage")
    ).select(F.col(id_col).alias(id_col), text_col)
    added = changes.where(
        F.col(change_col).isin("insert", "update_postimage")
    ).select(F.col(id_col).alias(id_col), text_col)

    nd = nt = 0
    if not removed.isEmpty():
        rtoks = removed.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(TXT.tokens(text_col)).alias("pos", "tok"),
        )
        victims = TF.with_bucket(
            _postings(rtoks), key="tok", n_buckets=meta["n_buckets"]
        )
        nd, nt = _delete_posting_keys(spark, base, meta, victims)
        meta["n_docs"] -= nd
        meta["total_tokens"] -= nt
        # the meta decrement lands before the re-add so a crash between
        # the two commits leaves scalars consistent with the postings
        store_state.write(meta_path, meta)

    na = ta = 0
    if not added.isEmpty():
        pre = added.agg(
            F.countDistinct(id_col).alias("nd")
        ).first()
        na = int(pre["nd"] or 0)
        before = meta["total_tokens"]
        refresh_text_index(
            spark, base, added, text_col=text_col, id_col=id_col
        )
        meta = store_state.read(meta_path)
        ta = meta["total_tokens"] - before
    return {
        "docs_removed": nd,
        "tokens_removed": nt,
        "docs_added": na,
        "tokens_added": ta,
    }


def delete_docs_from_text_index(
    spark: SparkSession, base: str, doc_ids: DataFrame | list
) -> int:
    """RTBF delete WITHOUT a pre-image: only the doc_ids are known, so
    the victims' posting keys come from one semi-join pass over the
    postings themselves (a doc's tokens hash into arbitrary buckets — a
    full read is unavoidable here, which is why the change-feed path of
    :func:`fold_text_index_changes` is preferred). Refresh-time cost,
    never probe-time. Returns the number of documents removed."""
    if isinstance(doc_ids, list):
        doc_ids = spark.createDataFrame(
            [(int(x),) for x in doc_ids], "doc_id bigint"
        )
    meta_path = os.path.join(base, _META)
    meta = store_state.read(meta_path)
    victims = TF.read_table(spark, os.path.join(base, "postings")).join(
        F.broadcast(doc_ids.select("doc_id").distinct()),
        "doc_id",
        "left_semi",
    )
    nd, nt = _delete_posting_keys(spark, base, meta, victims)
    if nd:
        meta["n_docs"] -= nd
        meta["total_tokens"] -= nt
        store_state.write(meta_path, meta)
    return nd


def bind_text_index(base: str, doc_root: str, version: int | None = None,
                    key: str = "doc_id", text_col: str = "text") -> int:
    """Bind the index to the versioned document table it was built from so
    :func:`sync_text_index` can maintain it VERSION-DRIVEN (the shape a
    streaming sink's post_batch hook wants). ``version`` is the snapshot
    the index currently reflects — default: the table's current version,
    correct when called right after ``build_text_index`` over the same
    snapshot. Records (corpus_root, corpus_version, key, text_col) in the
    meta sidecar; returns the bound version."""
    meta = store_state.read(os.path.join(base, _META))
    v = TF.current_version(doc_root) if version is None else int(version)
    meta.update(
        {"corpus_root": doc_root, "corpus_version": v,
         "corpus_key": key, "corpus_text_col": text_col}
    )
    store_state.write(os.path.join(base, _META), meta)
    return v


def sync_text_index(spark: SparkSession, base: str) -> int:
    """Advance a bound index to its document table's current version by
    folding the change window through :func:`fold_text_index_changes` —
    inserts, deletes, and updates all maintain postings + meta scalars
    with the insert path's bounded bucket blast radius. Version-driven and
    therefore replay-safe at the microbatch level: a replayed streaming
    batch whose corpus merge no-ops leaves the version unchanged and this
    is a no-op. Single-maintainer posture (the matview contract): the
    meta sidecar records the folded version without a lock, so exactly
    one pipeline may own a given index's maintenance.

    Crash-safe WITHIN that owner: a ``pending`` window is recorded in the
    meta sidecar BEFORE the fold and cleared after the version pointer
    advances, so an owner that crashed anywhere inside the fold re-enters
    through :func:`_recover_window` — deletes re-merge idempotently, the
    window's adds land only if their (atomic) commit was lost, and the
    meta scalars are RECOMPUTED from the postings instead of re-applying
    the window's counts. Without this, a replayed delete window would
    silently double-decrement n_docs/total_tokens (the delete-merge
    no-ops on absent rows but the fold's counts come from the window)."""
    meta = store_state.read(os.path.join(base, _META))
    root = meta.get("corpus_root")
    if root is None:
        raise ValueError(
            "index is not bound to a document table — call "
            "bind_text_index(base, doc_root) after building"
        )
    if meta.get("pending"):
        _recover_window(spark, base, meta)
        meta = store_state.read(os.path.join(base, _META))
    last = int(meta["corpus_version"])
    cur = TF.current_version(root)
    if cur == last:
        return cur
    # pending carries the POSTINGS version too: the fold commits a known
    # phase sequence (delete-merge, then add-merge), so recovery can read
    # exactly how many phases landed from the postings commit count —
    # doc-id presence alone cannot tell an updated document's pre-image
    # from its landed post-image
    meta["pending"] = [
        last, cur, TF.current_version(os.path.join(base, "postings"))
    ]
    store_state.write(os.path.join(base, _META), meta)
    ch = TF.read_changes(
        spark, root, key=meta["corpus_key"],
        from_version=last, to_version=cur, include_preimage=True,
    )
    fold_text_index_changes(
        spark, base, ch,
        text_col=meta["corpus_text_col"], id_col=meta["corpus_key"],
    )
    # fold rewrote the meta scalars — re-read before advancing the pointer
    meta = store_state.read(os.path.join(base, _META))
    meta["corpus_version"] = cur
    meta.pop("pending", None)
    store_state.write(os.path.join(base, _META), meta)
    return cur


def _recover_window(spark: SparkSession, base: str, meta: dict) -> None:
    """Idempotently re-apply a crashed sync's window [from, to]: the fold
    commits its phases in a fixed order (delete-merge, then add-merge —
    each an atomic postings commit), and the pending record carries the
    postings version the fold started from, so the number of phases that
    LANDED is read exactly from the postings commit count. Recovery
    applies only the missing suffix, then RECOMPUTES n_docs/total_tokens
    from the postings (one recovery-only aggregate) — the crashed run may
    or may not have applied its incremental decrements, and a replayed
    window must not re-apply window counts (that would silently
    double-decrement on delete windows)."""
    frm, to, p_v0 = (int(x) for x in meta["pending"])
    id_col, text_col = meta["corpus_key"], meta["corpus_text_col"]
    ch = TF.read_changes(
        spark, meta["corpus_root"], key=id_col,
        from_version=frm, to_version=to, include_preimage=True,
    )
    postings_root = os.path.join(base, "postings")
    removed = ch.where(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    added = ch.where(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    victims = None
    if not removed.isEmpty():
        rtoks = removed.select(
            "doc_id", F.posexplode(TXT.tokens("text")).alias("pos", "tok")
        )
        v = TF.with_bucket(
            _postings(rtoks), key="tok", n_buckets=meta["n_buckets"]
        )
        if not v.isEmpty():
            victims = v
    phases = ([("del", victims)] if victims is not None else []) + (
        [("add", added)] if not added.isEmpty() else []
    )
    landed = TF.current_version(postings_root) - p_v0
    if not 0 <= landed <= len(phases):
        raise ValueError(
            f"recover_window: postings advanced by {landed} commits but "
            f"the window folds {len(phases)} phases — another writer on "
            "this index? (single-maintainer contract)"
        )
    for kind, payload in phases[landed:]:
        if kind == "del":
            TF.merge_into(
                spark, postings_root,
                payload.select("bucket", "tok", "doc_id"),
                on=["tok", "doc_id"],
                when_matched="delete", when_not_matched=None,
                check_cardinality=False,
            )
        else:
            atoks = payload.select(
                "doc_id",
                F.posexplode(TXT.tokens("text")).alias("pos", "tok"),
            )
            TF.merge_into(
                spark, postings_root,
                TF.with_bucket(
                    _postings(atoks), key="tok",
                    n_buckets=meta["n_buckets"],
                ),
                on=["tok", "doc_id"],
                when_matched=None,
                check_cardinality=False,
            )
    row = (
        TF.read_table(spark, postings_root)
        .agg(F.countDistinct("doc_id"), F.sum("tfc"))
        .first()
    )
    meta["n_docs"] = int(row[0] or 0)
    meta["total_tokens"] = int(row[1] or 0)
    meta["corpus_version"] = to
    meta.pop("pending", None)
    store_state.write(os.path.join(base, _META), meta)
