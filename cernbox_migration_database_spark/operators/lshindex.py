"""Incremental MinHash-LSH near-duplicate INDEX over a versioned corpus.

The production near-dup service shape: `minhash_lsh_dedup` (dedup.py)
re-processes the whole corpus every run — right for a one-shot sweep,
wrong for the daily question "is anything in TODAY'S batch a near-dup
of the 100 TB corpus?". This module materializes the corpus's banded
signature rows ONCE as a bucket-partitioned versioned table, keeps it
current through the base table's change feed, and answers probes by
reading only the band buckets the batch's signatures hash into — probe
cost is O(batch × bands) bucket reads + candidate-only verification,
independent of corpus size (the same manifest-planned pruning discipline
as textindex.bm25_probe).

Unlike the text index (documents immutable, replays rejected), LSH band
rows are EXACTLY keyed by (band, bv, doc_id): a deleted or updated
document's rows can be reconstructed from its change-feed PRE-image and
merge-deleted, so refresh supports the full insert/delete/update
lifecycle with no rebuild — the index stays a pure function of the
corpus snapshot, which the catalog oracle differentials end-to-end.

Hash parity: signatures/bands reuse dedup.py's md5-derived constructions
(engine-portable — the DuckDB oracle recomputes them bit-identically);
the bucket transform is table_format.with_bucket's xxhash64, which is
layout-internal and never compared cross-engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store_state
from . import table_format as TF
from .dedup import BAND_SIZE, NUM_MINHASHES, _shingle_sets, minhash_signatures

_META = "_lsh_meta.json"


def _band_rows(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    band_size: int,
) -> DataFrame:
    """(doc_id, band, bv) — one row per (document, band), bv = md5 over
    the band's minhash slices, the same construction as
    dedup.lsh_candidate_pairs (and the SQL oracle's ``md5(h0 || '|' ||
    h1)``)."""
    n_bands = num_hashes // band_size
    band_vals = [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"h{b * band_size + r}") for r in range(band_size)],
            )
        )
        for b in range(n_bands)
    ]
    return sigs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.array(*band_vals)).alias("band", "bv"),
    )


def _doc_bands(
    docs: DataFrame, st: dict, with_bucket: bool = True, sets_df=None
) -> DataFrame:
    """``sets_df`` lets a caller that ALSO needs the documents' shingle
    sets (probe verification) share one tokenize+persist instead of
    re-shingling the same rows twice."""
    rows = _band_rows(
        minhash_signatures(
            docs,
            text_col=st["text_col"],
            id_col=st["id_col"],
            k=st["k"],
            num_hashes=st["num_hashes"],
            sets_df=sets_df,
        ),
        st["id_col"],
        st["num_hashes"],
        st["band_size"],
    )
    if with_bucket:
        rows = TF.with_bucket(rows, key="bv", n_buckets=st["n_buckets"])
    return rows


def build_lsh_index(
    spark: SparkSession,
    base_root: str,
    index_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = NUM_MINHASHES,
    band_size: int = BAND_SIZE,
    n_buckets: int = 16,
) -> int:
    """Materialize the band rows of the versioned corpus at ``base_root``
    as a bucket-partitioned versioned table — one corpus signature pass,
    after which probes never touch corpus text except to verify their own
    candidates. Returns the base version the index reflects."""
    st = {
        "base_root": base_root,
        "base_version": TF.current_version(base_root),
        "text_col": text_col,
        "id_col": id_col,
        "k": k,
        "num_hashes": num_hashes,
        "band_size": band_size,
        "n_buckets": n_buckets,
    }
    docs = TF.read_table(spark, base_root, st["base_version"])
    TF.create_table(
        _doc_bands(docs, st), os.path.join(index_root, "bands"),
        partition_by="bucket", distribute=True,
    )
    os.makedirs(index_root, exist_ok=True)
    store_state.write(os.path.join(index_root, _META), st)
    return st["base_version"]


def refresh_lsh_index(
    spark: SparkSession, index_root: str, _changes: DataFrame | None = None
) -> int:
    """Fold the base change feed: inserted/updated docs' band rows merge
    in, deleted/updated docs' OLD rows are reconstructed from the
    change-feed pre-images and merge-deleted — signature cost is
    O(changed docs), write cost is bounded by the buckets their band
    values hash into (the with_bucket COW discipline). The index is a
    pure function of the corpus snapshot again afterwards.

    ``_changes`` lets a caller that already diffed the SAME
    (state-version → current) window (clusterindex ingest) hand it over
    instead of paying the two snapshot scans again; it must carry
    ``_change_type`` with pre-images included."""
    bands_root = os.path.join(index_root, "bands")
    key = ["band", "bv", "doc_id"]

    def fold(st, ch, cur):
        removed = ch.where(
            F.col("_change_type").isin("delete", "update_preimage")
        ).drop("_change_type", "_commit_version")
        if not removed.isEmpty():
            TF.merge_into(
                spark, bands_root, _doc_bands(removed, st),
                on=key, when_matched="delete", when_not_matched=None,
                check_cardinality=False,
            )
        added = ch.where(
            F.col("_change_type").isin("insert", "update_postimage")
        ).drop("_change_type", "_commit_version")
        if not added.isEmpty():
            TF.merge_into(
                spark, bands_root, _doc_bands(added, st),
                on=key, when_matched=None, check_cardinality=False,
            )

    return store_state.fold_window(
        spark, os.path.join(index_root, _META), fold, key="id_col",
        preimage=True, changes=_changes,
    )


def probe_lsh_index(
    spark: SparkSession,
    index_root: str,
    batch: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dups of ``batch`` against the indexed corpus:
    (query_id, corpus_id, jaccard) for every corpus document whose exact
    shingle Jaccard with a batch document reaches ``threshold``.

    Plan shape at 100 TB: the batch is signatured (batch-sized), its band
    values name at most ``n_buckets`` index partitions — read through the
    manifest-planned pruned scan, never a full index pass — and exact
    verification reads ONLY the candidate corpus documents' text
    (semi-join on candidate ids against the base snapshot). No stage
    touches the non-candidate corpus."""
    st = store_state.read(os.path.join(index_root, _META))
    bands_root = os.path.join(index_root, "bands")
    id_col = st["id_col"]
    # one shingle pass for the batch, shared between signaturing and the
    # exact-verify side below (was two independent tokenize+persist chains
    # over the same rows); fanout=False — the probe batch is bounded, so
    # the parallelism-guard repartition only inflated every downstream
    # stage to 32 tasks (r13, guide §2.4)
    sets_b = _shingle_sets(
        batch, st["text_col"], id_col, None, st["k"], fanout=False
    )
    # eager localCheckpoint: the batch's band rows feed the bucket collect
    # AND the candidate join — materializing the batch-sized relation once
    # stops each consumer re-running the signature aggregation (r13,
    # guide §3.3/§5)
    qb = (
        _doc_bands(batch, st, with_bucket=True, sets_df=sets_b)
        .select(F.col("doc_id").alias("query_id"), "band", "bv", "bucket")
        .localCheckpoint()
    )
    # buckets to probe: metadata-sized (<= n_buckets) driver-side list,
    # intersected with the partitions the manifest says exist
    probe = {r["bucket"] for r in qb.select("bucket").distinct().collect()}
    have = {
        e["path"].split("/", 1)[0]
        for e in TF.manifest(bands_root)
        if "/" in e["path"]
    }
    rels = [f"bucket={b}" for b in sorted(probe) if f"bucket={b}" in have]
    if not rels:
        t = batch.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"query_id {t}, corpus_id {t}, jaccard double"
        )
    # query_id != corpus_id: probing a document already present in the
    # indexed corpus must not return its trivial self-pair at jaccard 1.0
    # — the same contract as probe_ivf_index/probe_ivfpq_index (and it
    # removes clusterindex replay's hidden reliance on its label
    # inner-join to drop them)
    # checkpointed: the candidate-pair relation (bounded by batch ×
    # colliding band rows) is consumed THREE times (corpus semi-join,
    # verify semi-join — and each consumer would otherwise re-run the
    # pruned scan + join + distinct)
    cands = (
        TF.scan_partitions(spark, bands_root, rels)
        .join(qb.drop("bucket"), ["band", "bv"])
        .select("query_id", F.col("doc_id").alias("corpus_id"))
        .where(F.col("query_id") != F.col("corpus_id"))
        .distinct()
        .localCheckpoint()
    )
    corpus = TF.read_table(spark, st["base_root"], st["base_version"]).join(
        cands.select(F.col("corpus_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    cs = _shingle_sets(corpus, st["text_col"], id_col, None, st["k"]).select(
        F.col(id_col).alias("corpus_id"),
        F.col("n_sh").alias("nc"),
        F.explode("sh").alias("shingle"),
    )
    qs = sets_b.select(
        F.col(id_col).alias("query_id"),
        F.col("n_sh").alias("nq"),
        F.explode("sh").alias("shingle"),
    )
    inter = (
        qs.join(cs, "shingle")
        .join(cands, ["query_id", "corpus_id"], "left_semi")
        .groupBy("query_id", "corpus_id", "nq", "nc")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter.select(
        "query_id",
        "corpus_id",
        (
            F.col("inter").cast("double")
            / (F.col("nq") + F.col("nc") - F.col("inter"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)
