"""The reference pipeline's own surface: path/kv parsing (F1-F13), the 4-way router, and the flagship end-to-end migration differential (SURVEY §2.8, §3.1).

Split out of the monolithic queries.py (round 8); registration behavior
is identical — every ``@register`` feeds the shared registry in
``._registry`` and the public names re-export through the package root.
"""

from __future__ import annotations

from ..functions.kv import length_prefixed_value, parse_kv_map, safe_cast_long
from ..functions.paths import path_base, path_dir, path_parent_name, versions_path
from ..operators import text as TX
from ..operators.router import decision_col
from ..operators.scd2 import scd2_apply
from ..plans.migration import run_migration
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from ._registry import _t, _versioned_scratch, register
from .text import _TOKS
from .train import _pack_bins_two_level


_DOC_PATH_SQL = "'/data/' || source || '/' || lang || '/doc_' || doc_id || '.txt'"


@register(
    "path_functions",
    f"""
    SELECT doc_id,
           p AS path,
           string_split(p, '/')[-1] AS base,
           p[1 : len(p) - len(string_split(p, '/')[-1]) - 1] AS dir,
           string_split(p, '/')[-2] AS parent_name,
           p[1 : len(p) - len(string_split(p, '/')[-1]) - 1]
             || '/.sys.v#.' || string_split(p, '/')[-1] AS versions_path
    FROM (SELECT doc_id, {_DOC_PATH_SQL} AS p FROM documents)
    """,
)
def path_functions(spark, sf_dir):
    """F1/F2/F3/F7 over a derived path column (main.go:141-146)."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "path",
        F.concat(
            F.lit("/data/"),
            F.col("source"),
            F.lit("/"),
            F.col("lang"),
            F.lit("/doc_"),
            F.col("doc_id").cast("string"),
            F.lit(".txt"),
        ),
    )
    return d.select(
        "doc_id",
        "path",
        path_base("path").alias("base"),
        path_dir("path").alias("dir"),
        path_parent_name("path").alias("parent_name"),
        versions_path("path").alias("versions_path"),
    )


@register(
    "router_4way",
    """
    SELECT doc_id, p AS path,
           CASE
             WHEN starts_with(string_split(p, '/')[-1], '.sys.v#.') THEN 'ALREADY_POINTS_TO_VERSION_FOLDER'
             WHEN NOT starts_with(p, '/eos/') THEN 'NOT_UNDER_HOME'
             WHEN starts_with(string_split(p, '/')[-2], '.sys.v#.') THEN 'POINTS_TO_A_VERSION'
             ELSE 'DEFAULT'
           END AS decision
    FROM (SELECT doc_id,
                 CASE doc_id % 4
                   WHEN 0 THEN '/eos/user/d/docs/.sys.v#.doc_' || doc_id || '.txt'
                   WHEN 1 THEN '/tmp/out/doc_' || doc_id || '.txt'
                   WHEN 2 THEN '/eos/user/d/.sys.v#.doc_' || doc_id || '/r1.bin'
                   ELSE '/eos/user/d/docs/doc_' || doc_id || '.txt'
                 END AS p
          FROM documents)
    """,
)
def router_4way(spark, sf_dir):
    """P4-P6 4-way router (main.go:280-315) over synthesized paths hitting
    every branch; decision computed by operators.router.decision_col."""
    d = _t(spark, sf_dir, "documents")
    doc_id_s = F.col("doc_id").cast("string")
    path = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("/eos/user/d/docs/.sys.v#.doc_"), doc_id_s, F.lit(".txt")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("/tmp/out/doc_"), doc_id_s, F.lit(".txt")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("/eos/user/d/.sys.v#.doc_"), doc_id_s, F.lit("/r1.bin")),
        )
        .otherwise(F.concat(F.lit("/eos/user/d/docs/doc_"), doc_id_s, F.lit(".txt")))
    )
    return d.select(
        "doc_id",
        path.alias("path"),
        decision_col(path, home_prefix="/eos/").alias("decision"),
    )


@register(
    "kv_parse_map",
    """
    SELECT event_id,
           CAST(regexp_extract(raw, 'uid=([0-9]+)', 1) AS BIGINT) AS uid,
           regexp_extract(raw, 'type=([a-z]+)', 1) AS etype
    FROM (SELECT event_id,
                 'uid=' || user_id || ' type=' || event_type || ' raw' AS raw
          FROM events)
    """,
)
def kv_parse_map(spark, sf_dir):
    """F5/F6 key=value parse (main.go:184-190): build the wire format, parse
    it with the exact keep-len==2 semantics, extract typed fields.
    parse_kv_map dedupes keys structurally (last-wins), so no session conf
    is touched — the duplicate-map-key policy of the caller's session stays
    whatever the caller set it to."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "raw",
        F.concat(
            F.lit("uid="),
            F.col("user_id").cast("string"),
            F.lit(" type="),
            F.col("event_type"),
            F.lit(" raw"),  # a bare token the parser must skip
        ),
    )
    m = parse_kv_map("raw")
    return ev.select(
        "event_id",
        F.element_at(m, "uid").try_cast("long").alias("uid"),
        F.element_at(m, "type").alias("etype"),
    )


@register(
    "kv_length_prefixed",
    """
    SELECT doc_id,
           raw[16 + len(regexp_extract(raw, '^keylength.file=([0-9]+) file=', 1)) + 6 :
               15 + len(regexp_extract(raw, '^keylength.file=([0-9]+) file=', 1)) + 6
                  + CAST(regexp_extract(raw, '^keylength.file=([0-9]+) file=', 1) AS INT)]
             AS file_path
    FROM (SELECT doc_id,
                 'keylength.file=' || len(p) || ' file=' || p || ' ino=' || doc_id AS raw
          FROM (SELECT doc_id, '/eos/docs/' || lang || '/doc ' || doc_id || ' v1.txt' AS p
                FROM documents))
    """,
)
def kv_length_prefixed(spark, sf_dir):
    """F10 — the #1 parity trap (main.go:192-198): length-prefixed extraction
    of a path containing spaces; Go 0-indexed +7 becomes 1-indexed +8."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "p",
        F.concat(
            F.lit("/eos/docs/"),
            F.col("lang"),
            F.lit("/doc "),
            F.col("doc_id").cast("string"),
            F.lit(" v1.txt"),
        ),
    )
    raw = d.withColumn(
        "raw",
        F.concat(
            F.lit("keylength.file="),
            F.length("p").cast("string"),
            F.lit(" file="),
            F.col("p"),
            F.lit(" ino="),
            F.col("doc_id").cast("string"),
        ),
    )
    return raw.select("doc_id", length_prefixed_value("raw").alias("file_path"))


@register(
    "cast_deadletter",
    """
    SELECT event_id,
           TRY_CAST(s AS BIGINT) AS parsed,
           (s IS NOT NULL AND TRY_CAST(s AS BIGINT) IS NULL) AS is_dead
    FROM (SELECT event_id,
                 CASE WHEN user_id % 7 = 0 THEN 'x' || user_id
                      ELSE CAST(user_id AS VARCHAR) END AS s
          FROM events)
    """,
)
def cast_deadletter(spark, sf_dir):
    """F9 Go-error-vs-Spark-null parity: garbled numerics must be *flagged*
    (dead-letter), not silently nulled (main.go:193-202)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "s",
        F.when(
            F.col("user_id") % 7 == 0, F.concat(F.lit("x"), F.col("user_id").cast("string"))
        ).otherwise(F.col("user_id").cast("string")),
    )
    r = safe_cast_long("s")
    return ev.select(
        "event_id",
        r.getField("value").alias("parsed"),
        r.getField("is_dead").alias("is_dead"),
    )


@register(
    "deletion_propagation",
    """
    WITH del AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
    e AS (SELECT COUNT(*) AS n,
                 COUNT(*) FILTER (WHERE user_id IN (SELECT user_id FROM del))
                   AS nd
          FROM events),
    c AS (SELECT COUNT(*) AS n,
                 COUNT(*) FILTER (WHERE c_custkey IN (SELECT user_id FROM del))
                   AS nd
          FROM customer)
    SELECT 'events' AS tbl, n AS n_before, nd AS n_deleted,
           n - nd AS n_after FROM e
    UNION ALL
    SELECT 'customer', n, nd, n - nd FROM c
    """,
)
def deletion_propagation(spark, sf_dir):
    """Right-to-be-forgotten propagation (operators/purge.py): a deletion
    list (here: users with id % 97 = 0, standing in for a request table)
    is anti-joined out of every table referencing the key, with a one-row
    audit per table (before/deleted/after counts) — the governance
    operation a user-data training pipeline must run, and the audited-
    mutation shape of the reference generalized to deletes. Per table one
    pass: the broadcast deletion list tags rows for the audit aggregate
    and feeds the anti-join for the purge; fact tables never shuffle. The
    query returns the audit (the driver-comparable artifact); the purged
    tables are the same lazy plans, write-ready."""
    from ..operators.purge import propagate_deletions

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    deletions = (
        ev.where(F.col("user_id") % 97 == 0).select("user_id").distinct()
    )
    _purged, audit = propagate_deletions(
        {"events": (ev, "user_id"), "customer": (cust, "c_custkey")},
        deletions,
    )
    return audit


_MIG_SHARES_SQL = """
  shares AS (
    SELECT o_orderkey AS id,
           CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 3 END AS share_type,
           CASE WHEN o_orderkey % 7 = 0 THEN 'folder' ELSE 'file' END AS item_type,
           'old' AS item_source, '/old' AS item_target,
           CASE WHEN o_orderkey % 11 = 0 THEN -o_orderkey
                ELSE o_orderkey END AS file_source,
           '/old' AS file_target
    FROM orders)
"""


_MIG_META_SQL = """
  meta AS (
    SELECT o_orderkey AS inode,
           CASE o_orderkey % 4
             WHEN 0 THEN '/eos/u/.sys.v#.f' || o_orderkey
             WHEN 1 THEN '/tmp/f' || o_orderkey
             WHEN 2 THEN '/eos/u/.sys.v#.d' || o_orderkey || '/v1'
             ELSE '/eos/u/f' || o_orderkey
           END AS path
    FROM orders
    UNION ALL
    SELECT o_orderkey + 10000000, '/eos/u/.sys.v#.d' || o_orderkey
    FROM orders WHERE o_orderkey % 4 = 2
    UNION ALL
    SELECT o_orderkey + 20000000, '/eos/u/.sys.v#.f' || o_orderkey
    FROM orders WHERE o_orderkey % 4 = 3 AND o_orderkey % 3 <> 0)
"""


_MIG_PIPE_SQL = f"""
  WITH {_MIG_SHARES_SQL}, {_MIG_META_SQL},
  scan AS (
    SELECT * FROM shares WHERE share_type = 3 AND item_type = 'file'),
  enriched AS (
    SELECT s.*, m.inode AS f_inode, m.path AS f_path
    FROM scan s LEFT JOIN meta m ON s.file_source = m.inode),
  routed AS (
    SELECT *,
      CASE
        WHEN f_inode IS NULL THEN 'DEAD'
        WHEN starts_with(string_split(f_path, '/')[-1], '.sys.v#.')
          THEN 'ALREADY_POINTS_TO_VERSION_FOLDER'
        WHEN NOT starts_with(f_path, '/eos/') THEN 'NOT_UNDER_HOME'
        WHEN starts_with(string_split(f_path, '/')[-2], '.sys.v#.')
          THEN 'POINTS_TO_A_VERSION'
        ELSE 'DEFAULT'
      END AS decision,
      CASE
        WHEN f_inode IS NULL THEN NULL
        WHEN starts_with(string_split(f_path, '/')[-2], '.sys.v#.')
          THEN f_path[1 : len(f_path) - len(string_split(f_path, '/')[-1]) - 1]
        ELSE f_path[1 : len(f_path) - len(string_split(f_path, '/')[-1]) - 1]
             || '/.sys.v#.' || string_split(f_path, '/')[-1]
      END AS target_path
    FROM enriched),
  updates AS (
    SELECT r.id,
           CAST(v.inode AS VARCHAR) AS item_source,
           '/' || v.inode AS item_target,
           v.inode AS file_source,
           '/' || string_split(v.path, '/')[-1] AS file_target
    FROM routed r JOIN meta v ON r.target_path = v.path
    WHERE r.decision IN ('POINTS_TO_A_VERSION', 'DEFAULT'))
"""


@register(
    "migration_merged",
    f"""
    {_MIG_PIPE_SQL}
    SELECT s.id,
           COALESCE(u.item_source, s.item_source) AS item_source,
           COALESCE(u.item_target, s.item_target) AS item_target,
           COALESCE(u.file_source, s.file_source) AS file_source,
           COALESCE(u.file_target, s.file_target) AS file_target,
           u.id IS NOT NULL AS updated
    FROM shares s LEFT JOIN updates u ON s.id = u.id
    """,
)
def migration_merged(spark, sf_dir):
    """END-TO-END: the composed migration plan (plans/migration.py) on
    synthetic oc_share/eos_meta derived from `orders`, every stage mirrored
    in the oracle CTEs. Exercises scan filters, the enrichment join, all
    four router branches, derived-path lookup, update-set construction
    (main.go:218,228 semantics) and the merge."""
    res = _run_mig(spark, sf_dir)
    return res.merged.select(
        "id", "item_source", "item_target", "file_source", "file_target", "updated"
    )


@register(
    "migration_audit",
    f"""
    {_MIG_PIPE_SQL}
    SELECT id, decision FROM routed
    WHERE decision IN ('ALREADY_POINTS_TO_VERSION_FOLDER', 'NOT_UNDER_HOME')
    UNION ALL
    SELECT r.id, r.decision
    FROM routed r JOIN meta v ON r.target_path = v.path
    WHERE r.decision IN ('POINTS_TO_A_VERSION', 'DEFAULT')
    """,
)
def migration_audit(spark, sf_dir):
    """The audit stream (S8) as a queryable output: one decision row per
    routed share that reached a terminal state."""
    return _run_mig(spark, sf_dir).audit.select("id", "decision")


@register(
    "migration_dead_letters",
    f"""
    {_MIG_PIPE_SQL}
    SELECT id, 'eos_info_by_inode' AS error_stage FROM routed
    WHERE decision = 'DEAD'
    UNION ALL
    SELECT r.id, 'versions_folder_missing' AS error_stage
    FROM routed r LEFT JOIN meta v ON r.target_path = v.path
    WHERE r.decision = 'DEFAULT' AND v.path IS NULL
    """,
)
def migration_dead_letters(spark, sf_dir):
    """The dead-letter stream (S9/X4): rows that failed enrichment or whose
    versions folder is missing (no create sink configured here)."""
    return _run_mig(spark, sf_dir).dead.select("id", "error_stage")


def _mig_shares(spark, sf_dir):
    """The synthetic oc_share fixture (FIXTURES.md §B), shared by the
    migration pipeline runner and the versioned-sink integration query."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    return o.select(
        k.alias("id"),
        F.when(k % 5 == 0, 1).otherwise(3).alias("share_type"),
        F.when(k % 7 == 0, "folder").otherwise("file").alias("item_type"),
        F.lit("old").alias("item_source"),
        F.lit("/old").alias("item_target"),
        F.when(k % 11 == 0, -k).otherwise(k).alias("file_source"),
        F.lit("/old").alias("file_target"),
    )


def _run_mig(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    ks = k.cast("string")
    shares = _mig_shares(spark, sf_dir)
    base_meta = o.select(
        k.alias("inode"),
        F.when(k % 4 == 0, F.concat(F.lit("/eos/u/.sys.v#.f"), ks))
        .when(k % 4 == 1, F.concat(F.lit("/tmp/f"), ks))
        .when(k % 4 == 2, F.concat(F.lit("/eos/u/.sys.v#.d"), ks, F.lit("/v1")))
        .otherwise(F.concat(F.lit("/eos/u/f"), ks))
        .alias("path"),
    )
    parents = (
        o.where(k % 4 == 2)
        .select((k + 10000000).alias("inode"),
                F.concat(F.lit("/eos/u/.sys.v#.d"), ks).alias("path"))
    )
    versions = (
        o.where((k % 4 == 3) & (k % 3 != 0))
        .select((k + 20000000).alias("inode"),
                F.concat(F.lit("/eos/u/.sys.v#.f"), ks).alias("path"))
    )
    meta = (
        base_meta.unionByName(parents).unionByName(versions)
        .withColumn("uid", F.lit("u"))
        .withColumn("gid", F.lit("g"))
        .withColumn("size", F.col("inode"))
    )
    return run_migration(shares, meta, home_prefix="/eos/", create_fn=None)


@register(
    "migration_upsert_versioned",
    f"""
    {_MIG_PIPE_SQL}
    SELECT s.id, s.share_type,
           COALESCE(u.item_source, s.item_source) AS item_source,
           COALESCE(u.item_target, s.item_target) AS item_target,
           COALESCE(u.file_source, s.file_source) AS file_source,
           COALESCE(u.file_target, s.file_target) AS file_target
    FROM shares s LEFT JOIN updates u ON s.id = u.id
    ORDER BY s.id
    """,
)
def migration_upsert_versioned(spark, sf_dir):
    """The reference's UPDATE sink (main.go:217-240) in its PRODUCTION
    Spark form, end to end: the full migration pipeline's update set is
    MERGEd into a versioned oc_share table and the committed snapshot read
    back. The share table is partitioned by share_type and the update
    source carries only the mutated columns (id + the four item/file
    fields): the COW merge therefore rewrites EXACTLY the share_type=3
    partition — omitted columns keep target values and, because the
    source omits the partition column, cannot move rows, so no other
    partition is touched (asserted against the commit log). Everything
    the per-row MySQL loop did — update-set construction, key-unique
    cardinality, rows-affected accounting — happens as one declarative
    merge with snapshot isolation and time travel on top."""
    from ..operators import table_format as TF

    root = _versioned_scratch("migsink", sf_dir)
    shares = _mig_shares(spark, sf_dir)
    TF.create_table(shares, root, partition_by="share_type")
    res = _run_mig(spark, sf_dir)
    TF.merge_into(spark, root, res.updates, on="id", when_not_matched=None)
    touched = TF.history(root)[-1]["touched_partitions"]
    assert touched == ["share_type=3"], touched
    return (
        TF.read_table(spark, root)
        .select(
            "id",
            "share_type",
            "item_source",
            "item_target",
            "file_source",
            "file_target",
        )
        .orderBy("id")
    )


@register(
    "txn_multi_table",
    """
    WITH base AS (
      SELECT o_orderpriority AS priority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 IN (0, 1))
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(COUNT(*) AS BIGINT) AS n_from_facts,
           CAST(SUM(cents) AS BIGINT) AS sum_from_facts
    FROM base GROUP BY priority ORDER BY priority
    """,
)
def txn_multi_table(spark, sf_dir):
    """Multi-table atomic commit (operators/txn.py): a facts table and
    its summary table move together — the delta batch is MERGEd into
    facts (COW, partition-pruned) and ADDITIVELY into the summary, both
    staged with write-audit-publish, then committed through the intent
    log + one atomic catalog swap. The query reads BOTH tables back
    through the catalog and emits the summary beside a fresh
    recomputation from facts — the differential therefore proves the
    transaction's cross-table invariant (summary == agg(facts)) AND the
    final values against the relational oracle."""
    import os

    from ..operators import table_format as TF
    from ..operators import txn as TXN

    base = _versioned_scratch("txnmulti", sf_dir)
    os.makedirs(base, exist_ok=True)
    froot, sroot = os.path.join(base, "facts"), os.path.join(base, "summary")
    cat = os.path.join(base, "catalog.json")
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("long").alias("cents")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("priority"), cents
    )
    facts0 = orders.where(F.col("o_orderkey") % 3 == 0)
    summarize = lambda df: df.groupBy("priority").agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    TF.create_table(facts0, froot, partition_by="priority")
    TF.create_table(summarize(facts0), sroot)
    TXN.create_catalog(cat, {"facts": froot, "summary": sroot})

    delta = orders.where(F.col("o_orderkey") % 3 == 1)
    txn = TXN.MultiTableTxn(cat)
    txn.stage(
        "facts",
        lambda root: TF.merge_into(
            spark, root, delta, on="o_orderkey", publish=False
        ),
    )
    txn.stage(
        "summary",
        lambda root: TF.merge_into(
            spark,
            root,
            summarize(delta),
            on="priority",
            update_set={
                "n_orders": lambda t, s: t["n_orders"] + s["n_orders"],
                "sum_cents": lambda t, s: t["sum_cents"] + s["sum_cents"],
            },
            publish=False,
        ),
    )
    txn.commit()

    snap = TXN.catalog_snapshot(spark, cat)
    summ = snap["summary"]
    refacts = summarize(snap["facts"]).select(
        "priority",
        F.col("n_orders").alias("n_from_facts"),
        F.col("sum_cents").alias("sum_from_facts"),
    )
    return summ.join(refacts, "priority").orderBy("priority")


@register(
    "scd2_apply",
    """
    WITH dim AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
             TIMESTAMP '2261-12-31 00:00:00' AS valid_to
      FROM customer),
    upd AS (
      SELECT c_custkey,
             c_mktsegment,
             c_acctbal + 50.0 AS c_acctbal,
             TIMESTAMP '2024-06-01 00:00:00' AS ts
      FROM customer WHERE c_custkey % 3 = 0),
    joined AS (
      SELECT d.*, u.c_mktsegment AS u_seg, u.c_acctbal AS u_bal, u.ts AS u_ts
      FROM dim d LEFT JOIN upd u USING (c_custkey)),
    kept AS (
      SELECT c_custkey, c_mktsegment, c_acctbal, valid_from,
             CASE WHEN u_ts IS NOT NULL
                       AND (c_mktsegment IS DISTINCT FROM u_seg
                            OR c_acctbal IS DISTINCT FROM u_bal)
                  THEN u_ts ELSE valid_to END AS valid_to
      FROM joined),
    opened AS (
      SELECT c_custkey, u_seg AS c_mktsegment, u_bal AS c_acctbal,
             u_ts AS valid_from,
             TIMESTAMP '2261-12-31 00:00:00' AS valid_to
      FROM joined
      WHERE u_ts IS NOT NULL
        AND (c_mktsegment IS DISTINCT FROM u_seg
             OR c_acctbal IS DISTINCT FROM u_bal))
    SELECT * FROM kept UNION ALL SELECT * FROM opened
    """,
)
def scd2_apply_query(spark, sf_dir):
    """SCD2/CDC apply (operators/scd2.py): a +50.0 balance change for every
    third customer closes the current version at the effective ts and opens
    a new one; unchanged rows pass through bit-for-bit."""
    c = _t(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.lit("2020-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit("2261-12-31 00:00:00").cast("timestamp").alias("valid_to"),
    )
    updates = (
        c.where(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey", "c_mktsegment",
            (F.col("c_acctbal") + F.lit(50.0)).alias("c_acctbal"),
            F.lit("2024-06-01 00:00:00").cast("timestamp").alias("ts"),
        )
    )
    return scd2_apply(dim, updates, key="c_custkey", attrs=["c_mktsegment", "c_acctbal"])


@register(
    "pipeline_end_to_end",
    rf"""
    WITH toks AS (SELECT doc_id, lang, text, {_TOKS} AS t FROM documents),
    qual AS (
      SELECT doc_id, lang, text, CAST(len(t) AS BIGINT) AS n_tok
      FROM toks
      WHERE len(t) >= 20
        AND CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.3),
    fp AS (
      SELECT doc_id, lang, n_tok,
             ROW_NUMBER() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
      FROM qual),
    surv AS (SELECT doc_id, lang, n_tok FROM fp WHERE rn = 1),
    ordered AS (
      SELECT doc_id, lang, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM surv)
    SELECT doc_id, lang, n_tok,
           CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS bin
    FROM ordered
    """,
)
def pipeline_end_to_end(spark, sf_dir):
    """The WHOLE training-data prep chain as one declarative plan — what a
    user of this engine actually ships: quality gate (token count +
    distinct-token ratio, the with_quality thresholds) -> exact dedup on
    the normalized-text fingerprint (keep the minimum doc_id per
    fingerprint — a PARTITIONED window, one shuffle on the fingerprint,
    cheaper than groupBy+join-back) -> deterministic two-level token-bin
    packing (the train_token_packing plan, reused). Because every stage is
    a DataFrame transform, Catalyst fuses the quality filter into the scan
    and the corpus is shuffled exactly TWICE end-to-end (fingerprint
    window, pack window) regardless of corpus size — the remaining
    exchanges in the plan move only the |langs|x16-row offsets aggregate.
    Oracle: the same chain as CTEs."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", "text", TX.tokens("text").alias("_t"))
    qual = base.select(
        "doc_id",
        "lang",
        "text",
        F.size("_t").cast("long").alias("n_tok"),
        (
            F.size(F.array_distinct("_t")).cast("double") / F.size("_t")
        ).alias("_dr"),
    ).where((F.col("n_tok") >= 20) & (F.col("_dr") >= 0.3))
    w_fp = W.partitionBy(TX.fingerprint("text")).orderBy("doc_id")
    surv = (
        qual.withColumn("_rn", F.row_number().over(w_fp))
        .where(F.col("_rn") == 1)
        .select("doc_id", "lang", "n_tok")
    )
    return _pack_bins_two_level(surv)

