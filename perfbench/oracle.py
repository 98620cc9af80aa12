"""DuckDB oracles over the same generated files the program reads.

The migration oracle restates the whole share migration -- reply parsing,
enrichment, the 4-way router, the versions-folder lookups, the create sink
and the update -- as one SQL statement, in the pattern of the registered
``_MIG_PIPE_SQL`` oracle. The pipeline oracle is the registered
``pipeline_pretraining_corpus`` oracle, run over the generated documents.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

from gen import CREATED_BASE, HOME_PREFIX, LOCKED_UID, VERSIONS_PREFIX

MERGED_COLS = ["id", "share_type", "item_source", "item_target", "file_source", "file_target"]

_MIGRATION_SQL = r"""
WITH raw AS (SELECT inode, raw FROM read_parquet('{meta}')),
toks AS (
  SELECT inode, raw,
         regexp_extract(raw, '^keylength\.file=(\d+) file=', 1) AS digits,
         list_filter(list_transform(string_split(raw, ' '), t -> string_split(t, '=')),
                     a -> len(a) = 2) AS kv
  FROM raw),
meta AS (
  SELECT inode,
         substr(raw, 15 + len(digits) + 6 + 1, TRY_CAST(digits AS INTEGER)) AS path,
         list_filter(kv, a -> a[1] = 'uid')[-1][2] AS uid
  FROM toks WHERE digits <> ''),
shares AS (SELECT * FROM read_parquet('{shares}')),
scan AS (SELECT id, file_source FROM shares WHERE share_type = 3 AND item_type = 'file'),
enriched AS (
  SELECT s.id, m.inode AS f_inode, m.path AS f_path, m.uid AS f_uid,
         string_split(m.path, '/')[-1] AS base
  FROM scan s LEFT JOIN meta m ON s.file_source = m.inode),
routed AS (
  SELECT *,
    CASE
      WHEN f_inode IS NULL THEN 'DEAD'
      WHEN starts_with(base, '{vp}') THEN 'ALREADY_POINTS_TO_VERSION_FOLDER'
      WHEN NOT starts_with(f_path, '{home}') THEN 'NOT_UNDER_HOME'
      WHEN starts_with(string_split(f_path, '/')[-2], '{vp}') THEN 'POINTS_TO_A_VERSION'
      ELSE 'DEFAULT'
    END AS decision,
    CASE
      WHEN starts_with(string_split(f_path, '/')[-2], '{vp}')
        THEN f_path[1 : len(f_path) - len(base) - 1]
      ELSE f_path[1 : len(f_path) - len(base) - 1] || '/{vp}' || base
    END AS target_path
  FROM enriched),
hit AS (
  SELECT r.id, r.decision, v.inode, v.path
  FROM routed r JOIN meta v ON r.target_path = v.path
  WHERE r.decision IN ('POINTS_TO_A_VERSION', 'DEFAULT')),
miss AS (
  SELECT r.id, r.f_inode, r.f_uid, r.target_path
  FROM routed r LEFT JOIN meta v ON r.target_path = v.path
  WHERE r.decision = 'DEFAULT' AND v.path IS NULL),
created AS (
  SELECT id, 'DEFAULT' AS decision, f_inode + {created} AS inode, target_path AS path
  FROM miss WHERE f_uid <> '{locked}'),
upd AS (SELECT * FROM hit UNION ALL SELECT * FROM created),
updates AS (
  SELECT id, CAST(inode AS VARCHAR) AS item_source, '/' || inode AS item_target,
         inode AS file_source, '/' || string_split(path, '/')[-1] AS file_target
  FROM upd),
audit AS (
  SELECT id, decision FROM routed
  WHERE decision IN ('ALREADY_POINTS_TO_VERSION_FOLDER', 'NOT_UNDER_HOME')
  UNION ALL SELECT id, decision FROM upd),
dead AS (
  SELECT id, 'eos_info_by_inode' AS error_stage FROM routed WHERE decision = 'DEAD'
  UNION ALL
  SELECT r.id, 'eos_info_by_parent_path' FROM routed r
  LEFT JOIN meta v ON r.target_path = v.path
  WHERE r.decision = 'POINTS_TO_A_VERSION' AND v.path IS NULL
  UNION ALL
  SELECT id, 'versions_folder_create' FROM miss WHERE f_uid IS NULL OR f_uid = '{locked}')
"""


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a table with ``MERGED_COLS``."""
    df = df[MERGED_COLS].sort_values("id", kind="mergesort").reset_index(drop=True)
    df = df.astype(
        {"id": "int64", "share_type": "int64", "file_source": "int64",
         "item_source": "string", "item_target": "string", "file_target": "string"}
    )
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return hashlib.sha256(h.tobytes()).hexdigest()


def migration_expected(in_dir: str) -> dict:
    """Merged-table hash, audit rows per decision and dead letters per stage."""
    sql = _MIGRATION_SQL.format(
        meta=os.path.join(in_dir, "eos_meta.parquet"),
        shares=os.path.join(in_dir, "shares.parquet"),
        vp=VERSIONS_PREFIX, home=HOME_PREFIX, created=CREATED_BASE, locked=LOCKED_UID,
    )
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        con.execute("SET enable_progress_bar = false")
        merged = con.execute(
            sql + """
            SELECT s.id, s.share_type,
                   COALESCE(u.item_source, s.item_source) AS item_source,
                   COALESCE(u.item_target, s.item_target) AS item_target,
                   COALESCE(u.file_source, s.file_source) AS file_source,
                   COALESCE(u.file_target, s.file_target) AS file_target
            FROM shares s LEFT JOIN updates u ON s.id = u.id"""
        ).df()
        audit = dict(con.execute(sql + "SELECT decision, count(*) FROM audit GROUP BY 1").fetchall())
        dead = dict(con.execute(sql + "SELECT error_stage, count(*) FROM dead GROUP BY 1").fetchall())
        n_updates = con.execute(sql + "SELECT count(*) FROM updates").fetchone()[0]
    finally:
        con.close()
    return {
        "merged_hash": frame_hash(merged),
        "audit": {k: int(v) for k, v in audit.items()},
        "dead": {k: int(v) for k, v in dead.items()},
        "updates": int(n_updates),
    }


def pipeline_expected(in_dir: str, oracle_sql: str) -> list[tuple]:
    """The registered pipeline oracle over the generated documents."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        con.execute("SET enable_progress_bar = false")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(in_dir, 'documents.parquet')}')"
        )
        rows = con.execute(oracle_sql).fetchall()
    finally:
        con.close()
    return sorted(tuple(r) for r in rows)
