"""The sidecar protocol shared by the change-feed-maintained stores
(operators/store_state.py).

Each store records how far it has folded its base table's change feed in
a JSON sidecar. A crash in the middle of writing that sidecar must leave
the previous one readable and unchanged, and the next refresh must then
converge to what a from-scratch build over the current base gives. The
lint test keeps that protocol in one module.
"""

from __future__ import annotations

import ast
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators import bloomindex as BI
from cernbox_migration_database_spark.operators import clusterindex as CI
from cernbox_migration_database_spark.operators import freqstore as FS
from cernbox_migration_database_spark.operators import histstore as HS
from cernbox_migration_database_spark.operators import ivfindex as IX
from cernbox_migration_database_spark.operators import ivfpqindex as PQ
from cernbox_migration_database_spark.operators import joinview as JV
from cernbox_migration_database_spark.operators import keyindex as KI
from cernbox_migration_database_spark.operators import lshindex as LX
from cernbox_migration_database_spark.operators import matview as MV
from cernbox_migration_database_spark.operators import similarity as S
from cernbox_migration_database_spark.operators import sketchstore as KS
from cernbox_migration_database_spark.operators import store_state
from cernbox_migration_database_spark.operators import table_format as TF
from cernbox_migration_database_spark.operators import textindex as TI
from cernbox_migration_database_spark.operators import zonemap as ZM

_DOCS = "doc_id long, grp string, val double, text string"


def _doc(i: int, grp: str | None = None) -> tuple:
    return (
        i,
        grp or f"g{i % 3}",
        round(1.25 * i + 0.5, 2),
        f"w{i % 4} w{i % 5} common token{i} tail{i % 2}",
    )


def _docs(spark, tmp):
    root = os.path.join(tmp, "docs")
    TF.create_table(
        spark.createDataFrame([_doc(i) for i in range(8)], _DOCS),
        root,
        partition_by="grp",
    )
    return root


def _change(spark, root, inserts_only=False):
    """One insert; unless ``inserts_only``, also an update that moves a
    row across partitions and a delete."""
    rows = [_doc(20)] if inserts_only else [_doc(20), _doc(3, grp="g9")]
    TF.merge_into(spark, root, spark.createDataFrame(rows, _DOCS), on="doc_id")
    if not inserts_only:
        TF.delete_where(spark, root, "doc_id = 5")


def _rows(df) -> list:
    return sorted(map(repr, map(tuple, df.collect())))


def _table(spark, root) -> list:
    return _rows(TF.read_table(spark, root))


# Each family builds its store over a small base, moves the base, and
# returns (sidecar path, refresh, served view of the store, the same view
# of a from-scratch build over the moved base).


def _key(spark, tmp):
    base, idx = _docs(spark, tmp), os.path.join(tmp, "idx")
    KI.create_key_index(spark, base, idx, "doc_id")
    _change(spark, base)

    def scratch():
        KI.create_key_index(spark, base, os.path.join(tmp, "idx2"), "doc_id")
        return _table(spark, os.path.join(tmp, "idx2"))

    return (
        os.path.join(idx, KI._STATE),
        lambda: KI.refresh_key_index(spark, idx),
        lambda: _table(spark, idx),
        scratch,
    )


def _bloom(spark, tmp):
    base, idx = _docs(spark, tmp), os.path.join(tmp, "t.bloomindex.json")
    BI.create_bloom_index(spark, base, idx, "doc_id", m_bits=256, k=3)
    _change(spark, base)
    probe = [1, 3, 5, 20, 99]
    scratch_idx = os.path.join(tmp, "t2.bloomindex.json")

    def scratch():
        BI.create_bloom_index(spark, base, scratch_idx, "doc_id", m_bits=256, k=3)
        return _rows(BI.bloom_prune_lookup(spark, scratch_idx, probe))

    return (
        idx,
        lambda: BI.refresh_bloom_index(spark, idx),
        lambda: _rows(BI.bloom_prune_lookup(spark, idx, probe)),
        scratch,
    )


def _zone(spark, tmp):
    base, idx = _docs(spark, tmp), os.path.join(tmp, "t.zonemap.json")
    ZM.create_zone_map(spark, base, idx, col="val", key="doc_id")
    _change(spark, base)
    scratch_idx = os.path.join(tmp, "t2.zonemap.json")

    def scratch():
        ZM.create_zone_map(spark, base, scratch_idx, col="val", key="doc_id")
        return _rows(ZM.range_prune_scan(spark, scratch_idx, 2.0, 26.0))

    return (
        idx,
        lambda: ZM.refresh_zone_map(spark, idx),
        lambda: _rows(ZM.range_prune_scan(spark, idx, 2.0, 26.0)),
        scratch,
    )


def _mv(spark, tmp):
    base, mv = _docs(spark, tmp), os.path.join(tmp, "mv")

    def create(root):
        MV.create_aggregate_view(
            spark, base, root, key="doc_id", group_cols=["grp"],
            sum_cols=["val"],
        )

    create(mv)
    _change(spark, base)

    def scratch():
        create(os.path.join(tmp, "mv2"))
        return _rows(MV.read_aggregate_view(spark, os.path.join(tmp, "mv2")))

    return (
        os.path.join(mv, MV._STATE),
        lambda: MV.refresh_aggregate_view(spark, mv),
        lambda: _rows(MV.read_aggregate_view(spark, mv)),
        scratch,
    )


def _jv(spark, tmp):
    a, jv = _docs(spark, tmp), os.path.join(tmp, "jv")
    b = os.path.join(tmp, "dim")
    TF.create_table(
        spark.createDataFrame(
            [(f"g{i}", f"label{i}") for i in (0, 1, 2, 9)],
            "grp string, label string",
        ),
        b,
    )

    def create(root):
        JV.create_join_view(
            spark, a, b, root, on="grp", a_key="doc_id", b_key="grp",
            a_cols=["doc_id", "val"], b_cols=["label"],
        )

    create(jv)
    _change(spark, a)

    def scratch():
        create(os.path.join(tmp, "jv2"))
        return _rows(JV.read_join_view(spark, os.path.join(tmp, "jv2")))

    return (
        os.path.join(jv, JV._STATE),
        lambda: JV.refresh_join_view(spark, jv),
        lambda: _rows(JV.read_join_view(spark, jv)),
        scratch,
    )


def _text(spark, tmp):
    base, idx = _docs(spark, tmp), os.path.join(tmp, "ti")
    TI.build_text_index(spark, TF.read_table(spark, base), idx, n_buckets=4)
    TI.bind_text_index(idx, base)
    _change(spark, base)

    def served(root):
        with open(os.path.join(root, TI._META), encoding="utf-8") as fh:
            meta = json.load(fh)
        hits = TI.bm25_probe(spark, root, ["common", "w1"], top_k=20)
        return [meta["n_docs"], meta["total_tokens"], _rows(hits)]

    def scratch():
        alt = os.path.join(tmp, "ti2")
        TI.build_text_index(spark, TF.read_table(spark, base), alt, n_buckets=4)
        return served(alt)

    return (
        os.path.join(idx, TI._META),
        lambda: TI.sync_text_index(spark, idx),
        lambda: served(idx),
        scratch,
    )


def _lsh(spark, tmp):
    base, idx = _docs(spark, tmp), os.path.join(tmp, "lsh")
    LX.build_lsh_index(spark, base, idx, n_buckets=4)
    _change(spark, base)

    def scratch():
        LX.build_lsh_index(spark, base, os.path.join(tmp, "lsh2"), n_buckets=4)
        return _table(spark, os.path.join(tmp, "lsh2", "bands"))

    return (
        os.path.join(idx, LX._META),
        lambda: LX.refresh_lsh_index(spark, idx),
        lambda: _table(spark, os.path.join(idx, "bands")),
        scratch,
    )


def _cluster(spark, tmp):
    base, idx, cl = (
        _docs(spark, tmp), os.path.join(tmp, "lsh"), os.path.join(tmp, "cl")
    )
    LX.build_lsh_index(spark, base, idx, n_buckets=4)
    CI.build_cluster_index(spark, idx, cl, threshold=0.3)
    _change(spark, base)

    def scratch():
        idx2, cl2 = os.path.join(tmp, "lsh2"), os.path.join(tmp, "cl2")
        LX.build_lsh_index(spark, base, idx2, n_buckets=4)
        CI.build_cluster_index(spark, idx2, cl2, threshold=0.3)
        return _rows(CI.read_clusters(spark, cl2))

    return (
        os.path.join(cl, CI._STATE),
        lambda: CI.ingest_clusters(spark, cl),
        lambda: _rows(CI.read_clusters(spark, cl)),
        scratch,
    )


def _vec(i: int) -> list[float]:
    v = [0.05 * ((i * 7) % 5), 0.05 * ((i * 11) % 5),
         0.05 * ((i * 13) % 5), 0.05 * ((i * 3) % 5)]
    v[i % 2 * 2] += 2.0 + 0.01 * i
    return v


def _vectors(spark, tmp):
    """Vector base and its training frame; moved like the doc bases."""
    root = os.path.join(tmp, "emb")
    schema = "vec_id long, embedding array<float>"
    df = spark.createDataFrame([(i, _vec(i)) for i in range(12)], schema)
    TF.create_table(df, root)

    def change():
        moved = spark.createDataFrame([(20, _vec(20)), (3, _vec(4))], schema)
        TF.merge_into(spark, root, moved, on="vec_id")
        TF.delete_where(spark, root, "vec_id = 5")

    return root, df, change


def _ivf(spark, tmp):
    base, df, change = _vectors(spark, tmp)
    idx, cents = os.path.join(tmp, "ivf"), S.seed_centroids(df, k=2)
    IX.build_ivf_index(spark, base, idx, cents)
    change()

    def scratch():
        IX.build_ivf_index(spark, base, os.path.join(tmp, "ivf2"), cents)
        return _table(spark, os.path.join(tmp, "ivf2", "cells"))

    return (
        os.path.join(idx, IX._META),
        lambda: IX.refresh_ivf_index(spark, idx),
        lambda: _table(spark, os.path.join(idx, "cells")),
        scratch,
    )


def _ivfpq(spark, tmp):
    base, df, change = _vectors(spark, tmp)
    idx, cents = os.path.join(tmp, "pq"), S.seed_centroids(df, k=2)
    books = S.pq_codebooks(df, m=2, k=4)
    PQ.build_ivfpq_index(spark, base, idx, cents, books)
    change()

    def scratch():
        PQ.build_ivfpq_index(spark, base, os.path.join(tmp, "pq2"), cents, books)
        return _table(spark, os.path.join(tmp, "pq2", "codes"))

    return (
        os.path.join(idx, PQ._META),
        lambda: PQ.refresh_ivfpq_index(spark, idx),
        lambda: _table(spark, os.path.join(idx, "codes")),
        scratch,
    )


def _kmv(spark, tmp):
    base, store = _docs(spark, tmp), os.path.join(tmp, "kmv")

    def create(root):
        KS.build_kmv_store(
            spark, base, root, part_col="grp", text_col="text",
            key="doc_id", k=4,
        )

    create(store)
    # KMV minima cannot subtract: the store folds insert-only windows
    _change(spark, base, inserts_only=True)

    def scratch():
        create(os.path.join(tmp, "kmv2"))
        return _table(spark, os.path.join(tmp, "kmv2"))

    return (
        os.path.join(store, KS._STATE),
        lambda: KS.refresh_kmv_store(spark, store),
        lambda: _table(spark, store),
        scratch,
    )


def _hist(spark, tmp):
    base, store = _docs(spark, tmp), os.path.join(tmp, "hist")
    HS.build_hist_store(
        spark, base, store, part_col="grp", value_col="val", key="doc_id",
        nbins=4,
    )
    with open(os.path.join(store, HS._STATE), encoding="utf-8") as fh:
        st = json.load(fh)
    _change(spark, base)

    def served():
        return sorted(
            (r["part"], int(r["bin"]), int(r["n"]))
            for r in TF.read_table(spark, store).collect()
        )

    def scratch():
        # a rebuild re-derives the bin edges; the store keeps the edges
        # it was built with, so the scratch counts bin through those
        return sorted(
            (r["part"], int(r["bin"]), int(r["n"]))
            for r in HS._binned(TF.read_table(spark, base), st)
            .groupBy("part", "bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    return (
        os.path.join(store, HS._STATE),
        lambda: HS.refresh_hist_store(spark, store),
        served,
        scratch,
    )


def _freq(spark, tmp):
    base, store = _docs(spark, tmp), os.path.join(tmp, "freq")

    def create(root):
        FS.build_freq_store(
            spark, base, root, key="doc_id", theta_num=1, theta_den=8
        )

    def served(root):
        return [
            _table(spark, os.path.join(root, "sketch")),
            _rows(FS.heavy_hitters(spark, root)),
        ]

    create(store)
    _change(spark, base)

    def scratch():
        create(os.path.join(tmp, "freq2"))
        return served(os.path.join(tmp, "freq2"))

    return (
        os.path.join(store, FS._STATE),
        lambda: FS.refresh_freq_store(spark, store),
        lambda: served(store),
        scratch,
    )


_FAMILIES = {
    "keyindex": _key,
    "bloomindex": _bloom,
    "zonemap": _zone,
    "matview": _mv,
    "joinview": _jv,
    "textindex": _text,
    "lshindex": _lsh,
    "ivfindex": _ivf,
    "ivfpqindex": _ivfpq,
    "clusterindex": _cluster,
    "sketchstore": _kmv,
    "histstore": _hist,
    "freqstore": _freq,
}


class _Crash(RuntimeError):
    pass


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_torn_sidecar_write_keeps_previous_state(
    spark, spark_status, tmp_path, monkeypatch, family
):
    """Crash the refresh's first sidecar write half-way through its
    payload: the sidecar on disk must still parse to its pre-crash value,
    and the next refresh must land on the from-scratch result. A refresh
    after that, with no base commit in between, is a no-op: same version,
    no sidecar write, no Spark job."""
    sidecar, refresh, served, scratch = _FAMILIES[family](spark, str(tmp_path))
    with open(sidecar, encoding="utf-8") as fh:
        before = json.load(fh)
    real_dump = json.dump
    name = os.path.basename(sidecar)

    def torn_dump(obj, fh, *args, **kwargs):
        if os.path.basename(getattr(fh, "name", "")) in (name, name + ".tmp"):
            text = json.dumps(obj, *args, **kwargs)
            fh.write(text[: len(text) // 2])
            fh.flush()
            raise _Crash(f"crash while writing {fh.name}")
        return real_dump(obj, fh, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(_Crash):
            refresh()
    with open(sidecar, encoding="utf-8") as fh:
        assert json.load(fh) == before
    version = refresh()
    writes, jobs = [], spark_status().job_ids
    with monkeypatch.context() as m:
        m.setattr(store_state, "write", lambda *a: writes.append(a))
        assert refresh() == version
    assert writes == []
    assert spark_status().job_ids == jobs
    assert served() == scratch()


_PKG = os.path.join(
    os.path.dirname(__file__), os.pardir, "cernbox_migration_database_spark",
    "operators",
)


# the one write-mode open() left in these modules: the catalog lock's
# owner token, a plain-text claim marker rather than a JSON sidecar
_NOT_SIDECARS = {("txn", "os.path.join(self.path, 'owner')")}


@pytest.mark.parametrize("module", sorted(_FAMILIES) + ["txn"])
def test_sidecars_go_through_store_state(module):
    """One copy of the sidecar protocol: the stores and the multi-table
    transaction log neither (de)serialize JSON files themselves nor open
    a sidecar for writing — store_state.read/write do both."""
    with open(os.path.join(_PKG, module + ".py"), encoding="utf-8") as fh:
        src = fh.read()
    assert not re.findall(r"\bjson\.(?:dump|load)\(|\bos\.replace\(", src)
    assert not re.findall(
        r"def _(?:state|read_state|write_state|write_meta|"
        r"check_not_rebuilding|atomic_write_json)\(",
        src,
    )
    writes = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call) and getattr(node.func, "id", "") == "open":
            mode = node.args[1] if len(node.args) > 1 else next(
                (k.value for k in node.keywords if k.arg == "mode"), None
            )
            if mode is not None and set(ast.literal_eval(mode)) & set("wax+"):
                writes.add((module, ast.unparse(node.args[0])))
    assert writes <= _NOT_SIDECARS


def test_write_crash_leaves_prior_file_intact(tmp_path, monkeypatch):
    path = str(tmp_path / "state.json")
    store_state.write(path, {"base_version": 3, "keys": ["a", "b"]})
    with open(path, "rb") as fh:
        prior = fh.read()

    def torn_dump(obj, fh, *args, **kwargs):
        fh.write(json.dumps(obj)[:7])
        raise _Crash("mid-dump")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(_Crash):
        store_state.write(path, {"base_version": 4, "keys": ["a", "b", "c"]})
    with open(path, "rb") as fh:
        assert fh.read() == prior
    assert sorted(os.listdir(tmp_path)) in (
        ["state.json"], ["state.json", "state.json.tmp"]
    )
    monkeypatch.undo()
    assert store_state.read(path) == {"base_version": 3, "keys": ["a", "b"]}
    store_state.write(path, {"base_version": 4})
    assert store_state.read(path) == {"base_version": 4}


def test_check_not_rebuilding_names_the_repair():
    store_state.check_not_rebuilding({"rebuilding": False}, "rebuild_x")
    with pytest.raises(ValueError, match=r"rebuild_x\(\)"):
        store_state.check_not_rebuilding({"rebuilding": True}, "rebuild_x")
