"""Seeded input generator for the benchmark.

Everything the program reads is produced here from ``(seed, size)``:

* ``shares.parquet`` -- ``oc_share`` rows (FIXTURES.md B.1). About 20% are
  non-public or folder shares, which the migration's scan filters out.
* ``eos_meta.parquet`` -- ``(inode, raw)``: the raw ``eos file info -m``
  reply for every inode the catalog knows, with the ``keylength.file``
  prefix, paths with spaces, unparseable replies, parent folders and
  existing versions folders. Some shares point at inodes with no reply
  (dangling), and some DEFAULT files have no versions folder yet.
* ``documents.parquet`` -- the pretraining corpus, with the ``documents``
  fixture's schema: 15-80 words per document from a per-language word list,
  5% near duplicates (an earlier document plus `` dup``) and a few exact
  copies.

``Truth`` carries what the generator knows without running any engine:
the branch mix and the post-migration value of every public share, which
the share-lookup workload checks its rows against.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOME_PREFIX = "/eos/user/"
VERSIONS_PREFIX = ".sys.v#."
# Inode ranges: files, parent (versions) folders, existing versions folders,
# folders the create sink makes, and inodes no reply exists for.
FILE_BASE = 10_000_000
PARENT_BASE = 2_000_000_000
VERSIONS_BASE = 3_000_000_000
CREATED_BASE = 5_000_000_000
DANGLING_BASE = 9_000_000_000
# Owner whose versions-folder creates are refused by the create sink.
LOCKED_UID = "0"

BRANCHES = ("already", "nothome", "parent", "default")
_BRANCH_P = (0.05, 0.10, 0.10, 0.75)
_DIRS = ("docs", "my data", "photos/2023", "work/project x", "share", "a b/c d")
_EXTS = ("txt", "pdf", "root", "csv", "png")
# Per-language word lists for the corpus, so the language label agrees with
# the text for en/de/es/fr; "zh" documents use romanized syllables that no
# language model of the pipeline covers, so they never pass its langid.
WORDS = {
    "en": "house river garden window morning evening street market winter summer "
          "letter friend kitchen table bread water yellow green quiet heavy "
          "little broken northern simple gentle bright walking reading writing "
          "thinking carried opened closed listened under behind between through "
          "without because although whenever together",
    "de": "haus fluss garten fenster morgen abend strasse markt winter sommer "
          "brief freund kueche tisch brot wasser gelb gruen leise schwer "
          "klein kaputt noerdlich einfach sanft hell gehen lesen schreiben "
          "denken getragen geoeffnet geschlossen gehoert unter hinter zwischen "
          "durch ohne weil obwohl wann zusammen",
    "es": "casa rio jardin ventana manana tarde calle mercado invierno verano "
          "carta amigo cocina mesa pan agua amarillo verde tranquilo pesado "
          "pequeno roto norteno sencillo suave brillante caminando leyendo "
          "escribiendo pensando llevado abierto cerrado escuchado bajo detras "
          "entre durante porque aunque cuando juntos",
    "fr": "maison riviere jardin fenetre matin soir rue marche hiver ete "
          "lettre ami cuisine table pain eau jaune vert calme lourd "
          "petit casse nordique simple doux clair marchant lisant ecrivant "
          "pensant porte ouvert ferme ecoute sous derriere entre pendant "
          "parce bien quand ensemble",
    "zh": "shui huo shan tian ren jia xin hao kan ting shuo zou lai qu "
          "da xiao duo shao chang duan gao di kuai man qing zhong",
}
LANGS = tuple(WORDS)
_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)


@dataclass
class Truth:
    """Generator-side facts about one input set."""

    n_shares: int
    n_public: int
    n_replies: int
    n_documents: int
    mix: dict[str, int] = field(default_factory=dict)
    # share id -> (item_source, item_target, file_source, file_target) after
    # the migration, for every public file share.
    after: dict[int, tuple] = field(default_factory=dict)


def _reply(path: str, inode: int, uid: str, gid: str, size: int, is_dir: bool) -> str:
    kind = "container" if is_dir else "file"
    return (
        f"keylength.file={len(path)} file={path} fid={inode} "
        f"pid={inode // 7} uid={uid} gid={gid} size={size} "
        f"mode={'40755' if is_dir else '100644'} type={kind} "
        f"ctime=1700000000.0 mtime=1700000{inode % 1000:03d}.5 nlink=1"
    )


def _bad_reply(rng: np.random.Generator, path: str) -> str:
    k = int(rng.integers(3))
    if k == 0:
        return "error: unable to stat (errc=2) (No such file or directory)"
    if k == 1:
        return f"keylength.file=x{len(path)} file={path} uid=1 gid=1 size=0"
    return f"file={path} uid=1 gid=1 size=0"


def generate(out_dir: str, seed: int, n_shares: int, n_documents: int) -> Truth:
    """Write the three input files under ``out_dir`` and return the truth."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = int(n_shares)
    ids = np.arange(1, n + 1, dtype=np.int64) * 3 + seed % 3
    share_type = rng.choice(np.array([3, 0, 1], dtype=np.int32), n, p=[0.88, 0.07, 0.05])
    is_file = rng.random(n) < 0.91
    public = (share_type == 3) & is_file
    owners = rng.integers(0, max(50, n // 300), n)
    branch = rng.choice(len(BRANCHES), n, p=_BRANCH_P)
    u = rng.random(n)
    dangling = u < 0.02
    unparseable = (u >= 0.02) & (u < 0.04)
    parent_known = rng.random(n) < 0.9
    versions_known = rng.random(n) < 0.6
    locked = rng.random(n) < 0.04
    dirs = rng.integers(0, len(_DIRS), n)
    exts = rng.integers(0, len(_EXTS), n)

    file_source = np.where(dangling, DANGLING_BASE + ids, FILE_BASE + ids)
    inodes, raws = [], []
    truth = Truth(n_shares=n, n_public=int(public.sum()), n_replies=0, n_documents=n_documents)
    mix = dict.fromkeys(
        [*BRANCHES, "dangling", "unparseable", "parent_missing",
         "versions_exist", "versions_created", "create_refused"], 0,
    )
    for i in np.flatnonzero(public):
        sid = int(ids[i])
        if dangling[i]:
            mix["dangling"] += 1
            continue
        inode = int(file_source[i])
        owner = f"u{int(owners[i]):05d}"
        uid = LOCKED_UID if locked[i] else str(1000 + int(owners[i]))
        gid = "1000"
        home = f"{HOME_PREFIX}{owner[-1]}/{owner}"
        fname = f"file {sid}.{_EXTS[exts[i]]}"
        folder = f"{home}/{_DIRS[dirs[i]]}"
        b = BRANCHES[branch[i]]
        if b == "already":
            path = f"{folder}/{VERSIONS_PREFIX}{fname}"
        elif b == "nothome":
            path = f"/eos/project/p{owner[-2:]}/{_DIRS[dirs[i]]}/{fname}"
        elif b == "parent":
            path = f"{folder}/{VERSIONS_PREFIX}{fname}/1700000{sid % 1000:03d}.{sid}"
        else:
            path = f"{folder}/{fname}"
        inodes.append(inode)
        if unparseable[i]:
            mix["unparseable"] += 1
            raws.append(_bad_reply(rng, path))
            continue
        raws.append(_reply(path, inode, uid, gid, 4096 + sid % 65536, False))
        mix[b] += 1
        target = None
        if b == "parent":
            if parent_known[i]:
                target = (PARENT_BASE + sid, f"{folder}/{VERSIONS_PREFIX}{fname}")
                inodes.append(target[0])
                raws.append(_reply(target[1], target[0], uid, gid, 0, True))
            else:
                mix["parent_missing"] += 1
        elif b == "default":
            vpath = f"{folder}/{VERSIONS_PREFIX}{fname}"
            if versions_known[i]:
                mix["versions_exist"] += 1
                target = (VERSIONS_BASE + sid, vpath)
                inodes.append(target[0])
                raws.append(_reply(vpath, target[0], uid, gid, 0, True))
            elif uid == LOCKED_UID:
                mix["create_refused"] += 1
            else:
                mix["versions_created"] += 1
                target = (CREATED_BASE + inode, vpath)
        if target is not None:
            v_inode, v_path = target
            truth.after[sid] = (
                str(v_inode), f"/{v_inode}", v_inode, "/" + v_path.rsplit("/", 1)[1]
            )
    truth.mix = mix
    truth.n_replies = len(raws)

    shares = pa.table(
        {
            "id": ids,
            "share_type": share_type,
            "share_with": pa.array(
                [None if t == 3 else f"u{o:05d}" for t, o in zip(share_type, owners[::-1])],
                pa.string(),
            ),
            "uid_owner": [f"u{int(o):05d}" for o in owners],
            "parent": pa.array(np.full(n, None), pa.int64()),
            "item_type": np.where(is_file, "file", "folder"),
            "item_source": file_source.astype(str),
            "item_target": np.char.add("/", file_source.astype(str)),
            "file_source": file_source,
            "file_target": np.char.add("/file ", ids.astype(str)),
            "permissions": rng.choice(np.array(["1", "15", "31"]), n),
            "stime": rng.integers(1_500_000_000, 1_700_000_000, n).astype(np.int32),
            "accepted": np.zeros(n, dtype=np.int32),
            "expiration": pa.array(
                rng.integers(1_700_000_000, 1_800_000_000, n) * 1_000_000,
                pa.timestamp("us", tz="UTC"),
            ),
            "token": [f"{x:015x}" for x in rng.integers(0, 1 << 60, n)],
            "mail_send": np.zeros(n, dtype=np.int32),
        }
    )
    # Shuffle the rows so ids do not arrive sorted.
    shares = shares.take(rng.permutation(n))
    order = rng.permutation(len(raws))
    meta = pa.table(
        {
            "inode": pa.array(np.asarray(inodes, dtype=np.int64)[order]),
            "raw": pa.array([raws[j] for j in order], pa.string()),
        }
    )
    pq.write_table(shares, os.path.join(out_dir, "shares.parquet"))
    pq.write_table(meta, os.path.join(out_dir, "eos_meta.parquet"))
    if n_documents:
        pq.write_table(
            _documents(rng, n_documents), os.path.join(out_dir, "documents.parquet")
        )
    return truth


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    langs = rng.choice(np.asarray(LANGS), n, p=_LANG_P)
    vocab = {lang: np.asarray(words.split()) for lang, words in WORDS.items()}
    texts = [
        " ".join(rng.choice(vocab[lang], int(rng.integers(15, 81))))
        for lang in langs
    ]
    # 5% near duplicates (an earlier document plus " dup") and a few exact
    # copies, so both dedup stages have work.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


def digest(in_dir: str) -> str:
    """sha256 over the generated files' bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(in_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(in_dir, name), "rb") as fh:
                h.update(name.encode())
                h.update(fh.read())
    return h.hexdigest()
