"""The one contract every digest-keyed artifact obeys: the minhash
dedup index (index_store), the pruned BM25 postings (postings_store),
the IVF ANN index (ann_store) and the ``corpus`` command's landed
corpus — plus retention over them.

An artifact is a directory of parquet tables and one ``_META.json``
naming its ``kind``, the content ``digest`` of the corpus it was
built from (``input_digest`` for the landed corpus), its build
parameters and the store ``format``.

Commit protocol. Every writer (build or fold) runs the same three
steps, so a run killed at any point leaves readers seeing the old
artifact or no artifact, never a meta paired with other data:

1. :func:`begin` — refuse an ``out`` equal to any input dir (a fold
   reads its base while writing), then delete any stale meta BEFORE
   the first data file is written: rebuilding into a dir that still
   held a meta and crashing after a data overwrite would otherwise
   pair the old meta with partially new data;
2. write the data tables;
3. :func:`commit` — stamp ``format`` and write ``_META.json.tmp``,
   then ``os.replace`` it over ``_META.json``: the meta appears whole
   or not at all.

Format rule. :func:`read_meta` is the only reader: a meta that is
absent, unreadable (truncated JSON, a leftover ``.tmp`` only), of
another kind, or of another :data:`FORMAT` reads as absent.
:func:`matches` adds the digest and build-parameter gate every
consumer passes before serving from an artifact. Bumping ``FORMAT``
is how a layout change retires old artifacts: they read as absent and
rebuild once, which is correct for a digest-keyed cache — no store
carries a legacy-format branch.

Digest. :func:`corpus_digest` is ``bit_xor(xxhash64(id, value))``
plus the row count (xor alone would let duplicated rows cancel): one
column-pruned scan with fixed aggregation state, identical for the
same rows in any partitioning or order, and mergeable across
disjoint parts (:func:`merge_digests`) — which is what lets folds and
streamed batches prove a union digest without re-reading text.

Retention (:func:`list_artifacts`, :func:`prune`): every fold writes
a NEW directory, so superseded copies accumulate; prune keeps the
newest ``keep`` per kind and deletes the rest, meta first.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

META_NAME = "_META.json"
FORMAT = 1
KINDS = ("minhash", "bm25", "ivf")


def digest_agg(value_col: str, id_col: str) -> list[Column]:
    """The digest aggregate as (d, n) columns — xor of
    ``xxhash64(id, value)`` (0, the xor identity, for an empty frame)
    and the row count."""
    return [F.coalesce(F.expr(f"bit_xor(xxhash64({id_col}, {value_col}))"),
                       F.lit(0).cast("long")).alias("d"),
            F.count("*").alias("n")]


def corpus_digest(df: DataFrame, value_col: str, id_col: str) -> str:
    """Order-independent content digest ``<xor>_<count>`` of an
    (id, value) corpus; ``value_col`` may be text or an array (xxhash64
    folds over the elements)."""
    row = df.agg(*digest_agg(value_col, id_col)).first()
    return f"{row['d']}_{row['n']}"


def merge_digests(digests: list[str]) -> str:
    """Combine digests of DISJOINT corpora into the digest of their
    union — exact, since xor and count are both mergeable."""
    xor, n = 0, 0
    for d in digests:
        x, _, c = d.rpartition("_")
        xor ^= int(x)
        n += int(c)
    # wrap to Spark's signed 64-bit bit_xor convention
    xor &= (1 << 64) - 1
    if xor >= 1 << 63:
        xor -= 1 << 64
    return f"{xor}_{n}"


def read_meta(path: str, kind: str | None = None) -> dict | None:
    """The committed meta at ``path``, or None when it is absent,
    unreadable, of another ``kind`` (any kind when None) or of another
    format."""
    try:
        with open(os.path.join(path, META_NAME)) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    if not isinstance(meta, dict) or meta.get("format") != FORMAT:
        return None
    if kind is not None and meta.get("kind") != kind:
        return None
    return meta


def matches(path: str, kind: str, digest: str | None, **params) -> bool:
    """True iff ``path`` holds a complete ``kind`` artifact built from
    exactly the corpus with ``digest`` under exactly ``params``."""
    meta = read_meta(path, kind)
    return (meta is not None and meta.get("digest") == digest
            and all(meta.get(k) == v for k, v in params.items()))


def base_meta(path: str, kind: str) -> dict:
    """The meta of the complete ``kind`` artifact a fold reads from;
    ValueError when there is none."""
    meta = read_meta(path, kind)
    if meta is None:
        raise ValueError(f"no complete {kind} artifact at {path}")
    return meta


def begin(out: str, *inputs: str) -> None:
    """Step 1 of the commit protocol (module docstring)."""
    if os.path.abspath(out) in {os.path.abspath(d) for d in inputs}:
        raise ValueError(f"artifact target {out} must be a NEW "
                         "directory, not one of its inputs")
    try:
        os.remove(os.path.join(out, META_NAME))
    except FileNotFoundError:
        pass


def commit(out: str, meta: dict) -> dict:
    """Step 3 of the commit protocol: atomically publish ``meta``
    (stamped with ``format``) as ``out``'s meta; returns it."""
    meta = dict(meta, format=FORMAT)
    tmp = os.path.join(out, META_NAME + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out, META_NAME))
    return meta


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def list_artifacts(root: str) -> list[dict]:
    """Complete index artifacts directly under ``root`` (plus ``root``
    itself if it is one), newest meta first. Each entry: path, kind,
    digest, n (docs/vecs if recorded), mtime of the meta (commit
    time) and on-disk bytes."""
    if not os.path.isdir(root):
        return []  # nothing landed yet — an empty lake, not an error
    cands = [root] + sorted(
        os.path.join(root, d) for d in os.listdir(root)
        if os.path.isdir(os.path.join(root, d)))
    out = []
    for path in cands:
        meta = read_meta(path)
        if meta is None or meta.get("kind") not in KINDS:
            continue
        out.append({
            "path": os.path.abspath(path), "kind": meta["kind"],
            "digest": meta["digest"],
            "n": meta.get("n_docs", meta.get("n_vecs")),
            "mtime": os.path.getmtime(os.path.join(path, META_NAME)),
            "bytes": _dir_bytes(path),
        })
    out.sort(key=lambda e: e["mtime"], reverse=True)
    return out


def prune(root: str, keep: int = 1,
          active_digests: set[str] | frozenset[str] = frozenset(),
          apply: bool = False) -> dict:
    """Retention pass: per kind, keep the ``keep`` newest artifacts
    (ALWAYS at least the newest — the digest-current copy live
    readers gate against) and delete the rest, except any whose
    digest is in ``active_digests`` (refused, reported). Dry-run
    unless ``apply``. Returns {kept, refused, deleted}, each a list
    of entries as from :func:`list_artifacts`."""
    keep = max(0, keep)
    arts = list_artifacts(root)
    kept: list[dict] = []
    refused: list[dict] = []
    deleted: list[dict] = []
    by_kind: dict[str, list[dict]] = {}
    for e in arts:
        by_kind.setdefault(e["kind"], []).append(e)
    root_abs = os.path.abspath(root)
    for kind_arts in by_kind.values():  # newest-first within kind
        for i, e in enumerate(kind_arts):
            if i < max(keep, 1):  # newest always survives
                kept.append(e)
            elif e["digest"] in active_digests:
                refused.append(e)
            elif e["path"] == root_abs:
                # the root dir CONTAINS the other artifacts — rmtree
                # here would take the survivors with it; refuse and
                # let the operator relocate it
                refused.append(e)
            else:
                deleted.append(e)
    if apply:
        for e in deleted:
            delete_artifact(e["path"])
    return {"kept": kept, "refused": refused, "deleted": deleted}


def delete_artifact(path: str) -> None:
    """Remove one artifact dir, meta FIRST, so a reader that races the
    deletion sees a meta-less directory — "absent", the safe answer —
    never a meta pointing at half-deleted parquet. Used by
    :func:`prune` and by `annindex --rebuild-if-drifted` (the
    superseded base after a rebuild)."""
    try:
        os.remove(os.path.join(path, META_NAME))
    except OSError:
        pass
    shutil.rmtree(path, ignore_errors=True)
