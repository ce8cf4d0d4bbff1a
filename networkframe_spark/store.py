"""Persisted-store core shared by :func:`~networkframe_spark.sources.
save_graph` and the six persisted index families (IVF, IVF-SQ, IVF-PQ,
LSH, MinHash, text).

This module owns the storage decisions every family used to repeat:

- the manifest format: a one-row JSON directory ``<path>/<name>``
  whose string column holds ``json.dumps(obj)``, plus optional string
  tag columns (the IVF-SQ centroid manifest's ``quantize="sq8"``),
  written uncompressed and read back without a Spark job (one file
  read through the store's ``FileSystem``);
- how a path reaches its Hadoop ``FileSystem``, so ``s3://``,
  ``hdfs://`` and ``file://`` resolve the way the executor-side reader
  will (a driver-local ``os.path`` check is always false for a remote
  URI);
- the store layout, and the index family it identifies;
- the at-least-once append guard every ``*_index_add`` runs.

Each family keeps its own encode, route and score code.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_table

#: Persisted-index data stores and their partition columns — the
#: directories ``index_stats`` / ``index_compact`` / ``index_remove``
#: know how to list, rewrite and retract.
INDEX_DATA_LAYOUT = {
    "cells": ("list_id",),        # build_ivf_index / build_ivf_sq_index
    "codes": ("list_id",),        # build_ivfpq_index
    "bands": ("table", "bucket"),  # build_lsh_index
    "mbands": ("band", "kmod"),   # dedup.build_minhash_index
    "postings": ("kmod",),        # search.build_text_index (inverted)
    "doclens": ("dmod",),         # search.build_text_index (membership)
}

#: Preferred within-file sort columns per store (after the partition
#: columns).  Stores not listed fall back to whichever of
#: ``vec_id`` / ``doc_id`` they carry.  ``postings`` MUST lead with
#: ``term``: build_text_index documents the (term, doc_id) file sort
#: as the basis for parquet row-group min/max pruning of the probe's
#: ``term IN (...)`` filter — a compaction that sorted by doc_id
#: alone would silently degrade probe cost (ADVICE r15).
INDEX_SORT_COLS = {
    "postings": ("term", "doc_id"),
}

#: Data store -> index family, in detection order.  ``cells`` is
#: shared by IVF and IVF-SQ; the centroid manifest's ``quantize`` tag
#: tells them apart.
_FAMILY_STORES = (
    ("codes", "ivfpq"),
    ("bands", "lsh"),
    ("cells", None),
    ("mbands", "minhash"),
    ("postings", "text"),
)

#: Manifest directories whose JSON column is not named after the
#: directory (``save_graph``'s ``_graph/`` holds ``manifest``).
_MANIFEST_COLUMN = {"_graph": "manifest"}


def write_manifest(spark, path: str, name: str, obj, mode: str, **tags) -> None:
    """Write ``obj`` as the one-row JSON manifest ``<path>/<name>``,
    with each ``tags`` entry as one more string column."""
    col = _MANIFEST_COLUMN.get(name, name)
    schema = ", ".join(f"{c} string" for c in (col, *tags))
    (
        local_table(spark, [(json.dumps(obj), *tags.values())], schema)
        .coalesce(1)
        .write.mode(mode)
        .option("compression", "none")
        .json(os.path.join(path, name))
    )


def read_manifest(spark, path: str, name: str, tags: bool = False):
    """Read the manifest :func:`write_manifest` wrote: the first line
    of its first ``part-*`` file, read through the store's
    ``FileSystem`` — no Spark job.  Returns the object, or
    ``(obj, {tag: value})`` when ``tags`` is set."""
    fs, glob = _fs(spark, os.path.join(path, name, "part-*"))
    found = fs.globStatus(glob)
    if not found:
        raise FileNotFoundError(f"no manifest under {os.path.join(path, name)}")
    stream = fs.open(found[0].getPath())
    try:
        text = bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()
    row = json.loads(text.splitlines()[0])
    obj = json.loads(row.pop(_MANIFEST_COLUMN.get(name, name)))
    return (obj, row) if tags else obj


def _hpath(spark, path: str):
    """A Hadoop ``Path``.  The ``JavaClass`` handle costs no py4j round
    trip; the chain ``spark._jvm.org.apache.hadoop.fs.Path`` costs one
    per name."""
    from py4j.java_gateway import JavaClass

    return JavaClass("org.apache.hadoop.fs.Path", spark._sc._gateway._gateway_client)(
        path
    )


def _fs(spark, path: str):
    """``(FileSystem, Path)`` for ``path``, resolved through Hadoop."""
    hpath = _hpath(spark, path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def exists(spark, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def delete(spark, path: str) -> None:
    """Recursively delete ``path`` (no error when it is absent)."""
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def subdirs(spark, path: str) -> list[str]:
    """Full paths of the directories directly under ``path``."""
    fs, hpath = _fs(spark, path)
    return [st.getPath().toString() for st in fs.listStatus(hpath) if st.isDirectory()]


def parquet_files(spark, path: str):
    """Yield the Hadoop ``FileStatus`` of every ``.parquet`` file under
    ``path``, recursively (partition directories included)."""
    fs, hpath = _fs(spark, path)
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            yield st


def swap_dir(spark, data: str, tmp: str) -> None:
    """Replace directory ``data`` with ``tmp`` by two renames on the
    store's ``FileSystem`` (atomic on HDFS and local filesystems); a
    failed second rename rolls the original back."""
    fs, d = _fs(spark, data)
    old = _hpath(spark, data + ".__compact_old__")
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(d, old):
        raise IOError(f"index_compact: could not move {data} aside")
    if not fs.rename(_hpath(spark, tmp), d):
        fs.rename(old, d)  # roll back, store intact
        raise IOError(f"index_compact: swap failed for {data}")
    fs.delete(old, True)


def index_family(spark, path: str, centroid_tags: dict | None = None) -> str:
    """The family of the index stored under ``path``: ``"ivfpq"``,
    ``"lsh"``, ``"ivf_sq"``, ``"ivf"``, ``"minhash"`` or ``"text"``.

    Detection is driver-side existence checks on the data stores; only
    a ``cells`` store also needs its centroid manifest's ``quantize``
    tag.  Pass ``centroid_tags`` when the caller has already read that
    manifest, so the check runs no Spark job.  Raises ``ValueError``
    when ``path`` holds no index store."""
    for sub, family in _FAMILY_STORES:
        if not exists(spark, os.path.join(path, sub)):
            continue
        if family is None:
            if centroid_tags is None:
                _, centroid_tags = read_manifest(spark, path, "centroids", tags=True)
            family = "ivf_sq" if centroid_tags.get("quantize") == "sq8" else "ivf"
        return family
    raise ValueError(f"no index store found under {path}")


def check_family(
    spark, path: str, want: str, where: str, centroid_tags: dict | None = None
) -> None:
    """Raise ``ValueError`` unless the store under ``path`` is a
    ``want`` index — an add of the wrong family would append rows the
    family's search cannot score."""
    got = index_family(spark, path, centroid_tags)
    if got != want:
        raise ValueError(
            f"{where}: index family mismatch under {path}: the store is "
            f"{got}, this add writes {want}"
        )


def append_once(
    spark,
    rows: DataFrame,
    store: str,
    part_cols: tuple,
    id_col: str,
    dedupe: bool,
    home: dict | None = None,
    prune_cols: tuple | None = None,
) -> None:
    """Append ``rows`` to the partitioned parquet ``store`` so that an
    at-least-once retry converges: with ``dedupe`` the rows whose
    ``id_col`` is already in the store are dropped first, so a replayed
    add appends zero rows.

    The existing-id scan reads only ``id_col`` and is pruned to the
    ``home`` partition (``{col: value}``, applied to the batch too) and
    to the ``prune_cols`` values the batch touches — one small distinct
    collect (``prune_cols`` defaults to ``part_cols``; pass ``()`` to
    scan all of ``home``).  The surviving rows are checkpointed eagerly
    before the write, because the write lands in the directory the
    anti-join plan reads."""
    if dedupe:
        pred = None
        for c, v in (home or {}).items():
            clause = F.col(c) == v
            pred = clause if pred is None else (pred & clause)
        prune_cols = part_cols if prune_cols is None else prune_cols
        if prune_cols:
            batch = rows if pred is None else rows.filter(pred)
            touched = batch.select(*prune_cols).distinct().collect()
            for c in prune_cols:
                clause = F.col(c).isin(list(dict.fromkeys(r[c] for r in touched)))
                pred = clause if pred is None else (pred & clause)
        existing = spark.read.parquet(store)
        if pred is not None:
            existing = existing.filter(pred)
        rows = rows.join(existing.select(id_col), on=id_col, how="left_anti")
        rows = rows.localCheckpoint(eager=True)
    rows.write.mode("append").partitionBy(*part_cols).parquet(store)
