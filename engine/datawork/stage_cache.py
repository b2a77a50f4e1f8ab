"""One content-keyed cache for the stages of datawork plans. An entry,
keyed by (applicationId, name), is a hit only when its defining plan
``sameSemantics`` the new key plan AND every file that plan scans keeps its
(path, size, mtime). A name holds one entry: storing a new one releases the
old one's blocks at once, so its frame must not be read again."""

from __future__ import annotations

import logging
import re
from collections import namedtuple

from pyspark.sql import DataFrame

_Entry = namedtuple("_Entry", "key files frame rdd_ids rows")
_ENTRIES: dict = {}  # (applicationId, name) -> _Entry
COUNTERS = {"hits": 0, "misses": 0, "evictions": 0, "compare_errors": 0}


def _files(df: DataFrame) -> list:
    # analyzed, not optimized: that shows persisted subtrees as file-less scans
    java = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    rels = [leaf.relation() for leaf in java(
        df._jdf.queryExecution().analyzed().collectLeaves())
        if leaf.getClass().getSimpleName() == "LogicalRelation"]
    return sorted((s.getPath().toString(), s.getLen(), s.getModificationTime())
                  for r in rels
                  if r.getClass().getSimpleName() == "HadoopFsRelation"
                  for s in java(r.location().allFiles()))


def _lookup(name: str, key: DataFrame) -> _Entry | None:
    entry = _ENTRIES.get((key.sparkSession.sparkContext.applicationId, name))
    try:
        hit = entry is not None and entry.key.sameSemantics(key) \
            and entry.files == _files(key)
    except Exception:  # noqa: BLE001 — py4j surface; logged and counted
        logging.getLogger(__name__).warning(
            "stage cache %r: compare failed, rebuilding", name, exc_info=True)
        COUNTERS["compare_errors"] += 1
        hit = False
    COUNTERS["hits"] += hit
    return entry if hit else None


def _release(sc, entry: _Entry) -> None:
    COUNTERS["evictions"] += 1
    entry.frame.unpersist()
    rdds = sc._jsc.getPersistentRDDs()
    for rdd in filter(None, (rdds.get(i) for i in entry.rdd_ids)):
        rdd.unpersist()


def _store(name: str, key: DataFrame, materialize) -> _Entry:
    sc = key.sparkSession.sparkContext
    slot = (sc.applicationId, name)
    if slot in _ENTRIES:  # first: its cached plan would serve a new persist
        _release(sc, _ENTRIES.pop(slot))
    COUNTERS["misses"] += 1
    ids = lambda: set(map(int, re.findall(  # noqa: E731
        r"\d+", sc._jsc.getPersistentRDDs().keySet().toString())))
    files, before = _files(key), ids()
    frame, rows = materialize()
    _ENTRIES[slot] = _Entry(key, files, frame, ids() - before, rows)
    return _ENTRIES[slot]


def persist(name: str, df: DataFrame) -> DataFrame:
    """Partition-preserving mode: ``df`` persisted and counted at once (Spark
    builds an empty cache once per concurrent stage of an action)."""
    return (_lookup(name, df) or _store(
        name, df, lambda: (df.persist(), df.count()))).frame


def checkpoint(name: str, key: DataFrame, build=None) -> DataFrame:
    """Lineage-truncating mode: an eager ``localCheckpoint`` of ``build()``
    (default ``key``), so later actions plan over a tiny RDD scan, not the
    defining tree. The costs: the job runs now even if nothing reads it; the
    output partitioning is dropped (``persist`` keeps it); and the blocks,
    with no lineage behind them, live only on the executors that wrote
    them, so after an executor loss a read fails instead of recomputing."""
    entry = _lookup(name, key)
    if entry is None:
        frame = build() if build is not None else key
        entry = _store(name, key,
                       lambda: (frame.localCheckpoint(eager=True), None))
    return entry.frame


def peek(name: str, df: DataFrame) -> DataFrame:
    """The stored frame on a hit, else ``df`` itself, unstored."""
    entry = _lookup(name, df)
    return entry.frame if entry is not None else df


def rows(name: str, spark) -> int:
    """The count ``persist`` took when it stored ``name``."""
    return _ENTRIES[(spark.sparkContext.applicationId, name)].rows


def clear(spark) -> None:
    sc = spark.sparkContext
    for slot in [s for s in _ENTRIES if s[0] == sc.applicationId]:
        _release(sc, _ENTRIES.pop(slot))


def stats(spark) -> dict:
    """The counters, plus (name, cached, total) of entries evicted in part."""
    sc = spark.sparkContext
    owner = {i: s[1] for s, e in _ENTRIES.items()
             if s[0] == sc.applicationId for i in e.rdd_ids}
    partial = [(owner[r.id()], r.numCachedPartitions(), r.numPartitions())
               for r in sc._jsc.sc().getRDDStorageInfo() if r.id() in owner
               and r.numCachedPartitions() < r.numPartitions()]
    return {**COUNTERS, "partially_evicted": partial}
