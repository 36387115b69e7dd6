"""Served state: the one place engine views over small persisted state
(rollup layouts, samples) are registered.

An artifact whose size Spark estimates at or under the session's
``spark.sql.autoBroadcastJoinThreshold`` — the line Spark already uses for
"small enough to ship whole to one task" — is served from a one-partition
in-memory copy (``coalesce(1).localCheckpoint()``). A ``GROUP BY`` over a
single-partition child needs no exchange, so a routed answer runs as one
stage in one job with one task, instead of re-planning a file scan and
shuffling partial aggregates. Larger state keeps the pruned file scan.

The copy is NOT tied to the artifact's path: ``cache()`` would be
invalidated by every write to the path (``refreshByPath``), while a local
checkpoint holds its own blocks, so a write or a prune (versions.py) of
the files under a served view never breaks a running query. Artifacts
are keyed by ROOT, not by ``<root>/v<n>``, and each serve — tail refresh
or full rebuild — is a new VERSION: the new copy is built first, then
the views swap to it, then the copy from two versions back is released
— at most two copies per artifact are resident, so a query already
running on the previous copy still finishes. Copies whose blocks are
lost are rebuilt from the files (:meth:`ServedState.recover`).

The registry is per SparkSession (temp views are session-scoped), so
several engines over one session share it and a view re-pointed at a
different artifact releases the copies nobody serves any more.
"""

from __future__ import annotations

import re
import threading
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from approximate_query_engine_spark.versions import split_version

#: resident copies kept per artifact: the current one and the previous
#: one, which queries planned before the last swap may still be reading
_RESIDENT = 2
#: Spark's errors for a copy whose blocks are gone and for a missing view
_LOST_BLOCK = re.compile(r"CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.*?rdd_(\d+)_", re.S)
_MISSING_VIEW = re.compile(
    r"TABLE_OR_VIEW_NOT_FOUND.*?`?([\w.]+)`? cannot be found", re.S
)


@dataclass
class Served:
    """One version of a served artifact."""

    #: every column of the artifact (partition column included)
    df: DataFrame
    version: int
    #: the persisted RDD of the in-memory copy; None = file scan
    rdd: object | None = None
    #: row count of the in-memory copy (its build job counts it)
    rows: int | None = None

    @property
    def in_memory(self) -> bool:
        return self.rdd is not None


@dataclass
class _Artifact:
    #: the version directory (``<root>/v<n>``) the current version read
    path: str
    #: view name -> columns the view drops (e.g. the storage p_date)
    views: dict[str, tuple[str, ...]] = field(default_factory=dict)
    versions: list[Served] = field(default_factory=list)
    next_version: int = 1


class ServedState:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._lock = threading.RLock()
        self._artifacts: dict[str, _Artifact] = {}
        #: view name -> root of the artifact it currently serves
        self._views: dict[str, str] = {}

    # -- queries on the registry (no Spark RPC) ----------------------------
    def has(self, view: str, path: str) -> bool:
        """Whether ``view`` is registered through this helper over the
        artifact at ``path``, from that version or a newer one (a query
        holding the catalog entry from before a rebuild answers from the
        rebuilt state) — no per-query ``spark.catalog.tableExists``."""
        root, version = split_version(path)
        art = self._artifacts.get(self._views.get(view, ""))
        served_root, served = split_version(art.path) if art else ("", -1)
        return served_root == root and served >= version

    def in_memory(self, path: str) -> bool:
        """Whether the version directory ``path`` is served from an
        in-memory copy, i.e. no view reads its artifact's files."""
        art = self._artifacts.get(split_version(path)[0])
        return bool(art and art.path == path and art.versions[-1].in_memory)

    def current(self, view: str) -> Served | None:
        art = self._artifacts.get(self._views.get(view, ""))
        versions = art.versions if art else None
        return versions[-1] if versions else None

    def note(self, view: str) -> str:
        """Plan-reason suffix naming what serves ``view``."""
        cur = self.current(view)
        if cur is None:
            return ""
        kind = "in-memory copy" if cur.in_memory else "file scan"
        return f"; served from {kind} v{cur.version} of {view}"

    def resident_copies(self, path: str) -> int:
        art = self._artifacts.get(split_version(path)[0])
        return sum(1 for s in art.versions if s.in_memory) if art else 0

    # -- serving -----------------------------------------------------------
    def serve(
        self,
        path: str,
        views: dict[str, tuple[str, ...]],
        *,
        since: str | None = None,
    ) -> Served:
        """Register ``views`` over the parquet artifact at ``path`` (just
        written) and return the new version.

        Below the size line the copy is built eagerly, here, in one job:
        a plain RDD count of the checkpointed partition, which both
        materializes it and gives its row count (no SQL aggregate to
        plan). ``since`` (a ``p_date`` value of a rollup layout) marks a
        tail refresh that rewrote only the date directories ``>= since``:
        the new copy is the previous copy's rows before ``since`` plus
        only those directories, read with the known schema. Above the
        line the views get the file scan."""
        with self._lock:
            art = self._artifacts.get(split_version(path)[0])
            prev = art.versions[-1] if art and art.versions else None
            tail = (
                since is not None
                and prev is not None
                and prev.in_memory
                and art.path == path
            )
            reader = self.spark.read
            if tail:  # same spec, same schema: no footer inference
                reader = reader.schema(prev.df.schema)
            files = reader.parquet(path)
            if self._small(files):
                src = files
                if tail:
                    col = F.col("p_date")
                    src = prev.df.filter(col < F.lit(since)).unionByName(
                        files.filter(col >= F.lit(since))
                    )
                df = src.coalesce(1).localCheckpoint(eager=False)
                # the checkpointed RDD itself: counting it is the build job
                rdd = df._jdf.logicalPlan().rdd()
                served = Served(df, 0, rdd, int(rdd.count()))
            else:
                served = Served(files, 0)
            self._swap(path, views, served)
            return served

    def release(self, views) -> None:
        """Drop ``views`` and release every artifact left serving none
        (a replaced table's state)."""
        with self._lock:
            for v in views:
                if self._unmap(v) is not None:
                    self.spark.catalog.dropTempView(v)

    def recover(self, exc: BaseException) -> bool:
        """After a query failed on served state: rebuild what it lost from
        the files and report whether a retry can answer. Covers a copy
        whose blocks are gone and a served view dropped behind the
        engine's back; anything else is not ours (False)."""
        msg = str(exc)
        with self._lock:
            m = _LOST_BLOCK.search(msg)
            if m is not None:
                rdd_id = int(m.group(1))
                for art in list(self._artifacts.values()):
                    ids = [s.rdd.id() for s in art.versions if s.in_memory]
                    if rdd_id in ids:
                        if ids[-1] == rdd_id:  # the current copy: rebuild
                            self.serve(art.path, dict(art.views))
                        return True  # an older copy: the views moved on
                return False
            m = _MISSING_VIEW.search(msg)
            root = self._views.get(m.group(1).split(".")[-1]) if m else None
            if root is None:
                return False
            art = self._artifacts[root]
            self.serve(art.path, dict(art.views))
            return True

    # -- internals ---------------------------------------------------------
    def _small(self, df: DataFrame) -> bool:
        threshold = int(
            self.spark._jsparkSession.sessionState()
            .conf()
            .autoBroadcastJoinThreshold()
        )
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        return threshold >= 0 and size <= threshold

    def _swap(self, path: str, views: dict, served: Served) -> None:
        root = split_version(path)[0]
        art = self._artifacts.setdefault(root, _Artifact(path))
        art.path = path
        served.version = art.next_version
        art.next_version += 1
        for name, drop in views.items():
            served.df.drop(*drop).createOrReplaceTempView(name)
            if self._views.get(name) != root:
                self._unmap(name)
            self._views[name] = root
            art.views[name] = tuple(drop)
        art.versions.append(served)
        while len(art.versions) > _RESIDENT:
            _unpersist(art.versions.pop(0))

    def _unmap(self, view: str) -> str | None:
        """Forget ``view``; release its artifact once no view serves it.
        Returns the root of the artifact the view served, if any."""
        root = self._views.pop(view, None)
        art = self._artifacts.get(root) if root else None
        if art is not None:
            art.views.pop(view, None)
            if not art.views:
                del self._artifacts[root]
                for s in art.versions:
                    _unpersist(s)
        return root


def _unpersist(served: Served) -> None:
    if served.rdd is not None:
        served.rdd.unpersist(False)


_REGISTRIES: "weakref.WeakKeyDictionary[SparkSession, ServedState]" = (
    weakref.WeakKeyDictionary()
)
_REGISTRIES_LOCK = threading.Lock()


def served_state(spark: SparkSession) -> ServedState:
    """The session's registry of served state."""
    with _REGISTRIES_LOCK:
        reg = _REGISTRIES.get(spark)
        if reg is None:
            reg = _REGISTRIES[spark] = ServedState(spark)
        return reg
