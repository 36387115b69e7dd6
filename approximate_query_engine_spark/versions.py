"""Versioned artifact directories: the one write path of every full
materialization (rollups, samples, layouts, LM / boilerplate /
quantized-code indexes).

An artifact lives at ``<root>/v<n>``; its catalog entry's ``path`` names
the live version, and a full rewrite never touches that directory.
:func:`write_version` runs write → serve → save → prune, each step only
after the one before succeeded. Prune grace: when the new version is
served from an in-memory copy (served.py) nothing reads the superseded
files, so they go at once; otherwise the newest superseded version
survives one more write. Files directly under the root (written before
versioning) count as version 0. All through the Hadoop FileSystem API,
so a remote workdir is versioned under the scheme Spark wrote it with.
"""

from __future__ import annotations

import logging
import re

from pyspark.sql import SparkSession

_VERSION = re.compile(r"^v(\d+)$")
_log = logging.getLogger(__name__)

#: process-wide record of failed prunes: artifact root -> ``"<dir>:
#: <error>"`` of each superseded version its last prune could not delete
#: (maintenance reports them; the artifact's next full write retries)
UNPRUNED: dict[str, list[str]] = {}


def split_version(path: str) -> tuple[str, int]:
    """``<root>/v<n>`` -> ``(root, n)``; any other path is an unversioned
    root: ``(path, 0)``."""
    head, _, name = path.rstrip("/").rpartition("/")
    m = _VERSION.match(name)
    return (head, int(m.group(1))) if m and head else (path.rstrip("/"), 0)


def _listing(spark: SparkSession, root: str):
    """``(fs, root path, {version: [paths]})`` of the artifact at
    ``root``; anything but a ``v<n>`` directory is version 0."""
    hroot = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(root)
    fs = hroot.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    versions: dict[int, list] = {}
    for st in fs.listStatus(hroot) if fs.exists(hroot) else []:
        m = _VERSION.match(st.getPath().getName())
        versions.setdefault(int(m.group(1)) if m else 0, []).append(
            st.getPath()
        )
    return fs, hroot, versions


def write_version(spark: SparkSession, root: str, write, publish):
    """Write the next version of the artifact at ``root`` and swap to it.

    ``write(path)`` does the Spark write into the fresh version directory
    (a failure deletes it and re-raises); ``publish(path, version)``
    serves it and saves the catalog entry that points at it, and its
    return value is returned. Superseded versions are pruned only after
    both succeeded."""
    root = root.rstrip("/")
    fs, hroot, versions = _listing(spark, root)
    version = max(versions, default=0) + 1
    path = f"{root}/v{version}"
    try:
        write(path)
    except BaseException:
        fs.delete(hroot.suffix(f"/v{version}"), True)
        raise
    result = publish(path, version)
    _prune(spark, path)
    return result


def _prune(spark: SparkSession, keep: str) -> list[str]:
    """Delete the versions of ``keep``'s artifact that the grace rule no
    longer protects; return the ones that could not be deleted (also
    kept in :data:`UNPRUNED` and logged)."""
    from approximate_query_engine_spark.served import served_state

    root, kept = split_version(keep)
    grace = 0 if served_state(spark).in_memory(keep) else 1
    failed: list[str] = []
    try:
        fs, _, versions = _listing(spark, root)
        versions.pop(kept, None)
        for n in sorted(versions, reverse=True)[grace:]:
            for p in versions[n]:
                try:
                    fs.delete(p, True)
                except Exception as exc:  # noqa: BLE001 - reported below
                    failed.append(f"{p.toString()}: {str(exc)[:200]}")
    except Exception as exc:  # noqa: BLE001 - reported below
        failed.append(f"{root}: {str(exc)[:200]}")
    if failed:
        UNPRUNED[root] = failed
        _log.warning("superseded versions left on disk: %s", failed)
    else:
        UNPRUNED.pop(root, None)
    return failed
