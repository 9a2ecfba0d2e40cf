"""Driver-side state IO seam — the adapter SURVEY §1.2 promises.

The crawl's commit protocol (manifest read/atomic-write for each
round and each compaction, removal of superseded directories, vacuum)
is a small set of filesystem primitives. Inlining `os`/`glob`/`shutil`
calls in the loop would hard-wire a driver-local POSIX filesystem — the
first thing that breaks on a real cluster, where the workdir is an
HDFS/S3 path and the manifest commit becomes an Iceberg snapshot commit.

This module is that seam: `StateIO` is the minimal interface the
scheduler and maintenance jobs need; `LocalStateIO` is the POSIX
implementation used in tests and on local[k]. A production deployment
swaps in an implementation backed by the Hadoop FileSystem API
(reachable without new dependencies via
``spark._jvm.org.apache.hadoop.fs.FileSystem``) or an Iceberg catalog:
`write_text_atomic` maps onto a rename-based commit (HDFS) or a
catalog snapshot commit (Iceberg), `list_dirs` onto FileSystem.globStatus
or snapshot manifests. Spark's own parquet reads/writes already speak
any Hadoop-compatible URI, so the DataFrame side needs no adapter.

Atomicity contract (what the crash-safety protocol relies on):
  * ``write_text_atomic`` — readers see the old or the new content,
    never a torn write. This is the only atomic operation: a manifest
    write is the commit point, and a data directory (written by Spark)
    is live only once a committed manifest names it;
  * ``remove_dir`` — only ever called on state a committed manifest
    no longer references, or that none ever did.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import shutil


class StateIO:
    """Interface for driver-side state/metadata IO (see module doc)."""

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def write_text_atomic(self, path: str, data: str) -> None:
        raise NotImplementedError

    def list_dirs(self, pattern: str) -> list[str]:
        """Glob-style listing; returns sorted paths."""
        raise NotImplementedError

    def remove_dir(self, path: str) -> None:
        """Remove a directory tree; missing paths are not an error."""
        raise NotImplementedError

    # ---- json convenience built on the primitives ----
    def read_json(self, path: str) -> dict | None:
        if not self.exists(path):
            return None
        return json.loads(self.read_text(path))

    def write_json_atomic(self, path: str, obj: dict) -> None:
        self.write_text_atomic(path, json.dumps(obj, indent=1))


class LocalStateIO(StateIO):
    """POSIX implementation (local[k], tests)."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, data: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)

    def list_dirs(self, pattern: str) -> list[str]:
        return sorted(_glob.glob(pattern))

    def remove_dir(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


class ObjectStoreStateIO(StateIO):
    """Object-store-shaped implementation over a local directory —
    the S3/GCS CONTRACT, not the POSIX one (VERDICT r3: the first
    obstacle on a real cluster is code that leans on affordances an
    object store lacks):

      * no directories — ``makedirs`` is a no-op, keys imply their
        prefixes, PUT creates parents, and an "empty directory" does
        not exist (``exists`` on a childless directory is False);
      * no atomic directory rename — so nothing is published by
        renaming a directory. A data directory appears object by
        object, and readers ignore it until the manifest, a
        single-object atomic PUT and the only linearization point,
        names it;
      * listing is BY PREFIX — ``list_dirs`` walks every object under
        the pattern's fixed prefix and reconstructs the matching
        prefixes ("common prefixes" in S3 terms), instead of readdir
        globbing.

    Used by the test suite to run the full scheduler resume +
    compaction protocol under object-store semantics; a real
    deployment replaces the local walk with the store's
    LIST/GET/PUT/DELETE calls, keeping exactly this contract."""

    @staticmethod
    def _hidden_tmp(path: str) -> str:
        """In-flight intermediate name: dot-prefixed, so it is invisible
        to _objects_under (hence exists/list_dirs) AND to Spark's
        parquet readers (which skip '.'/'_' files) — a crash mid-write
        must never leave a key that readers would take for data."""
        d, b = os.path.split(path)
        return os.path.join(d, "." + b + ".tmp")

    def exists(self, path: str) -> bool:
        if os.path.isfile(path):
            return True
        return bool(self._objects_under(path))

    def makedirs(self, path: str) -> None:
        pass  # object stores have no directories

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, data: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)  # PUT implies prefix
        tmp = self._hidden_tmp(path)
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)  # emulates the atomicity of a single PUT

    def _objects_under(self, prefix: str, include_hidden: bool = False) -> list[str]:
        """Keys under a prefix. Dot-prefixed names are in-flight
        intermediates, not data objects — excluded unless a cleanup
        sweep (remove_dir) asks for them."""
        out = []
        if os.path.isfile(prefix):
            return [prefix]
        for root, _dirs, files in os.walk(prefix):
            out.extend(
                os.path.join(root, f) for f in files
                if include_hidden or not f.startswith(".")
            )
        return sorted(out)

    def list_dirs(self, pattern: str) -> list[str]:
        import fnmatch

        # fixed prefix up to the first wildcard, then a flat LIST +
        # common-prefix reconstruction at the pattern's depth
        parts = pattern.split(os.sep)
        first_wild = next(
            (i for i, p in enumerate(parts) if any(c in p for c in "*?[")),
            len(parts),
        )
        root = os.sep.join(parts[:first_wild]) or os.sep
        depth = len(parts)
        hits = set()
        for key in self._objects_under(root):
            kparts = key.split(os.sep)
            if len(kparts) < depth:
                continue
            candidate = os.sep.join(kparts[:depth])
            if fnmatch.fnmatch(candidate, pattern):
                hits.add(candidate)
        return sorted(hits)

    def remove_dir(self, path: str) -> None:
        # cleanup sweeps orphaned in-flight intermediates too
        for key in self._objects_under(path, include_hidden=True):
            try:
                os.remove(key)
            except FileNotFoundError:
                pass
        shutil.rmtree(path, ignore_errors=True)  # tidy empty local scaffolding


DEFAULT_IO = LocalStateIO()
