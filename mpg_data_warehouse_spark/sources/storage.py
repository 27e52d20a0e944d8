"""Pluggable control-plane storage for index/table sidecars.

The data plane (parquet part files, Avro blocks) is Spark's own
Hadoop-filesystem story and needs no help here. What DOES need a
seam is the engine's control plane: JSON sidecars (`_bloom_meta`,
`_bloom_index_meta`), atomic directory installs
(truncate-replace, compaction, Avro staging swaps), and prefix
deletes (partition-version rollback, staging cleanup). Round 5 gave the
transaction log a pluggable ``CommitBackend`` (``txlog.py:160``) —
this module extends the same design to the rest of the engine, so a
100 TB object-store deployment injects ONE backend instead of
editing every module that used to call ``open()``/``shutil``.

Primitives (each maps directly onto object-store calls):

- ``read_text`` / ``write_text_atomic``: GET / PUT of a small
  control object. The local implementation stages + fsyncs +
  ``os.replace``s so a crash can never leave a half-written or
  empty sidecar under the live name (object-store PUT is atomic by
  nature).
- ``exists`` / ``list_files``: HEAD / LIST under a prefix.
- ``delete_prefix``: batched DELETE of everything under a prefix.
- ``install_dir``: atomic swap of a fully-written staging directory
  into the live path. POSIX rename locally; on an object store this
  is the one primitive without a literal equivalent — deployments
  back it with a manifest pointer flip (the txlog table format here,
  or Delta/Iceberg semantics) rather than a copy storm, which is why
  it lives behind the seam instead of being inlined as two renames
  everywhere.

The reference pinned all of this to one filesystem contract
(src/backup_tables.py and the GCS-bucket export paths); this engine
keeps the semantics and injects the store.
"""

from __future__ import annotations

import os
import shutil
import uuid


class StorageBackend:
    """Control-plane storage operations. Implementations must make
    ``write_text_atomic`` all-or-nothing under the final name and
    ``install_dir`` a full-directory atomic publish."""

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def write_text_atomic(self, path: str, payload: str) -> None:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def list_files(self, prefix: str) -> list[str]:
        """All file paths (recursive) under ``prefix``; [] if absent."""
        raise NotImplementedError

    def delete_prefix(self, prefix: str) -> None:
        """Remove everything under ``prefix``; absent prefix is a no-op."""
        raise NotImplementedError

    def delete_file(self, path: str) -> None:
        """Remove one file; absent file is a no-op. (``delete_prefix``
        is directory-shaped — rmtree on a file is a silent no-op — so
        file-grain cleanup needs its own verb.)"""
        raise NotImplementedError

    def install_dir(
        self, staging: str, live: str, if_absent: bool = False
    ) -> None:
        """Publish ``staging`` at ``live`` atomically. With
        ``if_absent=True`` the install must FAIL (``FileExistsError``)
        when ``live`` is already occupied, atomically — no window in
        which concurrent pre-existing data is renamed away (the
        error-mode write contract)."""
        raise NotImplementedError


class LocalFSStorageBackend(StorageBackend):
    """POSIX-rename default (local disk / NFS / HDFS-style mounts)."""

    def read_text(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()

    def write_text_atomic(self, path: str, payload: str) -> None:
        parent = os.path.dirname(path) or "."
        os.makedirs(parent, exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        # persist the rename itself: without the directory fsync a
        # crash can revive the OLD sidecar next to NEW data files
        # (same ordering rule as txlog's commit install)
        dfd = os.open(parent, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def list_files(self, prefix: str) -> list[str]:
        out: list[str] = []
        for dirpath, _dirs, names in os.walk(prefix):
            out.extend(os.path.join(dirpath, n) for n in names)
        return out

    def delete_prefix(self, prefix: str) -> None:
        shutil.rmtree(prefix, ignore_errors=True)

    def delete_file(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def install_dir(
        self, staging: str, live: str, if_absent: bool = False
    ) -> None:
        """Two renames: live → live__old, staging → live, then delete
        live__old. The path never holds a half-written table — at
        every instant it resolves to the complete old data, the
        complete new data, or (for the instant between renames)
        nothing, where a reader fails fast and retries. If the
        process dies mid-swap both complete copies remain on disk
        (live__old and/or staging) for manual recovery. On a bare
        object store directory "rename" is copy+delete — use the
        txlog table format or an output committer there instead.

        ``if_absent=True`` takes the EXCLUSIVE path: one
        ``os.rename(staging, live)``, which the kernel refuses
        (ENOTEMPTY/EEXIST) when ``live`` holds data — closing the
        check-then-install TOCTOU window; data that appeared
        concurrently is never renamed away. An EMPTY pre-existing
        directory at ``live`` counts as absent (rename replaces it),
        matching the occupied-target definition of the callers."""
        if if_absent:
            try:
                os.rename(staging, live)
            except FileNotFoundError:
                raise  # missing staging/parent is a caller bug, not a race
            except OSError as exc:
                raise FileExistsError(
                    f"install_dir: target {live!r} is occupied; "
                    "nothing was installed"
                ) from exc
            return
        old = live.rstrip("/") + "__old"
        shutil.rmtree(old, ignore_errors=True)
        had_live = os.path.exists(live)
        if had_live:
            os.rename(live, old)
        try:
            os.rename(staging, live)
        except OSError:
            if had_live:
                os.rename(old, live)  # roll back: old table intact
            raise
        shutil.rmtree(old, ignore_errors=True)


_BACKEND: StorageBackend = LocalFSStorageBackend()


def uri_to_path(uri: str) -> str:
    """``input_file_name()`` yields ``file:///abs/path`` (URI-encoded);
    normalize to a plain absolute path for set membership / backend
    file operations. Shared by txlog's file-hit mapping and the BM25
    repair's orphan-file unlink (one URI-decoding rule, not per-module
    copies with drifting scheme handling)."""
    from urllib.parse import unquote, urlparse

    if "://" in uri or uri.startswith("file:"):
        return unquote(urlparse(uri).path)
    return os.path.abspath(uri)


def get_storage_backend() -> StorageBackend:
    return _BACKEND


def set_storage_backend(backend: StorageBackend) -> StorageBackend:
    """Install the control-plane backend (e.g. an object-store
    implementation) and return the previous one, so deployments
    inject their store without editing the index modules."""
    global _BACKEND
    prev = _BACKEND
    _BACKEND = backend
    return prev


def read_json(path: str) -> dict:
    import json

    return json.loads(_BACKEND.read_text(path))


def write_json_atomic(path: str, obj: dict) -> None:
    import json

    _BACKEND.write_text_atomic(path, json.dumps(obj))
