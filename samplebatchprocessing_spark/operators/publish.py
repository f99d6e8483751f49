"""Atomic versioned-pointer PUBLISH for persisted index layouts.

Three maintenance passes rewrite an index into a fresh layout — LSH
band compaction (``dedup.lsh_index_compact``), postings compaction
(``text.postings_index_compact``), IVF re-centroiding
(``similarity.ivf_index_recluster``) — and the trained artifacts of
``operators.artifacts`` are retrained the same way.  Probes keep
serving the old layout until an atomic pointer swap; this module is
that swap, once, for all of them.

One lifecycle, one class: :class:`StorePublisher` runs it over the
5-verb ``ObjectStoreClient`` contract (``pipeline/manifest.py``),
whose only storage guarantee is the object store's atomic PUT — the
same guarantee the reference's one-PUT result upload rests on
(GetJobs.py:57-60).  :func:`open_root` is the single way to open an
index root; every spelling gives a publisher:

- a plain path ``/data/idx`` and ``mock:///data/idx`` both open the
  file-backed ``LocalObjectStoreClient`` rooted at the PARENT
  directory, with the last path component as the root key;
- ``s3://bucket/prefix`` opens the boto3 ``S3ObjectStoreClient``.

The store's ``fs_path`` maps a key to where Spark reads it (the
backing file locally, ``s3a://bucket/key`` on S3) — the data plane;
the publisher owns only the control plane: naming, pointing,
retiring.

- An index ROOT is a key prefix holding LAYOUT prefixes plus ONE
  pointer object ``<root>/_current.json`` = ``{version, dir,
  history}`` naming the live layout.  The pointer is the only
  mutable object; layouts are immutable once published.
- ``publish`` is one pointer PUT, so a reader sees the old pointer
  or the new one, never a torn one.  Versions are monotone.
- ``resolve`` names the live layout.  A root with NO pointer
  resolves to itself, so an unversioned index keeps working and
  probes take either form.

Store semantics, the same on every root:

- a layout EXISTS when it holds at least one object.  An empty
  directory is not a layout, and its name may be reused; a writer
  that crashed after its first object leaves a partial layout whose
  name is never reused;
- retiring a layout deletes its objects.  On a local root the empty
  directory skeleton may remain.

Crash contract: a pass that dies AFTER writing the new layout but
BEFORE ``publish`` leaves the pointer — and so every reader — on
the old version; a re-run writes a fresh layout.  A reader that
resolved the pointer just before a publish keeps reading the OLD
layout, which the publish never touches (fuzzed in
tests/test_differential.py).  ``prune`` (keep >= 2) retires old
layouts only once no in-flight probe can still be scanning them —
the vacuum-horizon discipline of m10.

Scale (100 TB): the pointer is O(history) bytes; the swap cost is
independent of index size; prune memory is bounded by the list page
size, never by layout key count.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # import cycle: manifest imports nothing from here
    from ..pipeline.manifest import ObjectStoreClient

POINTER = "_current.json"
# the schemes an index root may be spelled in (:func:`open_root`)
ROOT_SCHEMES = ("", "mock", "s3")


def open_root(location: str, cas: bool = False) -> "StorePublisher":
    """The publisher for an index-root location: a plain path,
    ``mock:///abs/path`` (both the file-backed client rooted at the
    parent directory, the last component as the root key) or
    ``s3://bucket/prefix``.  ``cas`` elects the multi-maintainer
    pointer mode (:class:`StorePublisher`)."""
    from ..pipeline.manifest import (LocalObjectStoreClient,
                                     S3ObjectStoreClient, _split_scheme)
    scheme, rest = _split_scheme(location)
    if scheme == "s3":
        bucket, _, root = rest.partition("/")
        if not bucket or not root.strip("/"):
            raise ValueError(
                f"s3 uri {location!r}: expected s3://bucket/prefix")
        return StorePublisher(S3ObjectStoreClient(bucket), root, cas=cas)
    if scheme not in ROOT_SCHEMES:
        raise ValueError(f"unsupported index-root scheme {scheme!r} "
                         f"(supported: plain path, mock://, s3://)")
    path = rest if scheme == "" else "/" + rest.lstrip("/")
    parent, key = os.path.split(path.rstrip("/"))
    if not key:
        raise ValueError(f"index root {location!r} names no directory")
    if scheme == "mock" and not os.path.isdir(parent):
        raise ValueError(f"mock uri {location!r}: parent directory "
                         f"{parent!r} must exist (the bucket double)")
    return StorePublisher(LocalObjectStoreClient(parent or os.curdir),
                          key, cas=cas)


def resolve(location: str) -> str:
    """The live layout's data-plane path for an index-root location
    (:func:`open_root`); the root itself when it is unversioned.  A
    location in any other scheme (``s3a://``, ``file://``,
    ``hdfs://`` — e.g. a path an earlier ``resolve`` returned) is an
    unversioned data-plane path and comes back unchanged."""
    from ..pipeline.manifest import _split_scheme
    if _split_scheme(location)[0] not in ROOT_SCHEMES:
        return location
    pub = open_root(location)
    return pub.data_path(pub.resolve())


class StorePublisher:
    """The versioned-pointer lifecycle over one index root of an
    object store (module docstring): ``root`` is a KEY PREFIX (e.g.
    ``indexes/lsh``), a layout is the prefix ``<root>/<name>``, the
    pointer ``<root>/_current.json`` is ONE object written by ONE
    ``put``, and ``prune`` pages over each retired layout prefix
    (``list_pages``) and deletes — DELETE is idempotent, so a crashed
    prune re-run converges.  Build one with :func:`open_root`.

    CONCURRENCY, two modes (ADVICE r12):

    - ``cas=False`` (default) — SINGLE-MAINTAINER: ``publish`` and
      ``prune`` are GET-modify-PUT sequences over the pointer
      object.  S3's plain PUT is atomic PER OBJECT — a reader always
      sees one complete pointer, never a torn one (fuzzed in
      tests/test_publish.py) — but it is not compare-and-swap, so
      two concurrent maintainers race: the second PUT silently wins
      and the first maintainer's version (or a publish landing
      inside prune's read-modify window) is rolled back — a LOST
      UPDATE, not corruption.  Readers are never endangered: every
      pointer state is a complete published version whose layout
      objects exist.  This mirrors the deployment assumption the
      maintenance daemon already enforces (one sweep loop per index
      root).
    - ``cas=True`` (r13) — MULTI-MAINTAINER: every pointer write
      goes through the store's conditional-PUT verb
      (``put_if``: S3 If-Match on the pointer's ETag / If-None-Match
      for the first version — public S3 API since 2024; the
      file-backed double serializes writers on an flock and ETags by
      content md5).  A maintainer that loses the race gets
      :class:`~...pipeline.manifest.PreconditionFailed`, RE-READS,
      and retries the whole read-validate-modify cycle (bounded by
      ``cas_retries``), so concurrent publishes all land — versions
      stay monotone and none is lost — and a publish inside prune's
      window survives (prune's stale PUT fails its precondition and
      the re-run recomputes against the new pointer).  Retry
      side-effects are safe: deletes are idempotent and validation
      reruns from the fresh pointer."""

    def __init__(self, store: "ObjectStoreClient", root: str,
                 cas: bool = False, cas_retries: int = 16) -> None:
        self.store = store
        self.root = root.rstrip("/")
        self.cas = cas
        self.cas_retries = cas_retries

    def _pointer_key(self) -> str:
        return f"{self.root}/{POINTER}"

    def _read_pointer(self) -> dict | None:
        try:
            return json.loads(self.store.get(self._pointer_key()))
        except FileNotFoundError:
            return None

    def _read_pointer_v(self) -> tuple[dict | None, str | None]:
        """(meta, etag) — the etag is the CAS token for the closing
        conditional PUT; (None, None) when unversioned."""
        if not self.cas:
            return self._read_pointer(), None
        try:
            raw, etag = self.store.get_with_etag(self._pointer_key())
        except FileNotFoundError:
            return None, None
        return json.loads(raw), etag

    def _put_pointer(self, new_meta: dict, etag: str | None) -> None:
        data = json.dumps(new_meta).encode()
        if self.cas:
            # etag None = first version: create-if-absent, so two
            # maintainers racing to publish v1 can't both win
            self.store.put_if(self._pointer_key(), data, etag)
        else:
            self.store.put(self._pointer_key(), data)

    def _cas_loop(self, attempt):
        """Run ``attempt`` once (plain mode) or until its conditional
        pointer PUT wins (cas mode, bounded)."""
        from ..pipeline.manifest import PreconditionFailed
        tries = self.cas_retries if self.cas else 1
        last: Exception | None = None
        for _ in range(tries):
            try:
                return attempt()
            except PreconditionFailed as e:
                last = e       # lost the race: re-read and retry
        raise PreconditionFailed(
            f"lost {tries} consecutive CAS races on "
            f"{self._pointer_key()} — raise cas_retries or reduce "
            f"maintainer concurrency") from last

    def data_path(self, key: str) -> str:
        """Where Spark reads ``key``: the store's data plane."""
        return self.store.fs_path(key)

    def _layout_objects(self, name: str) -> bool:
        # point-prefix lookup: first page only — membership needs one
        # object, never the full listing
        for page in self.store.list_pages(f"{self.root}/{name}/",
                                          page_size=1):
            return bool(page)
        return False

    def current_version(self) -> int | None:
        meta = self._read_pointer()
        return None if meta is None else int(meta["version"])

    def resolve(self) -> str:
        """Live layout key; the root itself when unversioned, so
        readers resolve unconditionally."""
        meta = self._read_pointer()
        if meta is None:
            return self.root
        return f"{self.root}/{meta['dir']}"

    def new_layout_dir(self, prefix: str = "layout-v") -> str:
        """A fresh layout prefix for a writer: smallest n above both
        the published version and every name with objects on the
        bucket — a crashed writer's partial layout is never reused."""
        meta = self._read_pointer()
        n = 0 if meta is None else int(meta["version"])
        while True:
            n += 1
            name = f"{prefix}{n:05d}"
            if not self._layout_objects(name):
                return f"{self.root}/{name}"

    def publish(self, layout_key: str) -> int:
        """Atomically repoint the root at ``layout_key`` (one PUT —
        conditional in cas mode, retried until it wins); returns the
        new version.  ``layout_key`` must be a direct child of the
        root (the pointer stores the relative name, so the root
        relocates as one unit), fully written (>= 1 object), and not
        the live layout (republishing it is a bug upstream, and
        pruning history could then delete the live layout)."""
        key = layout_key.rstrip("/")
        head, _, rel = key.rpartition("/")
        if head != self.root or not rel:
            raise ValueError(
                f"layout {layout_key!r} is not a direct child of "
                f"index root {self.root!r} — layouts live inside "
                f"their root so the pointer's relative name stays "
                f"valid")
        if rel == POINTER:
            raise ValueError(f"{POINTER} is the pointer, not a layout")
        if not self._layout_objects(rel):
            raise ValueError(
                f"layout {layout_key!r} has no objects — write the "
                f"layout fully, then publish")

        def attempt() -> int:
            meta, etag = self._read_pointer_v()
            if meta is not None and meta["dir"] == rel:
                raise ValueError(
                    f"layout {rel!r} is already the live version "
                    f"{meta['version']} — a maintenance pass "
                    f"publishes a FRESH prefix, never re-publishes "
                    f"the live one")
            version = 1 if meta is None else int(meta["version"]) + 1
            history = ([] if meta is None
                       else meta.get("history", [])) + [
                {"version": version, "dir": rel}]
            self._put_pointer({"version": version, "dir": rel,
                               "history": history}, etag)
            return version

        return self._cas_loop(attempt)

    def prune(self, keep: int = 2) -> list[str]:
        """Delete every object under layouts older than the newest
        ``keep`` published versions; returns the retired layout
        prefixes.  ``keep >= 2`` is the concurrent-reader floor
        (module docstring).  Never-published orphan prefixes are not
        touched — they may be a maintenance pass mid-write.

        In cas mode the returned list is best-effort under
        contention: a layout whose objects fell in an attempt that
        then lost its pointer race is not re-reported by the winning
        retry (its prefix lists empty, so ``found`` stays False) —
        the deletions themselves are idempotent and complete."""
        if keep < 1:
            raise ValueError(f"keep must be >= 1, got {keep}")

        def attempt() -> list[str]:
            meta, etag = self._read_pointer_v()
            if meta is None:
                return []
            history = meta.get("history", [])
            retire, remain = history[:-keep], history[-keep:]
            live = meta["dir"]
            keep_names = {r["dir"] for r in remain}
            retired = []
            for h in retire:
                if h["dir"] == live or h["dir"] in keep_names:
                    continue
                prefix = f"{self.root}/{h['dir']}/"
                found = False
                for page in self.store.list_pages(prefix):
                    for k in page:
                        self.store.delete(k)
                        found = True
                if found:
                    retired.append(f"{self.root}/{h['dir']}")
            # cas retry is safe here: deletes are idempotent, the
            # horizon recomputes from the FRESH pointer (so a version
            # published inside this window is never rolled back), and
            # layout names below the live version are never reused
            self._put_pointer(dict(meta, history=remain), etag)
            return retired

        return self._cas_loop(attempt)
