"""Stored-artifact lifecycle: source fingerprints + atomic publication.

The stored-artifact family (dedup_stored_index, ann_stored_ivf,
cdc_stored_state_maintain and their maintenance twins) persists derived
state — LSH band tables, IVF vector buckets, CDC aggregate state — as
parquet artifacts reused across invocations. Reference analog: the
always-current idempotent upsert store (study_scraper/storage/
postgres.py:1160-1239). Two lifecycle hazards this module closes:

1. **Staleness.** Keying an artifact by corpus row count alone lets a
   cardinality-preserving corpus edit silently reuse a stale index —
   a wrong-answer path. Every artifact therefore records the SOURCE
   FINGERPRINT it was built from: a hash of the source parquet files'
   (relative path, size, mtime_ns) plus a logical params string
   (filters, shingle/band/centroid config, ingest history). Computing
   the fingerprint is ``os.stat`` only — no data scan, not even a
   metadata ``count()`` — so probe-only invocations cost zero corpus
   I/O. Any edit rewrites a file, changing size/mtime_ns → mismatch →
   rebuild. This is the single-node moral of versioning by table
   snapshot id / ingest watermark (Delta, Iceberg), which is what a
   cluster deployment keys on. The same stat fingerprint also keys
   schema reuse: ``sources.tables.read_parquet`` infers each parquet
   schema once per file state and reuses it while the fingerprint of
   the path holds.

2. **Partial / concurrent builds.** Builders write into a unique temp
   directory beside the final path; the ``_ARTIFACT_META.json``
   fingerprint file is written LAST, and the temp dir is renamed into
   place only once complete. A directory without its meta file is
   treated as absent, so a crashed build can never be trusted, and a
   concurrent builder that loses the publish race simply discards its
   temp dir.

**Layout.** Every artifact lives at ``<store>/<name>/<sf basename>``,
where ``<store>`` is the parent of ``plans.dedup._index_root()``
(``plans.dedup._artifact_path`` is the one place that spells this out;
it re-reads ``_index_root`` on every call, so rebinding it relocates
the whole store). Each artifact is declared once as a record,
``plans.dedup.Stored(name, table, params, build, step=None)``: its
path, its fingerprint over ``<sf_dir>/<table>.parquet`` and ``params``,
and the ``publish`` / ``ensure_staged`` call all come from the record,
which calls this module's functions through the module so a tracer
that rebinds them sees every check and build.

**Staged stamp order.** An artifact maintained in place (base build +
one ingest/delete step) goes through ``ensure_staged``: unless the
FINAL fingerprint is current, publish the base under the BASE
fingerprint (a no-op when the base is already current), run the step,
then stamp the final fingerprint. A crash after the base publish
leaves meta at the base fingerprint, so the rerun repeats only the
step, which must therefore overwrite its own partial output. A record
with ``step=(key, tag, fn)`` takes this order, with base fingerprint
``params|key=``, final fingerprint ``params|key=tag`` and final meta
``{key: [tag]}``. Two lifecycles keep other stamp orders by hand:
``plans.dedup._ensure_compact_index`` stamps its final fingerprint
before compacting, and ``plans.similarity._ensure_split_ivf`` stamps a
pre-split fingerprint before splitting.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import uuid
from collections.abc import Callable

META_NAME = "_ARTIFACT_META.json"


class CheckedThread(threading.Thread):
    """Background segment-write thread that CAPTURES its exception and
    re-raises it from ``join()``. The ingest loops stamp a segment into
    the artifact meta only after its write thread joins; a plain Thread
    swallows a failed write, so the stamp would list a partial segment —
    breaking the 'crashed merge = unlisted orphan' crash invariant the
    synchronous path guaranteed (it raised before the stamp). With the
    re-raise, a failed write surfaces at join(), before the meta stamp,
    exactly where the synchronous failure surfaced."""

    def run(self) -> None:
        self.exc: BaseException | None = None
        try:
            super().run()
        except BaseException as e:  # noqa: BLE001 — must not swallow any
            self.exc = e

    def join(self, timeout: float | None = None) -> None:
        super().join(timeout)
        exc = getattr(self, "exc", None)
        if exc is not None:
            raise exc


def sized(df, *partition_cols: str):
    """REBALANCE a store frame immediately before its parquet write
    (file sizing, the coalesce-on-write half of guide §6): AQE packs
    the rebalance shuffle's output to the advisory partition size, so
    a fixture-scale store lands as ONE file per partition directory
    instead of one file per upstream task (the sf0.1 sigstore measured
    480 tiny files for 10 MB; scanning it cost 0.55 s steady / 1.5 s
    cold vs 0.33 s compacted), while a cluster-scale store still
    splits into advisory-sized files — no local constant anywhere.
    Purely physical layout; row content is unchanged."""
    return df.hint("rebalance", *partition_cols)


def source_fingerprint(sources: list[str], params: str = "") -> str:
    """Fingerprint of the artifact's inputs: file-level metadata of
    every data file under each source path (file or directory), plus
    the logical ``params`` string. Pure ``os.stat`` — O(#files), no
    data read. Missing sources contribute a marker (so 'source was
    deleted after indexing' still yields a STABLE fingerprint rather
    than an error — the probe-only-after-delete flow)."""
    h = hashlib.sha256()
    h.update(params.encode())
    for src in sorted(sources):
        if os.path.isfile(src):
            st = os.stat(src)
            # full normalized path, not the basename: two distinct
            # sources with the same filename + size + mtime must not
            # collide (matches the dir branch's path sensitivity)
            key = os.path.normpath(os.path.abspath(src))
            h.update(f"|{key}:{st.st_size}:{st.st_mtime_ns}".encode())
        elif os.path.isdir(src):
            for dirpath, dirnames, files in os.walk(src):
                dirnames.sort()
                rel = os.path.relpath(dirpath, src)
                for f in sorted(files):
                    if f.startswith((".", "_")) and f != "_SUCCESS":
                        continue
                    st = os.stat(os.path.join(dirpath, f))
                    h.update(f"|{rel}/{f}:{st.st_size}:{st.st_mtime_ns}".encode())
        else:
            h.update(f"|missing:{src}".encode())
    return h.hexdigest()[:32]


def load_meta(path: str) -> dict | None:
    """The artifact's recorded metadata, or None when absent/partial
    (no meta file == the build never completed — never trust it)."""
    try:
        with open(os.path.join(path, META_NAME)) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def is_current(path: str, fingerprint: str) -> bool:
    meta = load_meta(path)
    return meta is not None and meta.get("fingerprint") == fingerprint


ORPHAN_AGE_S = 3600  # temp/old dirs older than this are crash debris


def _tree_max_mtime(root: str) -> float:
    """Most recent mtime anywhere under ``root`` (the root itself
    included). A live build writing into nested subdirs (Spark parquet
    under bands/band_idx=*/) never refreshes the ROOT's mtime, so
    age-gating on the root alone would misclassify a long-running
    build as crash debris — the freshest file in the tree is the real
    liveness signal."""
    newest = 0.0
    try:
        newest = os.stat(root).st_mtime
    except OSError:
        return newest
    for dirpath, _dirs, files in os.walk(root):
        for name in [""] + files:
            try:
                mt = os.stat(os.path.join(dirpath, name) if name else dirpath).st_mtime
            except OSError:
                continue
            if mt > newest:
                newest = mt
    return newest


def sweep_orphans(path: str) -> int:
    """Remove crash debris around an artifact: ``<path>.tmp.*`` /
    ``<path>.old.*`` directories whose NEWEST tree mtime is older than
    ORPHAN_AGE_S. The age gate is what makes this safe to run
    opportunistically on every publish — a CONCURRENT builder's live
    temp dir contains a recently-written file by definition (the max
    mtime walks the whole tree, so nested Spark part-file writes count
    as liveness), while a hard-crashed build's leftovers only get
    older. Returns the number removed."""
    import time

    parent = os.path.dirname(path) or "."
    base = os.path.basename(path)
    removed = 0
    try:
        entries = os.listdir(parent)
    except OSError:
        return 0
    now = time.time()
    for entry in entries:
        if not (
            entry.startswith(f"{base}.tmp.") or entry.startswith(f"{base}.old.")
        ):
            continue
        full = os.path.join(parent, entry)
        if now - _tree_max_mtime(full) > ORPHAN_AGE_S:
            shutil.rmtree(full, ignore_errors=True)
            removed += 1
    return removed


def _install(tmp: str, path: str) -> bool:
    """Move a complete temp build into place. Directories can't be
    atomically exchanged portably, so this is NEAR-atomic: the previous
    artifact is renamed aside, then the temp dir renamed in — a reader
    can observe ``path`` briefly absent between the two renames, which
    the reader contract already treats as 'no artifact' (missing ==
    rebuild/retry, same as a missing meta). A concurrent installer that
    wins either rename first simply makes ours fail with OSError —
    treated as a LOST RACE: the losing temp dir is discarded and False
    returned, never an exception (the winner's artifact is complete by
    construction, meta-last). On a failed second rename the
    renamed-aside previous artifact is restored first — 'the winner's
    artifact is complete' only holds when a concurrent installer
    actually re-populated ``path``; for a non-race OSError (transient
    EACCES, IO error) blindly discarding ``old`` would destroy the only
    good artifact. ``old`` is deleted only once ``path`` exists again."""
    old = None
    try:
        if os.path.exists(path):
            old = f"{path}.old.{uuid.uuid4().hex[:8]}"
            os.rename(path, old)
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if old:
            if not os.path.exists(path):
                try:
                    os.rename(old, path)  # restore previous artifact
                except OSError:
                    pass
            if os.path.exists(path) and os.path.exists(old):
                shutil.rmtree(old, ignore_errors=True)  # genuine lost race
        return False
    if old:
        shutil.rmtree(old, ignore_errors=True)
    return True


def swap(path: str, builder: Callable[[str], None], meta: dict) -> None:
    """Unconditionally replace the artifact at ``path`` with a freshly
    built one: build into ``<path>.tmp.<uuid>``, write ``meta`` LAST,
    rename into place (near-atomic — see _install; readers treat the
    brief absence window like a missing artifact). Readers never see a
    half-built artifact as valid (no meta == absent); the previous
    artifact stays readable until the install; a lost install race
    discards the temp build."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    try:
        builder(tmp)
        with open(os.path.join(tmp, META_NAME), "w") as fh:
            json.dump(meta, fh)
        _install(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def publish(
    path: str,
    fingerprint: str,
    builder: Callable[[str], None],
    extra_meta: dict | None = None,
) -> bool:
    """Ensure ``path`` holds an artifact built from ``fingerprint``.

    Returns True when a (re)build happened. Stale or partial artifacts
    are replaced; current ones are reused untouched (mtimes preserved —
    pinned by tests). The build goes to ``<path>.tmp.<uuid>``; the meta
    file is written last; the install is rename-based and NEAR-atomic
    (see _install — readers treat the brief absence window as 'no
    artifact'), so a half-built artifact is never valid. A publisher
    that loses a concurrent race — at the recheck or on the rename
    itself — discards its temp build and returns False. Crash debris
    from earlier builds (age-gated — see sweep_orphans) is collected
    on the way."""
    sweep_orphans(path)
    if is_current(path, fingerprint):
        return False
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    try:
        builder(tmp)
        meta = {"fingerprint": fingerprint}
        if extra_meta:
            meta.update(extra_meta)
        with open(os.path.join(tmp, META_NAME), "w") as fh:
            json.dump(meta, fh)
        if is_current(path, fingerprint):  # concurrent builder won
            shutil.rmtree(tmp, ignore_errors=True)
            return False
        return _install(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ensure_staged(
    path: str,
    base_fp: str,
    final_fp: str,
    builder: Callable[[str], None],
    step: Callable[[], None],
    final_meta: dict,
) -> None:
    """Ensure ``path`` holds the base artifact plus one in-place step,
    stamped ``final_fp`` (the staged order in the module docstring)."""
    if is_current(path, final_fp):
        return
    publish(path, base_fp, builder)
    step()
    update_meta(path, final_fp, final_meta)


def update_meta(path: str, fingerprint: str, extra_meta: dict | None = None) -> None:
    """Re-stamp a published artifact after in-place maintenance (delta
    MERGE): the artifact now represents base + ingested deltas, so its
    fingerprint advances to cover the new source set."""
    meta = load_meta(path) or {}
    meta["fingerprint"] = fingerprint
    if extra_meta:
        meta.update(extra_meta)
    tmp = os.path.join(path, f".{META_NAME}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(path, META_NAME))
