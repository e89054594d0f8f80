"""Generational publish protocol for STANDING STORES — the one commit
discipline every build-once/serve-forever artifact in this engine uses
(r13, r12 VERDICT item 3: "four protocols is three too many to audit
forever").

A standing store is a directory whose contents are rebuilt rarely
(compaction, retrain) but read constantly (serve paths), with grow-only
appends arriving between rebuilds.  The protocol gives every such store
the same four guarantees with the same on-disk vocabulary:

    root/
      gen-000042-<uid>/      one GENERATION = one immutable consistent view
        _commit              live iff this marker exists (single rename)
        <tables...>          store-specific payload, staged then renamed in
        _folded/<bid>        manifest: append batch ids compacted into this base
      _compacting.<uid>      compaction/retrain lease (fences in-flight appends)

1. **Atomic commit** — a generation becomes live via ONE marker rename;
   a crash anywhere before it leaves the previous generation fully
   live, and a reader can never observe tables from two different
   rebuilds (the torn-vocab / torn-models class of bug).
2. **Immutability** — committed generations are never modified; rebuilds
   write a brand-new one.  Readers that resolved a generation keep a
   consistent view for the lifetime of their plan.
3. **Replay idempotence** — the ``_folded`` manifest records which
   append batch ids a rebuild absorbed, so a streaming checkpoint
   replay of an already-folded batch is a no-op, not a double-append.
4. **Race fencing** — the TTL'd ``_compacting`` lease (heartbeat-renewed
   by live compactors, stale-ignored for crashed ones) serializes
   rebuilds and lets appenders re-check the live generation after
   publishing.

Consumers (each store keeps its own table layout; only the COMMIT
discipline is shared):

- the prefix-gram PPJoin index (``queries.dedup`` — the protocol's
  origin, r12),
- the BM25 lexicon (``queries.text`` — migrated r13 from its older
  meta.json-commit discipline),
- the standing IVF+PQ ANN index's erasure path
  (``queries.similarity.ann_index_forget``: the lease fences compacts;
  the snapshot ``_LATEST`` pointer stays the read-side commit, with
  models/label_lists versioned per snapshot version so one pointer flip
  commits all three).

Stores that deliberately KEEP a simpler discipline (documented here so
the audit has one place to look):

- **Bloom / zonemap manifests** (``sinks``): they live INSIDE a
  committed snapshot version (built before the pointer commit) or are
  rebuilt whole beside the table they index; a stale manifest degrades
  to a louder full scan (``StaleManifestError`` fallback), never a wrong
  answer — the full generation machinery would add nothing but moving
  parts.
- **result cache** (``cache.serve_cached``): per plan+inputs
  fingerprint, a ``data`` directory (:func:`commit_dir`) committed by
  the ``_rc_ready`` marker; an entry is either fully present or absent,
  and a miss just recomputes — per-entry atomicity is the whole need.

The tiny-file and directory-commit primitives live here too; every
package module outside ``sources/rest.py`` uses them instead of its own
``create``/``readAllBytes`` and first-writer-wins ``rename``:

- :func:`put_file` — create, write, close; for files inside a stage a
  later rename commits (the snapshot claim sentinel ``_PUB_*``, the
  ``_schema.json`` sidecar, the lexicon
  stage ``meta.json``);
- :func:`commit_file` — ``put_file`` to a hidden uuid tmp, then one
  rename (``replace=True`` deletes the old file first); markers,
  pointers and JSON sidecars (``_commit``, ``_compacting.*``,
  ``_LATEST.v{N}``, ``_rc_meta.json``, ``models*.json``);
- :func:`commit_dir` — one first-writer-wins rename of a staged
  directory (result-cache ``data``, batch halves, ANN summaries, the
  bucketed store, every generation via :func:`commit_generation`);
- :func:`read_file` — one ``open``, None when the file is absent;
- :func:`build_once` — the "no marker: build, then commit the marker"
  gate of every build-once rehearsal artifact and standing layout.

All FS access goes through the Hadoop FileSystem API handles the caller
provides (``sinks._fs_for`` returns ``(fs, Path class)``), so a root
may be an object-store prefix — with the documented caveat that
``rename``-as-commit needs a store with atomic rename
(HDFS/ABFS-hier/local); on S3-style stores the marker create is still
atomic but stage renames are copies.  Lease functions read
``LEASE_TTL_S`` at call time.
"""

from __future__ import annotations

import re
import threading
import time
import uuid
from contextlib import contextmanager

GEN_RE = re.compile(r"^gen-(\d{6})-[0-9a-f]+$")
LEASE_TTL_S = 600.0


def put_file(fs, hp, path: str, data: bytes) -> None:
    """Write ``data`` as the file ``path`` (overwriting).  Not atomic on
    its own: for files inside a stage that a later rename commits."""
    out = fs.create(hp(path), True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def commit_file(fs, hp, path: str, data: bytes = b"ready", replace: bool = False) -> bool:
    """Publish ``data`` as ``path`` by writing a hidden uuid tmp beside
    it and renaming it into place (atomic on every FS the repo targets;
    parents auto-created).  ``replace`` deletes an existing ``path``
    first, so the last writer wins; without it an existing ``path``
    wins (HDFS and the local FS refuse the rename).  The tmp is deleted
    whenever the rename did not land.  Returns whether it landed."""
    parent, name = path.rsplit("/", 1)
    tmp = f"{parent}/.{name}.tmp.{uuid.uuid4().hex[:6]}"
    put_file(fs, hp, tmp, data)
    if replace:
        fs.delete(hp(path), False)
    landed = fs.rename(hp(tmp), hp(path))
    if not landed:
        fs.delete(hp(tmp), False)
    return landed


def commit_dir(fs, hp, stage: str, dst: str) -> bool:
    """Publish the staged directory ``stage`` as ``dst`` by one rename
    that runs only when ``dst`` is absent (first writer wins); returns
    whether ours landed and deletes ``stage`` when it did not.  Hadoop's
    rename onto a directory a racer just published nests ``stage``
    inside it, where a recursive read counts it twice: that copy is
    deleted.  A ``rename`` exception propagates with its debris kept."""
    landed = not fs.exists(hp(dst)) and fs.rename(hp(stage), hp(dst))
    if not landed:
        fs.delete(hp(stage), True)
        return False
    nested = hp(f"{dst}/{stage.rsplit('/', 1)[-1]}")
    if fs.exists(nested):
        fs.delete(nested, True)
        return False
    return True


def read_file(fs, hp, path: str) -> bytes | None:
    """The bytes of ``path`` in one ``open``, or None when it does not
    exist."""
    from py4j.protocol import Py4JJavaError

    try:
        stream = fs.open(hp(path))
    except Py4JJavaError as e:
        if "FileNotFoundException" in str(e):
            return None
        raise
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def build_once(spark, marker: str, build) -> None:
    """Run ``build()`` unless ``marker`` exists, then commit ``marker``.
    A hit costs one ``exists``.  ``build`` must be safe to repeat: two
    racing first touches both build, and a crash before the commit
    rebuilds on the next call."""
    from .sinks import _fs_for

    fs, hp = _fs_for(spark, marker)
    if fs.exists(hp(marker)):
        return
    build()
    commit_file(fs, hp, marker)


def committed_gens(fs, hpath, root: str) -> list[str]:
    """Ascending names of committed generation dirs under ``root``."""
    if not fs.exists(hpath(root)):
        return []
    out = []
    for st in fs.listStatus(hpath(root)):
        nm = st.getPath().getName()
        if (
            st.isDirectory()
            and GEN_RE.match(nm)
            and fs.exists(hpath(f"{root}/{nm}/_commit"))
        ):
            out.append(nm)
    return sorted(out)


def current_gen(fs, hpath, root: str) -> str | None:
    """Path of the live (max committed) generation, or None pre-build."""
    gens = committed_gens(fs, hpath, root)
    return f"{root}/{gens[-1]}" if gens else None


def next_gen_name(fs, hpath, root: str) -> str:
    """Name for the generation AFTER the current live one (uid-suffixed
    so two racers can never collide on a directory name)."""
    gens = committed_gens(fs, hpath, root)
    seq = int(GEN_RE.match(gens[-1]).group(1)) + 1 if gens else 0
    return f"gen-{seq:06d}-{uuid.uuid4().hex[:8]}"


def gen_folded_bids(fs, hpath, gen: str) -> list[str]:
    """Batch ids recorded in a generation's ``_folded`` manifest."""
    man = hpath(f"{gen}/_folded")
    if not fs.exists(man):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(man))


def live_leases(fs, hpath, root: str) -> list[str]:
    """Compaction lease files younger than the TTL (stale ones — a
    crashed compactor — are ignored, so appends never wedge).  Every
    lease function reads ``LEASE_TTL_S`` at call time, so one assignment
    changes the TTL for every store."""
    ttl_s = LEASE_TTL_S
    if not fs.exists(hpath(root)):
        return []
    out = []
    for st in fs.listStatus(hpath(root)):
        nm = st.getPath().getName()
        if nm.startswith("_compacting.") and not st.isDirectory():
            if time.time() * 1000 - st.getModificationTime() < ttl_s * 1000:
                out.append(nm)
    return out


def wait_leases_clear(fs, hpath, root: str) -> None:
    """Block until no live compaction lease remains.  The bound is the
    lease TTL plus slack: a legitimate long compact (the 100×
    fold runs minutes) must not make waiting appenders raise spuriously,
    and a crashed compactor's lease goes stale at the TTL anyway — so
    waiting longer than TTL+slack can never be necessary."""
    timeout_s = LEASE_TTL_S + 60.0
    t0 = time.time()
    while live_leases(fs, hpath, root):
        if time.time() - t0 > timeout_s:
            raise TimeoutError(f"compaction lease on {root} held > {timeout_s}s")
        time.sleep(0.2)


@contextmanager
def compaction_lease(fs, hpath, root: str):
    """Acquire the store's compaction lease for the duration of a
    rebuild, heartbeat-renewed so a LIVE compactor can legitimately
    outlive the TTL (the 100× fold runs minutes) while a CRASHED one
    stops renewing and goes stale at the TTL — exactly the distinction
    that keeps waiting appenders from either wedging forever or being
    released mid-compact into the lost-batch window.

    Raises RuntimeError when another live lease exists (one rebuild at a
    time per store).  The lease file is deleted on exit — success or
    exception — and the heartbeat thread stops with it.

    Acquire is TWO-PHASE (r14, ADVICE: the probe-then-create of r13 was
    check-then-act — two processes could both pass the probe and both
    believe they held the lease, re-opening the append-vs-compact
    lost-batch window the lease exists to close).  Phase 1: the fast-path
    probe (unchanged).  Phase 2: create MY uid-named lease, then re-list;
    if ANY other live lease is visible, delete mine and raise.  Mutual
    exclusion holds without an atomic create-exclusive primitive (which
    Hadoop's local FS doesn't give): suppose A and B both proceed — A
    proceeding means B was invisible at A's re-list, so B's create
    finished after it, so B's re-list (which happens after B's create)
    runs after A's create and MUST see A's still-held lease, so B backs
    off.  The only cost is that near-simultaneous racers may BOTH yield
    — safe for every caller (compaction callers already treat
    "in progress" as retry-next-round); a short jittered re-probe turns
    the both-yield case into one winner when the other racer is gone,
    while a REAL holder still raises immediately.  Requires only
    read-your-writes listing (local FS, HDFS, and current S3 all give
    it)."""
    import random

    ttl_s = LEASE_TTL_S
    lease = None
    for attempt in range(3):
        if live_leases(fs, hpath, root):
            raise RuntimeError(f"compact already in progress under {root}")
        cand = f"{root}/_compacting.{uuid.uuid4().hex[:8]}"
        commit_file(fs, hpath, cand)
        mine = cand.rsplit("/", 1)[1]
        others = [nm for nm in live_leases(fs, hpath, root) if nm != mine]
        if not others:
            lease = cand
            break
        fs.delete(hpath(cand), False)
        if attempt == 2:
            raise RuntimeError(f"compact already in progress under {root}")
        # the conflicting racer may have yielded too — jittered re-probe;
        # if it actually held, the next probe raises above
        time.sleep(random.uniform(0.05, 0.2))
    stop_hb = threading.Event()

    def _heartbeat() -> None:
        while not stop_hb.wait(ttl_s / 4):
            try:
                now_ms = int(time.time() * 1000)
                fs.setTimes(hpath(lease), now_ms, now_ms)
            except Exception:  # noqa: BLE001 — lease deleted: exit quietly
                return

    hb = threading.Thread(target=_heartbeat, daemon=True)
    hb.start()
    try:
        yield lease
    finally:
        stop_hb.set()
        fs.delete(hpath(lease), False)


def commit_generation(fs, hpath, root: str, stage: str, gen_name: str) -> str:
    """Publish a fully-staged directory as a committed generation: one
    :func:`commit_dir` onto ``root/gen_name``, the ``_commit`` marker,
    then GC of all but the two newest committed generations (a reader
    that resolved the previous one just before the commit still has its
    files).  Returns the generation path.  When the rename did not land
    (the FS denied it; uid-suffixed names never collide) nothing is
    committed and ``OSError`` is raised."""
    gen = f"{root}/{gen_name}"
    if not commit_dir(fs, hpath, stage, gen):
        raise OSError(f"could not publish staged generation onto {gen}")
    commit_file(fs, hpath, f"{gen}/_commit")
    for g in committed_gens(fs, hpath, root)[:-2]:
        fs.delete(hpath(f"{root}/{g}"), True)
    return gen
