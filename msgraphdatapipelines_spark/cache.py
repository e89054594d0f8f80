"""Plan-fingerprint result cache (late r10).

The standing-artifact layer (IVF+PQ index, BM25 lexicon, zone maps,
Bloom manifests, CM sketches) caches PER-OPERATOR state.  This module
adds the top of that ladder: caching a whole query's RESULT SET, keyed
by what actually determines it — the optimized logical plan plus the
identity of every input file.  The posture is the result-reuse layer
every serving warehouse keeps (Snowflake's result cache is the
best-known instance): a repeated dashboard/report query should cost one
artifact read, not one 100 TB scan, and a cache hit must be IMPOSSIBLE
when either the query or its inputs changed.

Correctness is structural, not temporal:

- The fingerprint hashes the OPTIMIZED plan (post-Catalyst), so two
  syntactically different but plan-identical queries share one entry,
  while any semantic difference — a changed literal, a different column
  — changes the plan text and therefore the key.  Expression IDs
  (``#123``) are session-assigned noise and are stripped before
  hashing.
- The fingerprint also hashes the identity of every input file (see
  :func:`_input_signature`): :func:`file_identity` for a local input,
  (name, size, mtime) from the Hadoop listing for a remote one.
  Touching an input changes the key, so a stale entry is never SERVED;
  it is merely stranded, and the ``msgdp_rc_`` prefix is registered with
  :func:`~msgraphdatapipelines_spark.sinks.vacuum_standing_artifacts`
  so the GC sweeps it.
- Publication is crash-safe in the house style: materialize under a
  private ``data.<uuid>`` stage, publish it as ``data`` with
  ``genstore.commit_dir`` (first writer wins), then commit the
  ``_rc_ready`` marker; a reader that sees no marker rebuilds.

Scale: a hit reads the (result-sized) artifact — zero corpus-sized
work; a miss costs the query plus one write of its result.  Result sets
cached here are aggregate/report-sized; this is NOT a CACHE TABLE
replacement for hot fact data.

The module also holds the two small pieces every other cache in the
package shares: :func:`file_identity` / :func:`standing_root` (the local
input identity that standing-artifact roots and scan memos key on) and
:class:`BoundedMemo` (the one in-process FIFO memo).
"""

from __future__ import annotations

import hashlib
import os
import re
import tempfile
import threading
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession


def file_identity(path: str) -> tuple:
    """``(name, size, mtime_ns, ino, ctime_ns)`` of every leaf file of the
    local input ``path`` (the file itself, or every file under the
    directory, by relative name), sorted.  Size and mtime alone miss a
    same-size replacement whose mtime was restored: ``os.replace`` of a
    new file changes the inode, and a rewrite in place changes the ctime
    (which no user call can set back).  Raises ``OSError`` when ``path``
    is not local."""

    def ident(full: str, name: str) -> tuple:
        st = os.stat(full)
        return (name, st.st_size, st.st_mtime_ns, st.st_ino, st.st_ctime_ns)

    if not os.path.isdir(path):
        return (ident(path, os.path.basename(path)),)
    return tuple(sorted(
        ident(os.path.join(d, f), os.path.relpath(os.path.join(d, f), path))
        for d, _, files in os.walk(path)
        for f in files
    ))


def standing_root(prefix: str, sf_dir: str, inputs: tuple[str, ...], *params) -> str:
    """Root of a standing artifact built from the ``inputs`` files of
    ``sf_dir``: ``msgdp_<prefix>_`` plus the md5 of the corpus path, the
    inputs' :func:`file_identity` and the caller's parameters, under the
    temp dir.  A regenerated input or a changed parameter gets a fresh
    root, so a stale artifact is never served."""
    ident = [file_identity(os.path.join(sf_dir, name)) for name in inputs]
    key = "|".join(str(x) for x in (os.path.abspath(sf_dir), *ident, *params))
    h = hashlib.md5(key.encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"msgdp_{prefix}_{h}")


class BoundedMemo(Mapping):
    """In-process memo bounded to ``capacity`` entries, evicting the
    oldest insert first.  ``get_or_build`` caches whatever ``build``
    returns except ``None`` (a missing artifact is re-probed next time);
    ``forget`` drops every key a predicate matches.  Read-only as a
    mapping, so the bound has one writer."""

    def __init__(self, capacity: int) -> None:
        self.capacity = capacity
        self._d: dict = {}
        self._lock = threading.Lock()

    def __getitem__(self, key):
        return self._d[key]

    def __iter__(self):
        return iter(list(self._d))

    def __len__(self) -> int:
        return len(self._d)

    def get_or_build(self, key, build):
        value = self._d.get(key)
        if value is None:
            value = build()
            if value is not None:
                with self._lock:
                    while len(self._d) >= self.capacity:
                        self._d.pop(next(iter(self._d)))
                    self._d[key] = value
        return value

    def forget(self, predicate) -> None:
        with self._lock:
            for k in [k for k in self._d if predicate(k)]:
                del self._d[k]


def _input_signature(spark: SparkSession, inputs: list[str]) -> str:
    """The identity of every LEAF file under every input.  An input on
    the local filesystem (``file:``, or no scheme with a local default
    FS) keys on :func:`file_identity`, whose inode and ctime make a
    same-size replacement with its mtime restored a new input.  Any
    other input keys on (path, size, mtime) through the recursive Hadoop
    FS listing — object-store-safe (directory entries on S3A/ABFS are
    synthetic with mtime 0, so only leaf-file identities carry
    information) and nesting-safe (a file rewritten two partition levels
    deep changes its own (len, mtime)); a Hadoop ``FileStatus`` carries
    no inode or ctime."""
    from .sinks import _fs_for

    parts = []
    for path in sorted(inputs):
        fs, hp = _fs_for(spark, path)
        p = hp(path)
        if fs.getUri().getScheme() == "file":
            parts.append(f"{path}::{file_identity(p.toUri().getPath())}")
            continue
        stats = []
        if fs.getFileStatus(p).isDirectory():
            it = fs.listFiles(p, True)  # recursive: every leaf file
            while it.hasNext():
                st = it.next()
                rel = st.getPath().toString()
                name = st.getPath().getName()
                if name.startswith(("_", ".")):
                    continue
                stats.append(f"{rel}|{st.getLen()}|{st.getModificationTime()}")
        else:
            st = fs.getFileStatus(p)
            stats.append(
                f"{st.getPath().toString()}|{st.getLen()}|{st.getModificationTime()}"
            )
        parts.append(f"{path}::" + ",".join(sorted(stats)))
    return ";".join(parts)


def plan_fingerprint(spark: SparkSession, df: DataFrame, inputs: list[str]) -> str:
    """Cache key: sha256 of the canonicalized optimized plan + the input
    signature.  Canonicalization strips per-session expression IDs
    (``col#123`` → ``col#``) — the only session-varying noise in the
    plan text."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    canon = re.sub(r"#\d+", "#", plan)
    sig = _input_signature(spark, inputs)
    return hashlib.sha256(f"{canon}\n--\n{sig}\n--v1".encode()).hexdigest()[:20]


def result_cache_root(fingerprint: str, base_dir: str | None = None) -> str:
    return os.path.join(base_dir or tempfile.gettempdir(), f"msgdp_rc_{fingerprint}")


def _canon_input(spark: SparkSession, p: str) -> str:
    """Canonical spelling of a provenance path (r16, ADVICE): qualify
    through ``fs.makeQualified(Path(p))`` so ``file:/t/x``, ``/t/x``,
    relative, and trailing-slash spellings all compare equal — an
    erasure match in a compliance path must not depend on how the
    builder happened to spell the input (``os.path.normpath`` alone
    mangles ``scheme://`` prefixes and misses scheme-vs-plain pairs).
    Falls back to ``os.path.abspath`` if the path can't be qualified
    (malformed URI in an old meta record — still better than keeping)."""
    from .sinks import _fs_for

    try:
        fs, hp = _fs_for(spark, p)
        return fs.makeQualified(hp(p)).toString()
    except Exception:  # noqa: BLE001 — unparseable recorded path
        return os.path.abspath(p)


def serve_cached(
    spark: SparkSession,
    df: DataFrame,
    inputs: list[str],
    base_dir: str | None = None,
) -> DataFrame:
    """Serve ``df``'s result from the cache, materializing it at most
    once per (plan, inputs) fingerprint.

    First call for a fingerprint runs the query and publishes its result
    as a parquet artifact; every later call — any session, any process —
    returns a DataFrame reading ONLY the artifact (the physical plan
    contains the ``msgdp_rc_`` path and none of the source tables).  The
    rename-committed marker makes a torn write invisible: no marker, no
    hit, rebuild."""
    import json
    import uuid

    from .genstore import commit_dir, commit_file
    from .sinks import _fs_for

    fp = plan_fingerprint(spark, df, inputs)
    root = result_cache_root(fp, base_dir)
    marker = os.path.join(root, "_rc_ready")
    data = os.path.join(root, "data")
    fs, hpath = _fs_for(spark, root)
    if not fs.exists(hpath(marker)):
        # never write into `data` itself: a reader that already saw the
        # marker must not observe a racer's half-overwritten artifact
        staging = f"{data}.{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(staging)
        commit_dir(fs, hpath, staging, data)
        # entry provenance: the fingerprint is a hash, so only this
        # record lets result_cache_forget find the entries an erased
        # input fed (a racer commits the same bytes)
        meta = {"inputs": sorted(_canon_input(spark, p) for p in inputs)}
        meta_p = os.path.join(root, "_rc_meta.json")
        commit_file(fs, hpath, meta_p, json.dumps(meta).encode())
        commit_file(fs, hpath, marker, fp.encode())
    return spark.read.parquet(data)


def result_cache_forget(
    spark: SparkSession,
    input_path: str,
    base_dir: str | None = None,
    delete_unknown: bool = True,
) -> dict:
    """GDPR reach into the RESULT-REUSE layer (r15): delete every cached
    entry derived from ``input_path`` — the immediate counterpart of the
    standing-store forgets (`prefix_index_forget` / `lexicon_forget` /
    `ann_index_forget`).  Without it, a result built from a table that
    later had documents erased keeps serving (and storing) the erased
    content until the entry's inputs change AND the TTL sweep collects
    the stranded root — neither bounded nor auditable.

    Matching is by recorded provenance (`_rc_meta.json`, written at
    publish): an entry is deleted when any recorded input equals
    ``input_path`` or nests under it (erasing a table forgets entries
    built from any of its partitions/files).  Entries with NO provenance
    record (pre-r15 builds, torn writes) are deleted too by default —
    for an erasure pass, "cannot prove clean" must mean "gone"
    (``delete_unknown=False`` restricts to proven matches, the
    non-compliance-critical mode).

    Returns ``{"removed": [...], "kept": [...]}`` (absolute paths).
    Safe against concurrent READERS of unrelated entries; a concurrent
    builder of a MATCHING fingerprint can republish after this sweep —
    run erasure passes from the maintenance scheduler and re-run the
    forget after upstream erasure republishes the source (the rebuilt
    entry then derives from the post-erasure inputs, which is the
    steady state this function exists to reach)."""
    import json

    from .genstore import read_file
    from .sinks import _fs_for

    base = base_dir or tempfile.gettempdir()
    # canonicalize BOTH sides through makeQualified (r16, ADVICE): an
    # entry recorded with an equivalent but differently-spelled input
    # (file:/… vs plain, relative vs absolute) must still match — a
    # missed erasure here is a compliance failure, not a cache miss
    target = _canon_input(spark, input_path)
    fs, hp = _fs_for(spark, base)
    bp = hp(base)
    removed, kept = [], []
    if not fs.exists(bp):
        return {"removed": removed, "kept": kept}
    for st in fs.listStatus(bp):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("msgdp_rc_")):
            continue
        root = os.path.join(base, name)
        raw = read_file(fs, hp, os.path.join(root, "_rc_meta.json"))
        matches = delete_unknown
        if raw is not None:
            meta = json.loads(raw)
            matches = any(
                q == target or q.startswith(target.rstrip("/") + "/")
                for q in (
                    _canon_input(spark, p) for p in meta.get("inputs", [])
                )
            )
        if matches:
            fs.delete(st.getPath(), True)
            removed.append(root)
        else:
            kept.append(root)
    return {"removed": removed, "kept": kept}
