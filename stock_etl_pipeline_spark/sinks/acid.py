"""Snapshot-committed ACID table (Iceberg-lite) — transactional MERGE
without a lakehouse jar.

The reference's loader MERGEs atomically because BigQuery is a
transactional warehouse (reference ``dags/utils/loaders.py:160-173``);
this engine's plain-parquet ``merge_write`` rewrites partitions in place,
which is idempotent but gives readers no isolation (VERDICT r10 "missing"
item 3 — delta-spark absent from the image). This module supplies the
missing property with nothing but parquet + one filesystem primitive:

Layout::

    <table>/_commits/00000000000000000001     # empty marker files
    <table>/snap-00000000000000000001/        # immutable parquet snapshots
    <table>/snap-00000000000000000001/_meta.json

- The CURRENT snapshot is the highest-numbered marker in ``_commits/``
  whose snapshot ``_meta.json`` exists — the per-snapshot VISIBILITY
  BIT (meta-existence, not directory-existence: on object stores a
  "directory" exists as soon as its first object lands, so only the
  meta — which a conforming committer makes appear atomically LAST —
  can gate).
- Every protocol filesystem operation goes through a pluggable
  ``CommitBackend`` (VERDICT r12 item 1): ``_HadoopBackend`` for real
  filesystems, ``_HadoopObjectStoreBackend`` + ``sinks/objectstore.py``
  for S3-class stores (conditional-PUT marker claim, claim-first
  publish — see below), ``SimulatedObjectStore`` as the test/
  measurement harness imposing object-store semantics locally.
- On a store WITH atomic rename (local POSIX, HDFS), a commit STAGES
  into a UNIQUELY-NAMED temp directory (never the shared final path —
  two racers staging into the same ``snap-N`` would overwrite each
  other's files and the loser's cleanup would delete the winner's
  data), then claims the next ordinal's marker with an ATOMIC
  create-if-absent (``atomic_create``: POSIX ``O_CREAT|O_EXCL`` when
  the RESOLVED filesystem scheme is ``file`` — Hadoop's
  RawLocalFileSystem createNewFile is a non-atomic
  exists-then-create — and ``FileSystem.createNewFile`` for HDFS,
  where it IS atomic), and only THEN renames its temp dir to
  ``snap-N`` (a rename to a path nothing else can claim — the marker
  serialized it), and verifies the published ``_meta.json`` is its own
  (Hadoop's local rename can fall back to copy-INTO an existing dir and
  still return true).
- On a store WITHOUT atomic rename (object stores — rename is
  per-object copy+delete), the sequence is CLAIM-FIRST: conditional-PUT
  the marker (``If-None-Match:*`` — the same primitive Iceberg/Delta
  commit services are built on; pluggable via
  ``objectstore.register_conditional_put``), write the snapshot's
  files directly at their final path (the marker made this committer
  the ordinal's only writer; each single PUT is atomic), and write
  ``_meta.json`` LAST. A crash mid-write leaves a dangling marker plus
  an invisible partial snapshot; vacuum sweeps both.
- Readers resolve the max marker WITH meta once and then scan immutable
  files: SNAPSHOT ISOLATION — a concurrent commit cannot disturb a
  running query. A crash before the marker leaves an invisible temp dir
  (vacuum sweeps it); a crash between marker and publish leaves a
  DANGLING marker readers skip (its ordinal is burned, never reused —
  ordinal allocation uses max marker, data resolution uses
  max marker-with-meta).
- Concurrency control is OPTIMISTIC: racers both stage, createNewFile
  admits exactly one per ordinal; the loser gets ``CommitConflict``,
  removes its own temp dir (never a shared path), and must re-read +
  recompute against the winner's table.
- A conditional commit (``expected_parent`` set) claims EXACTLY
  ``parent + 1`` — never a later ordinal. Allocating past an unresolved
  marker would let a committer slide in ABOVE an in-flight commit it
  never read (the winner claims N, hasn't renamed yet; the loser reads
  parent = N-1 via max-marker-with-meta, passes the expected_parent
  check, claims N+1, publishes — and the N commit is silently dropped
  even though both callers returned success; ADVICE r11). An unresolved
  marker above the parent is therefore a ``CommitConflict``: it is an
  in-flight commit about to resolve (retry observes it) or a crashed
  one (``acid_vacuum`` reclaims it), and the two are indistinguishable
  without a clock.

Metadata (row count, parent ordinal, operation) is complete in the
snapshot's ``_meta.json`` before that meta becomes visible (inside the
stage before the rename; the final if-absent PUT on claim-first stores),
so any visible snapshot's metadata is complete. Markers carry only the
claimant's commit uuid — the fencing token the claim-first publish
verifies before its visibility PUT, so a zombie whose presumed-crashed
claim was vacuum-reclaimed aborts instead of overwriting a successor's
snapshot; everything else derives from the ordinal, so the marker claim
is the one atomic bit and the meta the one visibility bit.

FILE-LEVEL COW (round 12, VERDICT r11 item 3 — the 100 TB isolation
path): a table-COW commit stages the WHOLE table, so a 1% daily merge
on a large table rewrites everything. ``acid_merge_upsert(...,
file_cow=True)`` instead publishes a MANIFEST snapshot::

    <table>/data/<commit-uuid>-part-*.parquet   # immutable, SHARED across snapshots
    <table>/snap-N/_manifest.json               # {file: {rows, bounds}} + schema
    <table>/snap-N/_meta.json

- The manifest lists the data files composing the snapshot with per-file
  row counts and per-key-column min/max bounds (integral, float, string
  and date keys — dates as ISO strings). They are read from the new
  files' parquet FOOTERS, with no Spark job and no read-back; untouched
  files carry their stats forward by reference.
- A merge commit evaluates its batch ONCE: it persists the batch for the
  duration of the call (unless the caller already did) and drops it
  before returning, conflict retries included. One collect of the
  batch's keys feeds both stages of finding the files that actually
  contain merged keys: driver-side BOUNDS pruning (files whose key
  ranges cannot intersect the batch's are untouched without any read),
  then a column-pruned key scan of only the candidate files semi-joined
  to a broadcast relation of those keys, collecting file names with no
  shuffle. The key relation is built from the collected rows through
  Arrow (``schemas.frame_from_rows``), so it is JVM-local: broadcasting
  it starts no Python worker. So is the empty pinned-schema relation a
  pure-insert merge reads in place of an empty file list. Untouched
  files move to the new manifest unchanged; only touched files are
  rewritten (their rows EXCEPT-merged-keys, union the source) — commit
  cost scales with TOUCHED files, not table size.
- Job budget of one merge commit whose batch lineage holds a dedup
  shuffle (the daily batch): 7 Spark jobs — key collect (2), probe
  broadcast and scan (2), rewrite (3); pinned in
  tests/test_sources_sinks.py. A compaction commit runs only its
  rewrite.
- The publish protocol is byte-identical to table COW: stage (tiny —
  two JSON files), marker, rename. Readers resolve a manifest snapshot
  to its data-file list once; the files are immutable, so snapshot
  isolation holds exactly as before. A crashed commit's just-written
  data files are unreferenced orphans; vacuum sweeps any ``data/`` file
  no kept manifest references.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..schemas import frame_from_rows


class CommitConflict(Exception):
    """Another committer published the ordinal this commit targeted.
    Re-read the table (acid_read) and recompute against the new current
    snapshot before retrying."""


class MaintenanceBusy(Exception):
    """Another maintainer holds the table's maintenance lease. Retry at
    the next cadence point (the in-stream maintenance does exactly that),
    or — for a lease orphaned by a crashed maintainer —
    ``acid_break_maintenance_lease(force=True)`` after confirming the
    holder is dead (the engine keeps no wall clock, so staleness is the
    operator's call, same as a lakehouse lock table)."""


_ORD_W = 20  # zero-padded ordinal width: lexicographic == numeric order


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _hpath(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


def _commits_dir(table: str) -> str:
    return table.rstrip("/") + "/_commits"


def _snap_dir(table: str, ordinal: int) -> str:
    return f"{table.rstrip('/')}/snap-{ordinal:0{_ORD_W}d}"


def _data_dir(table: str) -> str:
    return table.rstrip("/") + "/data"


def _read_json_file(fs, jvm, path: str) -> dict:
    stream = fs.open(_hpath(jvm, path))
    try:
        try:
            data = bytes(stream.readAllBytes())  # Hadoop 3 / Java 9+
        except Exception:
            out = bytearray()
            while True:
                b = stream.read()
                if b < 0:
                    break
                out.append(b)
            data = bytes(out)
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _write_json_file(fs, jvm, path: str, obj: dict) -> None:
    out = fs.create(_hpath(jvm, path), True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()


class _HadoopBackend:
    """Default CommitBackend: every PROTOCOL operation (markers, snapshot
    publish, JSON metadata, listings, deletes) through the table's
    RESOLVED Hadoop FileSystem. ``atomic_create`` is the one primitive
    the protocol rests on: Hadoop's RawLocalFileSystem implements
    createNewFile as a non-atomic exists()-then-create (two racers can
    BOTH get true — observed in the OS-process race tests), so the
    file scheme takes POSIX ``O_CREAT|O_EXCL`` directly; HDFS-class
    filesystems use ``FileSystem.createNewFile`` (atomic there). The
    local-vs-remote decision comes from the RESOLVED filesystem's
    scheme, never from the path string: a scheme-less path resolves
    against ``fs.defaultFS``, which on a cluster is typically HDFS —
    path-string sniffing would create the marker on the driver's LOCAL
    disk while every other operation goes to HDFS, silently breaking
    the protocol (ADVICE r12)."""

    name = "hadoop"
    atomic_rename = True  # FileSystem.rename is an atomic metadata move

    def __init__(self, spark: SparkSession, table: str) -> None:
        self.fs, self.jvm = _fs(spark, table)
        self.scheme = self.fs.getScheme()

    def exists(self, path: str) -> bool:
        return self.fs.exists(_hpath(self.jvm, path))

    def mkdirs(self, path: str) -> None:
        self.fs.mkdirs(_hpath(self.jvm, path))

    def delete(self, path: str, recursive: bool = False) -> bool:
        return self.fs.delete(_hpath(self.jvm, path), recursive)

    def rename(self, src: str, dst: str) -> bool:
        return self.fs.rename(_hpath(self.jvm, src), _hpath(self.jvm, dst))

    def list_names(self, path: str) -> list[str]:
        p = _hpath(self.jvm, path)
        if not self.fs.exists(p):
            return []
        return [st.getPath().getName() for st in self.fs.listStatus(p)]

    def read_json(self, path: str) -> dict:
        return _read_json_file(self.fs, self.jvm, path)

    def write_json(self, path: str, obj: dict) -> None:
        _write_json_file(self.fs, self.jvm, path, obj)

    def _local_path(self, path: str) -> str:
        """POSIX path for a file-scheme path, via the filesystem's own
        qualification (handles bare, relative and file:/ spellings)."""
        return self.fs.makeQualified(_hpath(self.jvm, path)).toUri().getPath()

    def atomic_create(self, path: str, data: bytes = b"") -> bool:
        """Atomic create-if-absent, optionally WITH content — the content
        (e.g. the claimant's commit uuid) is the zombie-fencing token the
        claim-first publish verifies before its final visibility PUT. On
        POSIX, O_EXCL + write; on HDFS, create(overwrite=False) is the
        atomic claim and content lands at close — a reader inside that
        window sees an empty claim, which ownership checks treat as
        not-ours (the safe direction)."""
        if self.scheme == "file":
            import os

            try:
                fd = os.open(
                    self._local_path(path),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
            except FileExistsError:
                return False
            try:
                if data:
                    os.write(fd, data)
            finally:
                os.close(fd)
            return True
        try:
            out = self.fs.create(_hpath(self.jvm, path), False)
        except Exception as e:
            # lost-race detection by exception CLASS, not message sniffing:
            # HDFS can also surface a concurrent (or dead-client) create
            # as AlreadyBeingCreatedException, whose lease message does
            # not contain 'exists' — the loser must get CommitConflict
            # via False, never a raw Py4J error (code-review r13)
            msg = str(e)
            if (
                "FileAlreadyExistsException" in msg
                or "AlreadyBeingCreatedException" in msg
                or "exists" in msg.lower()
            ):
                return False
            raise
        try:
            if data:
                out.write(bytearray(data))
        finally:
            out.close()
        return True


#: schemes whose Hadoop connectors are object stores: rename is per-object
#: copy+delete (non-atomic) and createNewFile is HEAD-then-PUT (not atomic)
_OBJECT_STORE_SCHEMES = {
    "s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs",
    "oss", "cos", "cosn", "swift",
}


class _HadoopObjectStoreBackend(_HadoopBackend):
    """Object-store arm over the Hadoop connectors (s3a/gs/abfs...):
    reads, writes, listings and per-OBJECT renames still go through the
    connector (whose ``create()`` uploads on close — single-PUT
    visibility), but ``atomic_rename=False`` switches the publish
    sequence to claim-first (see ``_publish_direct``), and the marker
    claim requires the store's CONDITIONAL PUT, plugged in via
    ``sinks.objectstore.register_conditional_put`` — Hadoop's API does
    not expose it, and a HEAD-then-PUT stand-in would reintroduce the
    double-claim race."""

    name = "hadoop-objectstore"
    atomic_rename = False

    def atomic_create(self, path: str, data: bytes = b"") -> bool:
        from .objectstore import conditional_put_for

        fn = conditional_put_for(self.scheme)
        if fn is None:
            raise RuntimeError(
                f"no conditional-PUT primitive registered for scheme "
                f"{self.scheme!r}: object-store commits need the store's "
                f"atomic create-if-absent (S3 'If-None-Match: *', GCS "
                f"'x-goog-if-generation-match: 0', Azure "
                f"'If-None-Match: *') — register the SDK call via "
                f"sinks.objectstore.register_conditional_put"
            )
        return fn(path, data)


def _backend(spark: SparkSession, table: str, backend=None):
    """Resolve the table's CommitBackend: an explicit instance wins, a
    string names one ('hadoop', 'hadoop-objectstore', 'sim-objectstore'),
    None auto-detects from the RESOLVED filesystem scheme."""
    if backend is None:
        be = _HadoopBackend(spark, table)
        if be.scheme in _OBJECT_STORE_SCHEMES:
            # same resolved fs/jvm state, object-store protocol arm — a
            # second construction would repeat the Py4J filesystem
            # resolution just performed (code-review r13)
            be.__class__ = _HadoopObjectStoreBackend
        return be
    if isinstance(backend, str):
        if backend == "hadoop":
            return _HadoopBackend(spark, table)
        if backend == "hadoop-objectstore":
            return _HadoopObjectStoreBackend(spark, table)
        if backend == "sim-objectstore":
            from .objectstore import SimulatedObjectStore

            return SimulatedObjectStore()
        raise ValueError(f"unknown commit backend {backend!r}")
    return backend


def _marker_ordinals(spark: SparkSession, table: str, be=None) -> list[int]:
    be = be or _backend(spark, table)
    return sorted(
        int(n) for n in be.list_names(_commits_dir(table)) if n.isdigit()
    )


def _current_ordinal(spark: SparkSession, table: str, be=None) -> int:
    """Highest published ordinal whose snapshot ``_meta.json`` EXISTS —
    the per-snapshot visibility bit. A marker without it is a commit
    that crashed between claiming its ordinal and publishing (skipped,
    never resolved); 0 when the table has no commits yet. The gate is
    meta-existence, not directory-existence: a conforming committer
    makes _meta.json land atomically LAST (inside the renamed stage on
    atomic-rename stores; as the final single PUT on object stores,
    where a 'directory' exists as soon as its first object lands)."""
    be = be or _backend(spark, table)
    for o in reversed(_marker_ordinals(spark, table, be)):
        if be.exists(_snap_dir(table, o) + "/_meta.json"):
            return o
    return 0


def _next_ordinal(spark: SparkSession, table: str, be=None) -> int:
    """Ordinal a new commit should claim: one past the highest MARKER
    (dangling markers burn their ordinal — reusing it would let a commit
    resurrect a crashed commit's claim)."""
    ords = _marker_ordinals(spark, table, be)
    return (ords[-1] if ords else 0) + 1


def acid_read(
    spark: SparkSession,
    table: str,
    *,
    ordinal: int | None = None,
    backend=None,
) -> DataFrame:
    """The current snapshot as a DataFrame — or TIME TRAVEL to a specific
    published ``ordinal`` (any snapshot vacuum has not swept; the commit
    log in acid_history names them). The snapshot is resolved ONCE, here;
    the returned frame scans immutable files, so commits that land while a
    query runs do not change (or corrupt) its result — re-call acid_read
    to observe them. Raises on a table with no commits or an unpublished
    ordinal."""
    be = _backend(spark, table, backend)
    if ordinal is None:
        ordinal = _current_ordinal(spark, table, be)
        if ordinal == 0:
            raise FileNotFoundError(f"acid table {table!r} has no commits")
    else:
        marker = f"{_commits_dir(table)}/{ordinal:0{_ORD_W}d}"
        if not be.exists(marker) or not be.exists(
            _snap_dir(table, ordinal) + "/_meta.json"
        ):
            raise FileNotFoundError(
                f"acid table {table!r}: ordinal {ordinal} was never "
                f"published (crashed commit or vacuumed)"
            )
    man = _manifest(spark, table, ordinal, be)
    if man is not None:  # file-COW snapshot: resolve the data-file list once
        return _read_manifest_files(spark, table, man)
    return spark.read.parquet(_snap_dir(table, ordinal))


def acid_snapshot_meta(
    spark: SparkSession, table: str, ordinal: int, be=None
) -> dict:
    be = be or _backend(spark, table)
    return be.read_json(_snap_dir(table, ordinal) + "/_meta.json")


def _manifest(
    spark: SparkSession, table: str, ordinal: int, be=None
) -> dict | None:
    """The snapshot's file manifest — None for a table-COW snapshot (whose
    data IS the snap dir's parquet). Shape: {"files": {name: {"rows": n,
    "bounds": {key: [lo, hi]}}}, "schema": <StructType json>,
    "keys": [...]}."""
    be = be or _backend(spark, table)
    p = _snap_dir(table, ordinal) + "/_manifest.json"
    if not be.exists(p):
        return None
    return be.read_json(p)


def _read_manifest_files(
    spark: SparkSession, table: str, manifest: dict, names=None
) -> DataFrame:
    """DataFrame over (a subset of) a manifest's shared data files, with
    the manifest's pinned schema (no footer merging; empty file lists read
    as an empty frame of the right schema)."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    use = sorted(manifest["files"]) if names is None else sorted(names)
    if not use:
        return frame_from_rows(spark, [], schema)
    ddir = _data_dir(table)
    return spark.read.schema(schema).parquet(*[f"{ddir}/{n}" for n in use])


def acid_commit(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    *,
    operation: str = "overwrite",
    expected_parent: int | None = None,
    extra: dict | None = None,
    backend=None,
) -> dict:
    """Publish ``df`` as the table's next snapshot. ``expected_parent``
    pins the optimistic check: if another commit published after the
    caller read that ordinal, raise CommitConflict WITHOUT publishing
    (the staged snapshot is removed best-effort). None = don't care
    (blind overwrite semantics — still atomic, last writer wins).

    A conditional commit targets EXACTLY ``expected_parent + 1``. Any
    marker above the parent — even one whose snapshot dir has not been
    renamed into place yet — is a conflict: building on ``parent`` while
    ordinal ``parent+1`` is in flight would publish a snapshot that
    silently drops the in-flight commit's rows (the lost-update window
    is small on posix rename but large on copy-based object-store
    renames; ADVICE r11). The in-flight/crashed ambiguity resolves
    itself: retries succeed once the winner renames (parent advances),
    and a crashed claimant's dangling marker is reclaimed by
    ``acid_vacuum``.

    On a store WITHOUT atomic rename (``backend.atomic_rename`` False —
    object stores), the publish sequence is CLAIM-FIRST instead:
    conditional-PUT the marker, write the snapshot's files directly at
    their final path (the marker made this committer the ordinal's only
    writer; each single PUT is atomic), then write ``_meta.json`` LAST —
    the visibility bit readers gate on. Conflicts surface BEFORE any
    data is written, at the price of the marker staying unresolved for
    the duration of the write — concurrent conditional commits retry
    until the meta lands, exactly the in-flight rule above. A crash
    mid-write leaves a dangling marker plus an invisible partial
    snapshot; vacuum sweeps both."""
    import uuid

    be = _backend(spark, table, backend)
    parent, ordinal = _resolve_commit_ordinal(spark, table, expected_parent, be)
    tag = uuid.uuid4().hex
    meta = {
        "ordinal": ordinal,
        "parent": parent,
        "operation": operation,
        "commit_uuid": tag,
        **(extra or {}),
    }
    if be.atomic_rename:
        # stage into a path ONLY this committer knows — racers must never
        # share a staging dir (overwrite/cleanup would destroy the winner's
        # files); the final snap-<ordinal> path is claimed via the marker
        stage = f"{table.rstrip('/')}/__stage-{tag}"
        df.write.mode("overwrite").parquet(stage)
        n = sum(f["rows"] for f in _footer_stats(spark, stage).values())
        # metadata lands INSIDE the snapshot before the marker publishes it
        be.write_json(stage + "/_meta.json", {**meta, "rows": n})
        _claim_and_publish(spark, table, stage, ordinal, commit_uuid=tag, be=be)
    else:
        def _content(snap: str) -> dict:
            df.write.mode("overwrite").parquet(snap)
            meta["rows"] = sum(
                f["rows"] for f in _footer_stats(spark, snap).values()
            )
            return meta

        _claim_marker(table, ordinal, be, tag)
        _publish_claim_first(table, ordinal, be, tag, _content)
        n = meta["rows"]
    return {"destination": table, "mode": operation, "rows_loaded": n,
            "ordinal": ordinal, "parent": parent, **(extra or {})}


def _resolve_commit_ordinal(
    spark: SparkSession, table: str, expected_parent: int | None, be=None
) -> tuple[int, int]:
    """(parent, ordinal to claim) under the optimistic rules: a conditional
    commit targets EXACTLY expected_parent + 1 and conflicts on a stale
    parent OR any unresolved marker above it (in-flight or crashed commit
    — see module docstring); an unconditional commit claims one past the
    max marker (burned ordinals are never reused)."""
    be = be or _backend(spark, table)
    parent = _current_ordinal(spark, table, be)
    if expected_parent is not None:
        if parent != expected_parent:
            raise CommitConflict(
                f"table {table!r}: expected parent {expected_parent}, "
                f"current is {parent}"
            )
        ordinal = parent + 1
        if _next_ordinal(spark, table, be) != ordinal:
            raise CommitConflict(
                f"table {table!r}: unresolved marker(s) above parent "
                f"{parent} — a commit is in flight (retry) or crashed "
                f"(acid_vacuum reclaims its marker)"
            )
        return parent, ordinal
    return parent, _next_ordinal(spark, table, be)


def _claim_marker(table: str, ordinal: int, be, tag: str | None = None) -> None:
    """Claim the ordinal's marker — create-if-absent, THE atomic bit the
    whole protocol rests on (POSIX O_EXCL / HDFS create(overwrite=False) /
    object-store conditional PUT, per the backend). Raises CommitConflict
    when another committer claimed it first. ``tag`` (the commit uuid) is
    written INTO the marker as the fencing token: the claim-first publish
    re-verifies it before its final visibility PUT, so a zombie claimant
    whose marker was vacuum-reclaimed (and possibly re-claimed by a
    successor) aborts instead of overwriting the successor's snapshot."""
    be.mkdirs(_commits_dir(table))
    marker = f"{_commits_dir(table)}/{ordinal:0{_ORD_W}d}"
    data = json.dumps({"commit_uuid": tag}).encode() if tag else b""
    if not be.atomic_create(marker, data):
        raise CommitConflict(
            f"table {table!r}: ordinal {ordinal} was published concurrently"
        )


def _owns_marker(table: str, ordinal: int, be, tag: str) -> bool:
    """Whether the ordinal's marker still exists AND carries OUR fencing
    uuid. False on a missing marker (vacuum reclaimed it), a successor's
    marker, or unreadable/empty content (the HDFS pre-close window — the
    safe direction is not-ours)."""
    marker = f"{_commits_dir(table)}/{ordinal:0{_ORD_W}d}"
    try:
        return be.read_json(marker).get("commit_uuid") == tag
    except Exception:
        return False


def _publish_claim_first(
    table: str, ordinal: int, be, tag: str, write_content,
) -> dict:
    """The full claim-first publish body, shared by acid_commit and
    _commit_manifest (code-review r13 — the fence sequence must not
    drift between the two arms). ``write_content(snap_dir)`` performs
    the snapshot's content writes and returns the meta to publish.

    Zombie fence, PRE-write: this committer's claim may have been
    vacuum-reclaimed (presumed crashed) and the ordinal re-claimed by a
    successor while it stalled — the content writes below are
    DESTRUCTIVE (parquet overwrite / manifest PUT over the shared
    snap-<ordinal> path), so ownership is re-verified before the first
    byte lands, not only at the final meta PUT (code-review r13: the
    meta-only fence let a resumed zombie clobber a successor's published
    manifest or snapshot while the successor's _meta.json stayed
    visible). The check-to-write window is closed by acid_vacuum's
    no-commit-in-flight contract, same as the meta fence's."""
    snap = _snap_dir(table, ordinal)
    try:
        if not _owns_marker(table, ordinal, be, tag):
            raise CommitConflict(
                f"table {table!r}: ordinal {ordinal}'s marker is no "
                f"longer ours (vacuum reclaimed a claim presumed "
                f"crashed) — this committer must not write"
            )
        meta = write_content(snap)
        _publish_meta_fenced(table, ordinal, be, meta)
        return meta
    except BaseException as e:
        # clean own residue ONLY while the marker is still ours — after
        # a reclaim a successor may own snap-<ordinal> (code-review r13)
        if not isinstance(e, CommitConflict) and _owns_marker(
            table, ordinal, be, tag
        ):
            be.delete(snap, recursive=True)  # best-effort; burned
        raise


def _publish_meta_fenced(table: str, ordinal: int, be, meta: dict) -> None:
    """Final visibility PUT for the CLAIM-FIRST arm, zombie-fenced
    (code-review r13): (1) the marker must still exist and carry OUR
    commit uuid — a vacuum reclaim followed by a successor's re-claim
    changes it, and the zombie must abort rather than overwrite the
    successor's published snapshot; (2) the meta itself is PUT if-absent,
    never overwrite. The interleaving between (1) and (2) is closed by
    acid_vacuum's no-commit-in-flight contract, not by code — the same
    assumption lakehouse commit services place on their retention jobs
    (the rename arm's equivalent backstop is the post-rename ownership
    readback in _claim_and_publish)."""
    if not _owns_marker(table, ordinal, be, meta["commit_uuid"]):
        raise CommitConflict(
            f"table {table!r}: ordinal {ordinal}'s marker is no longer "
            f"ours (vacuum reclaimed a claim presumed crashed) — this "
            f"committer's snapshot must not publish"
        )
    if not be.atomic_create(
        _snap_dir(table, ordinal) + "/_meta.json",
        json.dumps(meta).encode(),
    ):
        raise CommitConflict(
            f"table {table!r}: ordinal {ordinal}'s _meta.json already "
            f"exists — published by a successor after a marker reclaim"
        )


def _claim_and_publish(
    spark: SparkSession, table: str, stage: str, ordinal: int,
    commit_uuid: str | None = None, be=None,
) -> None:
    """The atomic publish for stores WITH atomic rename: claim the
    ordinal's marker, then rename the staged snapshot dir into place.
    Raises CommitConflict (own stage removed) when the marker was claimed
    concurrently. When ``commit_uuid`` is given, the published _meta.json
    is read back and must be OURS: Hadoop's local rename can fall back to
    a copy INTO an existing destination dir and still return true
    (FileUtil.copy resolves a dir target to dest/<src-name>), which would
    otherwise let a racer report success while its rows sit in an ignored
    subdir."""
    be = be or _backend(spark, table)
    try:
        _claim_marker(table, ordinal, be, commit_uuid)
    except CommitConflict:
        be.delete(stage, recursive=True)  # lost: unstage OWN dir only
        raise
    # the marker serialized ownership of snap-<ordinal>: nothing else can
    # rename onto it now. A crash before this rename leaves a dangling
    # marker readers skip (the ordinal is burned, not reused).
    snap = _snap_dir(table, ordinal)
    if not be.rename(stage, snap):
        raise RuntimeError(
            f"table {table!r}: rename {stage} -> {snap} failed after the "
            f"marker was claimed; ordinal {ordinal} is burned (readers "
            f"skip it), staged data remains at {stage}"
        )
    if commit_uuid is not None:
        got = be.read_json(f"{snap}/_meta.json")
        if got.get("commit_uuid") != commit_uuid:
            # our stage was copy-fallbacked INTO an existing snap dir:
            # remove the residue subdir and surface the loss
            residue = f"{snap}/{stage.rstrip('/').rsplit('/', 1)[-1]}"
            if be.exists(residue):
                be.delete(residue, recursive=True)
            raise CommitConflict(
                f"table {table!r}: ordinal {ordinal} was published by "
                f"another committer (post-rename ownership check)"
            )


def _bound_value(v):
    """A key value in the manifest's bounds encoding: ints, floats and
    strings as themselves, dates as ISO ``YYYY-MM-DD`` strings (which
    order like the dates); None for anything else — NULL, NaN, bool,
    timestamp, decimal — which then gets no bound (never a wrong one)."""
    import datetime
    import math

    if isinstance(v, bool):
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, (int, str)):
        return v
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return v.isoformat()
    return None


def _footer_decoder(dt):
    """Decoder from a parquet statistic's min/max bytes (parquet-mr's
    little-endian plain encoding) to the bounds encoding, for key type
    ``dt``; None for types that carry no bounds."""
    import datetime
    import struct

    from pyspark.sql.types import (
        DateType,
        DoubleType,
        FloatType,
        IntegralType,
        StringType,
    )

    if isinstance(dt, IntegralType):
        return lambda b: int.from_bytes(b, "little", signed=True)
    if isinstance(dt, DoubleType):
        return lambda b: _bound_value(struct.unpack("<d", b)[0])
    if isinstance(dt, FloatType):
        return lambda b: _bound_value(struct.unpack("<f", b)[0])
    if isinstance(dt, DateType):
        epoch = datetime.date(1970, 1, 1)

        def date_iso(b):
            days = int.from_bytes(b, "little", signed=True)
            try:
                return (epoch + datetime.timedelta(days=days)).isoformat()
            except OverflowError:  # outside Python's year range
                return None

        return date_iso
    # byte order is the bounds' order only under the binary collation
    if isinstance(dt, StringType) and dt.collation == "UTF8_BINARY":
        return lambda b: b.decode("utf-8")
    return None


def _footer_stats(
    spark: SparkSession, directory: str, keys: Sequence[str] = (),
    schema=None,
) -> dict:
    """{file name: {"rows", "bounds"}} for every parquet data file directly
    in ``directory``, from the files' parquet FOOTERS — no Spark job, no
    data read. The footers are read through the directory's Hadoop
    FileSystem (parquet-mr ``ParquetFileReader.open`` over a
    ``HadoopInputFile``), so one code path serves every scheme at
    O(files) cost.

    Rows are the sum of the row groups' row counts. Bounds ({key: [lo,
    hi]}) are typed by ``schema`` (the table's pinned schema): integral →
    int, float/double → float, string → str, date → ISO string; other
    types get none. A file gets no bound for a key when any of its
    non-NULL chunks of that column lacks min/max statistics (parquet-mr
    writes none for a chunk holding NaN, or for oversized values); an
    all-NULL chunk contributes nothing. A missing bound only costs
    pruning — the exact key scan still runs on every candidate file."""
    fs, jvm = _fs(spark, directory)
    conf = spark._jsc.hadoopConfiguration()
    parquet = jvm.org.apache.parquet.hadoop
    fields = schema.fields if schema else []
    types = {f.name.lower(): f.dataType for f in fields}
    decoders = {}
    for k in keys:
        dt = types.get(k.lower())
        dec = _footer_decoder(dt) if dt is not None else None
        if dec is not None:
            decoders[k.lower()] = (k, dec)
    out: dict = {}
    for st in fs.listStatus(_hpath(jvm, directory)):
        name = st.getPath().getName()
        if not st.isFile() or name.startswith(("_", ".")):
            continue  # _SUCCESS, _meta.json, .crc sidecars
        reader = parquet.ParquetFileReader.open(
            parquet.util.HadoopInputFile.fromStatus(st, conf)
        )
        try:
            blocks = list(reader.getFooter().getBlocks())
        finally:
            reader.close()
        rows = 0
        lo: dict = {}
        hi: dict = {}
        unknown: set = set()
        for b in blocks:
            n = b.getRowCount()
            rows += n
            if not decoders:
                continue
            for c in b.getColumns():
                key = c.getPath().toDotString().lower()
                if key not in decoders or key in unknown:
                    continue
                s = c.getStatistics()
                if not s.hasNonNullValue():
                    if not (s.isNumNullsSet() and s.getNumNulls() == n):
                        unknown.add(key)  # values present, no min/max
                    continue
                dec = decoders[key][1]
                a, z = dec(bytes(s.getMinBytes())), dec(bytes(s.getMaxBytes()))
                if a is None or z is None:
                    unknown.add(key)
                    continue
                lo[key] = a if key not in lo else min(lo[key], a)
                hi[key] = z if key not in hi else max(hi[key], z)
        bounds = {
            decoders[key][0]: [lo[key], hi[key]]
            for key in lo
            if key not in unknown
        }
        out[name] = {"rows": rows, "bounds": bounds}
    return out


def _write_data_files(
    spark: SparkSession, table: str, df: DataFrame, keys: Sequence[str],
    schema_json: str, be=None,
) -> dict:
    """Write ``df`` as new immutable files in the table's shared ``data/``
    dir and return their manifest entries {name: {"rows", "bounds"}},
    taken from the new files' parquet footers (_footer_stats, bounds typed
    by the pinned schema) — the write is the only Spark work. Files
    land in data/ BEFORE any marker: a crashed/conflicted commit leaves
    them as unreferenced orphans that acid_vacuum sweeps. The stage→data
    move is one rename per FILE — on an object-store backend that is a
    single server-side COPY each (atomic per object), never a directory
    rename. Zero-row files are left in the stage and deleted with it."""
    import uuid

    from pyspark.sql.types import StructType

    be = be or _backend(spark, table)
    tag = uuid.uuid4().hex
    stage = f"{table.rstrip('/')}/__stage-{tag}"
    df.write.mode("overwrite").parquet(stage)
    schema = StructType.fromJson(json.loads(schema_json))
    stats = _footer_stats(spark, stage, keys, schema)
    ddir = _data_dir(table)
    be.mkdirs(ddir)
    files: dict = {}
    for base, st in sorted(stats.items()):
        if not st["rows"]:
            continue
        name = f"{tag}-{base}"  # commit-unique: no collision in data/
        if not be.rename(f"{stage}/{base}", f"{ddir}/{name}"):
            raise RuntimeError(
                f"table {table!r}: staging {stage}/{base} -> data/{name} "
                f"rename failed"
            )
        files[name] = st
    be.delete(stage, recursive=True)  # empty shell (+ zero-row parts)
    return files


def _touched_file_names(
    spark: SparkSession,
    table: str,
    manifest: dict,
    source: DataFrame,
    keys: Sequence[str],
) -> tuple[set[str], int]:
    """(manifest files that actually contain one of the source's merge
    keys — the ONLY files a file-COW merge rewrites —, number of files
    probed). The batch's keys are collected ONCE (bounded by
    construction: daily upsert keys are the same bound the broadcast
    below assumes, the contract of operators/upsert.py; duplicates are
    harmless to a semi-join and left in) and feed both
    stages: driver-side bounds pruning (a file whose per-key min/max
    cannot intersect the batch's key range is untouched with zero reads),
    then a column-pruned key scan of the candidate files semi-joined to a
    broadcast relation of those keys. The scan collects each matched
    row's file name with no shuffle: a table MERGE maintains holds each
    key once, so that is at most one row per batch key."""
    from pyspark.sql import functions as F

    files = manifest["files"]
    key_df = source.select(*keys)
    batch = key_df.collect()
    if not batch:
        return set(), 0
    sb = {}
    for i, k in enumerate(keys):
        vals = [_bound_value(r[i]) for r in batch]
        vals = [v for v in vals if v is not None]
        if vals:
            sb[k] = (min(vals), max(vals))

    def may_contain(name: str) -> bool:
        b = files[name].get("bounds") or {}
        for k in keys:
            if k not in b or k not in sb:
                continue  # no stats for this column: cannot prune on it
            (lo, hi), (slo, shi) = b[k], sb[k]
            try:
                if hi < slo or lo > shi:
                    return False
            except TypeError:  # JSON type vs live type mismatch: no prune
                continue
        return True

    candidates = [n for n in files if may_contain(n)]
    if not candidates:
        return set(), 0
    scan = _read_manifest_files(spark, table, manifest, candidates)
    src_keys = frame_from_rows(spark, batch, key_df.schema)
    hit = (
        scan.select(*keys, F.input_file_name().alias("_file"))
        .join(F.broadcast(src_keys), list(keys), "left_semi")
        .select("_file")
        .collect()  # bounded: at most one row per batch key
    )
    return {r["_file"].split("/")[-1] for r in hit}, len(candidates)


def _commit_manifest(
    spark: SparkSession,
    table: str,
    manifest: dict,
    *,
    parent: int,
    operation: str,
    rows: int,
    extra: dict | None = None,
    be=None,
) -> dict:
    """Publish a MANIFEST snapshot (file-COW): the snapshot is only two
    JSON files; the publish protocol — including the conditional parent+1
    rule — is byte-identical to acid_commit (stage/marker/rename on
    atomic-rename stores; claim-first with _meta.json as the final
    visibility PUT on object stores)."""
    import uuid

    be = be or _backend(spark, table)
    _, ordinal = _resolve_commit_ordinal(spark, table, parent, be)
    tag = uuid.uuid4().hex
    meta = {
        "ordinal": ordinal,
        "parent": parent,
        "operation": operation,
        "rows": rows,
        "commit_uuid": tag,
        **(extra or {}),
    }
    if be.atomic_rename:
        stage = f"{table.rstrip('/')}/__stage-{tag}"
        be.mkdirs(stage)
        be.write_json(stage + "/_manifest.json", manifest)
        be.write_json(stage + "/_meta.json", meta)
        _claim_and_publish(spark, table, stage, ordinal, commit_uuid=tag, be=be)
    else:
        def _content(snap: str) -> dict:
            be.write_json(snap + "/_manifest.json", manifest)
            return meta

        _claim_marker(table, ordinal, be, tag)
        _publish_claim_first(table, ordinal, be, tag, _content)
    return {
        "destination": table,
        "mode": operation,
        "rows_loaded": rows,
        "ordinal": ordinal,
        "parent": parent,
        **(extra or {}),
    }


def _widen_for_new_columns(target: DataFrame, source: DataFrame) -> DataFrame:
    """Schema evolution, relation form: ``target`` widened with the
    source's NEW columns as typed NULLs (existing rows read NULL in an
    added column — the Delta/Iceberg mergeSchema contract).

    "New" is decided CASE-INSENSITIVELY, matching Spark's default
    analyzer resolution: a Python case-sensitive check would classify a
    differently-cased spelling of an existing column ('V' vs 'v') as
    new, and withColumn — which resolves case-insensitively — would then
    REPLACE the existing column with all-NULL table-wide (silent data
    loss; code-review r12). A case-only respelling is therefore NOT
    evolution: it resolves to the existing column."""
    from pyspark.sql import functions as F

    existing = {c.lower() for c in target.columns}
    for f in source.schema.fields:
        if f.name.lower() not in existing:
            target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
    return target


def _widened_schema_json(schema_json: str, src_schema) -> str:
    """Schema evolution, manifest form: the pinned schema JSON widened
    with the source's new fields (forced nullable — pre-evolution files
    lack the column and must read as NULL). Same case-insensitive
    newness rule as _widen_for_new_columns: a case-only respelling must
    not fork a duplicate-modulo-case field into the pinned schema."""
    from pyspark.sql.types import StructField, StructType

    cur = StructType.fromJson(json.loads(schema_json))
    names = {f.name.lower() for f in cur.fields}
    new = [
        StructField(f.name, f.dataType, True)
        for f in src_schema.fields
        if f.name.lower() not in names
    ]
    if not new:
        return schema_json
    return StructType(list(cur.fields) + new).json()


def _nullable_normalized(dt):
    """``dt`` with every nested nullability flag forced True — type
    comparison for the pinned-schema conformance check must not treat a
    nullability-only difference as a type change (parquet data written
    from a non-null frame reads fine through a nullable pin)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable_normalized(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable_normalized(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _nullable_normalized(dt.keyType),
            _nullable_normalized(dt.valueType),
            True,
        )
    return dt


def _is_safe_widening(src, dst) -> bool:
    """True when every ``src`` value is exactly representable as ``dst``
    (the Iceberg/parquet type-promotion set, conservatively): integral
    chain byte→short→int→long, float→double, ≤32-bit integrals→double
    (all exact in an IEEE double; long→double is NOT — it silently loses
    precision past 2^53), byte/short→float, decimal precision/scale
    widening. Anything else must be cast explicitly by the caller."""
    from pyspark.sql.types import (
        ByteType,
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        TimestampNTZType,
        TimestampType,
    )

    if src == dst:
        return True
    chain = (ByteType, ShortType, IntegerType, LongType)
    if isinstance(src, chain) and isinstance(dst, chain):
        return chain.index(type(src)) <= chain.index(type(dst))
    if isinstance(src, (ByteType, ShortType, IntegerType, FloatType)) and isinstance(
        dst, DoubleType
    ):
        return True
    if isinstance(src, (ByteType, ShortType)) and isinstance(dst, FloatType):
        return True
    if isinstance(src, DateType) and isinstance(
        dst, (TimestampType, TimestampNTZType)
    ):
        return True  # midnight-of-day: lossless (Spark's own upcast set)
    if isinstance(src, DecimalType) and isinstance(dst, DecimalType):
        return (
            dst.scale >= src.scale
            and (dst.precision - dst.scale) >= (src.precision - src.scale)
        )
    return False


def _conform_source_to_pinned(source: DataFrame, schema_json: str) -> DataFrame:
    """Cast the source's columns to the manifest's PINNED types before a
    file-COW merge writes anything. merge_upsert's unionByName coerces
    mismatched types to a common one (a double batch column against a
    long table column yields double output), so without this the commit
    could publish data files whose physical parquet type disagrees with
    the pinned read schema — and the failure would surface at acid_read
    time, AFTER the commit, breaking the fail-before-commit contract the
    pure-insert branch advertises (ADVICE r12). Safe widenings cast
    silently; anything lossy raises BEFORE any file is written. Columns
    the pin lacks pass through untouched (the strict MERGE projection
    drops them; evolution already widened the pin with them)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    pinned = {
        f.name.lower(): f
        for f in StructType.fromJson(json.loads(schema_json)).fields
    }
    cols, changed = [], False
    for f in source.schema.fields:
        p = pinned.get(f.name.lower())
        if p is None or _nullable_normalized(f.dataType) == _nullable_normalized(
            p.dataType
        ):
            cols.append(F.col(f.name))
            continue
        if not _is_safe_widening(f.dataType, p.dataType):
            raise ValueError(
                f"merge source column {f.name!r} has type "
                f"{f.dataType.simpleString()} but the table's pinned schema "
                f"requires {p.dataType.simpleString()} — not a safe widening; "
                f"cast the source explicitly (pinned-schema conformance is "
                f"checked BEFORE any data file is written)"
            )
        cols.append(F.col(f.name).cast(p.dataType).alias(f.name))
        changed = True
    return source.select(*cols) if changed else source


def acid_merge_upsert(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: Sequence[str],
    *,
    max_retries: int = 2,
    file_cow: bool = False,
    allow_new_columns: bool = False,
    extra: dict | None = None,
    backend=None,
) -> dict:
    """Transactional MERGE: read the current snapshot, merge (broadcast
    anti join + union — operators/upsert.py, the reference's MERGE
    semantics), publish as a new snapshot. Readers see the OLD table until
    the marker lands and the NEW table after — never a partial state. On
    CommitConflict the merge recomputes against the winner's snapshot
    (``max_retries`` times), which is exactly the lakehouse optimistic
    loop. First commit on an empty table inserts the source as-is.

    ``file_cow=True`` (round 12) publishes MANIFEST snapshots: only the
    files containing merged keys are rewritten; the rest carry forward by
    reference — commit cost scales with touched files, not table size,
    which makes acid viable for large fact tables, not just gold/dim
    relations (see module docstring). The two layouts interoperate: the
    first file_cow commit onto a table-COW parent is a one-time
    conversion (rewrites everything into data/ files); acid_read resolves
    either kind. Results are pinned equal to the table-COW merge in
    tests/test_sources_sinks.py.

    ``allow_new_columns=True`` is SCHEMA EVOLUTION: source columns the
    table lacks are added as nullable (existing rows read NULL; on a
    manifest table the pinned schema widens and pre-evolution data files
    — including untouched carried-forward ones — read NULL-filled, no
    rewrite). The source must still carry every EXISTING column: a
    missing column stays a fail-before-commit error in both modes. The
    strict default keeps today's contract — extra source columns are
    dropped by the MERGE projection. Old snapshots keep their
    at-commit schema (time travel is schema-faithful)."""
    from pyspark import StorageLevel

    from ..operators.upsert import merge_upsert

    def _merge_against_snapshot(parent: int, man: dict | None) -> DataFrame:
        # shared by the table-COW path and the file-COW conversion commit:
        # read the parent snapshot (either layout: a table-COW commit may
        # land on a manifest parent), apply evolution, MERGE
        if man is not None:
            target = _read_manifest_files(spark, table, man)
        else:
            target = spark.read.parquet(_snap_dir(table, parent))
        if allow_new_columns:
            target = _widen_for_new_columns(target, source)
        return merge_upsert(target, source, keys)

    be = _backend(spark, table, backend)
    if not file_cow:
        for _ in range(max_retries + 1):
            parent = _current_ordinal(spark, table, be)
            if parent == 0:
                merged = source
            else:
                merged = _merge_against_snapshot(
                    parent, _manifest(spark, table, parent, be)
                )
            try:
                return acid_commit(
                    spark, table, merged,
                    operation="merge", expected_parent=parent, extra=extra,
                    backend=be,
                )
            except CommitConflict:
                continue
        raise CommitConflict(
            f"table {table!r}: lost the commit race {max_retries + 1} times"
        )

    # the batch this call persisted (never a caller's own cache): the
    # batch is fully consumed before the call returns, so it is dropped
    # here — conflict retries included — not left to a later eviction
    cached = None
    try:
        for _ in range(max_retries + 1):
            parent = _current_ordinal(spark, table, be)
            man = _manifest(spark, table, parent, be) if parent else None
            untouched: dict = {}
            n_rewritten = n_probed = 0
            if parent == 0:
                merged = source
            elif man is None:
                # table-COW parent: one-time conversion commit (everything
                # rewrites into data/ files; increments are file-level after)
                merged = _merge_against_snapshot(parent, None)
            else:
                if allow_new_columns:
                    # widen the PINNED schema: touched files (and the empty
                    # insert relation) read through it below, untouched files
                    # carry forward and read NULL in the added columns
                    man = {
                        **man,
                        "schema": _widened_schema_json(
                            man["schema"], source.schema
                        ),
                    }
                # conform BEFORE anything is written: a type-drifted batch
                # either casts (safe widening) or fails loudly right here
                source = _conform_source_to_pinned(source, man["schema"])
                if cached is None and source.storageLevel == StorageLevel.NONE:
                    # ONE evaluation of the batch for the key collect, the
                    # probe and the rewrite (a non-deterministic source could
                    # otherwise probe one key set and write another)
                    cached = source = source.persist(
                        StorageLevel.MEMORY_AND_DISK
                    )
                touched, n_probed = _touched_file_names(
                    spark, table, man, source, keys
                )
                untouched = {
                    n: s for n, s in man["files"].items() if n not in touched
                }
                n_rewritten = len(touched)
                # The rewrite region is touched-files ∪ batch — bounded by the
                # merge contract (upsert batches broadcast). Fold it back to
                # ~len(touched) output files so the per-commit file count
                # tracks the TOUCHED data, not the source's incoming partition
                # count (an 8-partition 200-row micro-batch would otherwise
                # add 8 manifest entries per commit — measured in
                # scripts/acid_lab.py --churn; acid_compact folds the residual
                # one-file-per-insert-batch tail). Seed and conversion commits
                # below keep the source's partitioning: they write the WHOLE
                # table and must stay parallel.
                if touched:
                    merged = merge_upsert(
                        _read_manifest_files(spark, table, man, touched),
                        source, keys,
                    ).coalesce(len(touched))
                else:
                    # pure insert: no file holds these keys — one log file.
                    # Still MERGE against an empty relation of the manifest's
                    # pinned schema so the semantics stay identical to
                    # table-COW: intra-batch duplicate keys dedupe keep-latest,
                    # and a schema-mismatched batch fails BEFORE committing
                    # instead of null-filling the table (code-review r12).
                    merged = merge_upsert(
                        _read_manifest_files(spark, table, man, []),
                        source, keys,
                    ).coalesce(1)
            # cheap pre-write conflict probe: an unresolved marker above the
            # parent (another merge in flight, or a crashed claim awaiting
            # vacuum) fails HERE — one LIST — instead of after a full data-file
            # write that the conflict would immediately orphan (code-review
            # r13; _commit_manifest re-resolves authoritatively either way)
            try:
                _resolve_commit_ordinal(spark, table, parent, be)
            except CommitConflict:
                continue
            # pin the parent's schema when extending it — nullability
            # variations in a rewritten subset must not fork the table
            schema = man["schema"] if man else merged.schema.json()
            new_files = _write_data_files(
                spark, table, merged, keys, schema, be
            )
            manifest = {
                "files": {**untouched, **new_files},
                "schema": schema,
                "keys": list(keys),
            }
            rows = sum(s["rows"] for s in manifest["files"].values())
            try:
                return _commit_manifest(
                    spark, table, manifest,
                    parent=parent, operation="merge", rows=rows,
                    extra={
                        "files_total": len(manifest["files"]),
                        "files_rewritten": n_rewritten,
                        "files_probed": n_probed,
                        "files_new": len(new_files),
                        **(extra or {}),
                    },
                    be=be,
                )
            except CommitConflict:
                # this attempt's data files are unreferenced — drop them now
                # instead of leaving orphans for vacuum
                for n in new_files:
                    be.delete(f"{_data_dir(table)}/{n}")
                continue
    finally:
        if cached is not None:
            cached.unpersist()
    raise CommitConflict(
        f"table {table!r}: lost the commit race {max_retries + 1} times"
    )


def _lease_path(table: str) -> str:
    return table.rstrip("/") + "/_maint.lease"


def acid_acquire_maintenance(
    spark: SparkSession, table: str, *, owner: str | None = None, backend=None
) -> str:
    """Claim the table's MAINTENANCE LEASE — the checkable form of the
    single-maintainer contract acid_vacuum/acid_compact document
    (VERDICT r12 item 8). Built on the SAME atomic create-if-absent
    primitive as commit markers (O_EXCL / createNewFile / conditional
    PUT), so exactly one maintainer holds it per store guarantee, across
    processes. Returns the owner token ``acid_release_maintenance``
    requires; raises MaintenanceBusy when held. Scope — be precise about
    what the lease does and does not cover (code-review r13):

    - It serializes MAINTAINERS against each other: two vacuums
      concurrently sweeping (one's crashed-marker reclaim racing the
      other's stage sweep), or two compactors doubling the same fold.
    - It does NOT license vacuum to run beside live MERGE committers:
      vacuum's orphan sweep deletes data files referenced by no manifest,
      and an in-flight file-COW merge's just-written files are exactly
      that until its commit publishes — acid_vacuum's
      no-commit-in-flight contract still stands, lease or not. Inside
      stream_acid_merge the cadence satisfies it by construction
      (foreachBatch serializes maintenance with the stream's own
      commits, PROVIDED the stream is the table's only writer); an
      out-of-band vacuum against a live writer remains unsafe.
    - acid_compact beside a live merge IS benign without any lease: its
      commit is conditional (expected_parent), so a racing merge just
      wins/loses the ordinal and the loser retries."""
    import uuid

    be = _backend(spark, table, backend)
    token = owner or uuid.uuid4().hex
    lease = _lease_path(table)
    be.mkdirs(table.rstrip("/"))  # leasable before the first commit
    # ONE atomic step: the owner token travels INSIDE the create-if-absent
    # (a create-then-write two-step would leave an ownerless lease if the
    # maintainer crashed between them; code-review r13)
    if not be.atomic_create(lease, json.dumps({"owner": token}).encode()):
        try:
            holder = be.read_json(lease).get("owner", "<unknown>")
        except Exception:
            holder = "<unknown>"
        raise MaintenanceBusy(
            f"table {table!r}: maintenance lease held by {holder!r} — "
            f"retry later, or break a crashed holder's lease via "
            f"acid_break_maintenance_lease(force=True)"
        )
    return token


def acid_release_maintenance(
    spark: SparkSession, table: str, token: str, backend=None
) -> None:
    """Release the lease ``token`` acquired. Releasing someone else's
    lease raises (a maintainer that lost its token must go through
    acid_break_maintenance_lease, which is explicit about force)."""
    be = _backend(spark, table, backend)
    lease = _lease_path(table)
    if not be.exists(lease):
        raise MaintenanceBusy(f"table {table!r}: no maintenance lease held")
    try:
        got = be.read_json(lease).get("owner")
    except Exception:
        raise MaintenanceBusy(
            f"table {table!r}: lease unreadable (empty/corrupt — a holder "
            f"crashed mid-claim on a non-atomic-content store); break it "
            f"via acid_break_maintenance_lease(force=True)"
        )
    if got != token:
        raise MaintenanceBusy(
            f"table {table!r}: lease owned by {got!r}, not {token!r}"
        )
    be.delete(lease)


def acid_break_maintenance_lease(
    spark: SparkSession, table: str, *, force: bool = False, backend=None
) -> bool:
    """Forcibly remove an orphaned lease (crashed maintainer). Requires
    ``force=True`` — the caller asserts the holder is dead; breaking a
    LIVE maintainer's lease re-admits the double-maintenance races the
    lease exists to prevent. Returns whether a lease was removed."""
    if not force:
        raise ValueError("breaking a maintenance lease requires force=True")
    be = _backend(spark, table, backend)
    return be.delete(_lease_path(table))


def acid_compact(
    spark: SparkSession,
    table: str,
    *,
    target_rows: int = 1_000_000,
    min_group: int = 2,
    max_retries: int = 2,
    zorder_cols: Sequence[str] | None = None,
    zorder_bits: int = 8,
    lease: bool = False,
    backend=None,
) -> dict:
    """Bin-pack a manifest table's small data files into ~``target_rows``
    files, published as a normal snapshot commit (operation="compact") —
    the table's CONTENT is unchanged (pinned in tests), only its physical
    file layout. This is the maintenance verb a long-running file-COW
    stream needs: every micro-batch merge adds at least one small file
    (the batch's rewrite output), so after N batches the manifest carries
    O(N) entries and every merge's bounds-pruning loop, key scan plan,
    and manifest JSON grow with N instead of with data size (measured:
    scripts/acid_lab.py --churn, SCALING round 12). Compaction folds the
    small-file tail back to O(data/target_rows) entries.

    Files with >= ``target_rows`` rows are left alone (rewriting them
    buys nothing). A no-op (fewer than ``min_group`` small files) returns
    without committing. Packed files are written via repartitionByRange
    on the first merge key, so the new files carry tight disjoint bounds
    and stay prunable. Only meaningful for file-COW tables; a table-COW
    snapshot is one directory and needs no per-file maintenance
    (ValueError directs the caller).

    ``zorder_cols`` clusters the packed files on the Z-order curve over
    those columns instead (sinks.zorder_write's equi-depth curve — the
    at-rest layout doctrine applied to the ACID table, Delta's
    OPTIMIZE ... ZORDER BY): right when reads filter on MULTIPLE
    dimensions. The trade is explicit: per-file bounds on any single key
    become boxes (looser single-key merge pruning) in exchange for
    multi-column scan pruning; content is pinned identical either way.

    ``lease=True`` runs under the table's maintenance lease
    (acid_acquire_maintenance): raises MaintenanceBusy — without touching
    the table — when another maintainer holds it. This is how concurrent
    maintainers become a CHECKED benign conflict instead of a documented
    convention (VERDICT r12 item 8); the in-stream cadence uses it and
    skips the cadence point when busy."""
    be = _backend(spark, table, backend)
    token = (
        acid_acquire_maintenance(spark, table, backend=be) if lease else None
    )
    try:
        return _compact_impl(
            spark, table, be, target_rows=target_rows, min_group=min_group,
            max_retries=max_retries, zorder_cols=zorder_cols,
            zorder_bits=zorder_bits,
        )
    finally:
        if token is not None:
            try:
                acid_release_maintenance(spark, table, token, backend=be)
            except MaintenanceBusy:
                # lease force-broken (or re-claimed) mid-run: the completed
                # maintenance result must not be masked by the release
                pass


def _compact_impl(
    spark: SparkSession,
    table: str,
    be,
    *,
    target_rows: int,
    min_group: int,
    max_retries: int,
    zorder_cols: Sequence[str] | None,
    zorder_bits: int,
) -> dict:
    for _ in range(max_retries + 1):
        parent = _current_ordinal(spark, table, be)
        if parent == 0:
            raise ValueError(f"table {table!r}: nothing committed yet")
        man = _manifest(spark, table, parent, be)
        if man is None:
            raise ValueError(
                f"table {table!r}: snapshot {parent} is table-COW (one "
                f"directory, nothing to compact) — compaction applies to "
                f"file_cow manifest snapshots"
            )
        small = [n for n, s in man["files"].items() if s["rows"] < target_rows]
        if len(small) < min_group:
            return {
                "destination": table, "mode": "compact", "ordinal": parent,
                "files_compacted": 0, "files_new": 0,
                "files_total": len(man["files"]),
            }
        keys = man.get("keys") or []
        packed = _read_manifest_files(spark, table, man, small)
        total = sum(man["files"][n]["rows"] for n in small)
        n_out = max(1, -(-total // target_rows))  # ceil
        if zorder_cols:
            from . import _with_zvalue

            packed, _ = _with_zvalue(packed, list(zorder_cols), bits=zorder_bits)
            packed = (
                packed.repartitionByRange(n_out, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif keys:
            packed = packed.repartitionByRange(n_out, keys[0])
        else:
            packed = packed.repartition(n_out)
        new_files = _write_data_files(
            spark, table, packed, keys, man["schema"], be
        )
        manifest = {
            "files": {
                **{n: s for n, s in man["files"].items() if n not in small},
                **new_files,
            },
            "schema": man["schema"],
            "keys": keys,
        }
        rows = sum(s["rows"] for s in manifest["files"].values())
        try:
            return _commit_manifest(
                spark, table, manifest,
                parent=parent, operation="compact", rows=rows,
                extra={
                    "files_total": len(manifest["files"]),
                    "files_compacted": len(small),
                    "files_new": len(new_files),
                },
                be=be,
            )
        except CommitConflict:
            for n in new_files:
                be.delete(f"{_data_dir(table)}/{n}")
            continue
    raise CommitConflict(
        f"table {table!r}: lost the compact race {max_retries + 1} times"
    )


def acid_history(spark: SparkSession, table: str, backend=None) -> list[dict]:
    """Commit log, oldest first — each visible snapshot's _meta.json."""
    be = _backend(spark, table, backend)
    ordinals = _marker_ordinals(spark, table, be)
    out = []
    for o in ordinals:
        try:
            out.append(acid_snapshot_meta(spark, table, o, be))
        except Exception:
            # a conforming committer writes _meta.json BEFORE the marker;
            # flag a non-conforming snapshot instead of breaking the log
            out.append({"ordinal": o, "meta_missing": True})
    return out


def acid_vacuum(
    spark: SparkSession, table: str, *, keep: int = 2, lease: bool = False,
    backend=None,
) -> dict:
    """Remove snapshots (and their markers) older than the newest ``keep``
    resolvable ones, ALL dangling markers (crashed between claim and
    publish), partial snapshots (claim-first object-store commits that
    died before their ``_meta.json`` visibility PUT), and leftover
    ``__stage-`` dirs from crashed commits. Run only with no commit in
    flight (a live committer's stage dir, fresh marker, or half-written
    claim-first snapshot is indistinguishable from a crashed one — the
    same single-maintainer contract as lakehouse vacuums); under that
    contract every marker-without-meta is a crashed commit. Dangling
    markers BELOW current stay burned after deletion (removing them
    cannot lower the max-marker ordinal allocator); the dangling marker
    ABOVE current is RECLAIMED — conditional commits refuse to build
    past an unresolved marker (see acid_commit), so a crashed claimant
    would otherwise block merges forever. Reclaiming is safe because the
    crashed commit's stage dirs and partial snapshots are swept in the
    same pass (and first): a zombie committer's later rename has nothing
    to rename. Queries still running against a vacuumed snapshot fail on
    their next file read — size ``keep`` to cover the longest reader.
    The current snapshot is always kept.

    ``lease=True``: run under the maintenance lease (MaintenanceBusy when
    held — see acid_compact). Two concurrent vacuums are the race the
    lease exists for: one's crashed-marker reclaim interleaving the
    other's stage sweep could reclaim a marker whose stage the other
    vacuum has not yet removed."""
    be = _backend(spark, table, backend)
    token = (
        acid_acquire_maintenance(spark, table, backend=be) if lease else None
    )
    try:
        return _vacuum_impl(spark, table, be, keep)
    finally:
        if token is not None:
            try:
                acid_release_maintenance(spark, table, token, backend=be)
            except MaintenanceBusy:
                pass  # force-broken mid-run: don't mask the result



def _vacuum_impl(spark: SparkSession, table: str, be, keep: int) -> dict:
    current = _current_ordinal(spark, table, be)
    markers = set(_marker_ordinals(spark, table, be))
    resolvable = sorted(
        o for o in markers
        if be.exists(_snap_dir(table, o) + "/_meta.json")
    )
    rset = set(resolvable)
    keep_set = set(resolvable[-max(1, keep):]) | {current}
    removed, removed_stages = [], 0
    root = table.rstrip("/")
    for name in be.list_names(root):
        if name.startswith("__stage-"):
            be.delete(f"{root}/{name}", recursive=True)
            removed_stages += 1
            continue
        if not name.startswith("snap-"):
            continue
        try:
            o = int(name[len("snap-"):])
        except ValueError:
            continue
        if o not in rset:
            # PARTIAL claim-first snapshot (crashed before its _meta.json
            # visibility PUT): sweep the residue; its dangling marker is
            # handled — and counted — by the reclaim loop below
            be.delete(f"{root}/{name}", recursive=True)
        elif o not in keep_set:
            be.delete(f"{root}/{name}", recursive=True)
            be.delete(f"{_commits_dir(table)}/{o:0{_ORD_W}d}")
            removed.append(o)
    reclaimed = []
    for o in markers - rset:
        # dangling marker from a crashed commit; the stage/partial sweep
        # above already ran, so a zombie claimant's rename (or late meta
        # PUT, on claim-first stores) re-creates nothing readers trust
        be.delete(f"{_commits_dir(table)}/{o:0{_ORD_W}d}")
        if o > current:
            reclaimed.append(o)  # unblocks conditional commits
    # file-COW hygiene: sweep shared data files no SURVIVING manifest
    # references — orphans from crashed/conflicted commits and files whose
    # last referencing snapshot was just removed above
    removed_data = 0
    referenced: set[str] = set()
    for o in sorted(rset & keep_set):
        man = _manifest(spark, table, o, be)
        if man:
            referenced |= set(man["files"])
    for name in be.list_names(_data_dir(table)):
        if name not in referenced:
            be.delete(f"{_data_dir(table)}/{name}")
            removed_data += 1
    return {"destination": table, "removed": sorted(removed),
            "removed_stage_dirs": removed_stages,
            "removed_data_files": removed_data,
            "reclaimed_ordinals": sorted(reclaimed),
            "kept": sorted(keep_set & markers) or [current]}
