"""Append-only commit log + periodic snapshot metadata for the lake.

Layout of a table directory::

    <root>/
      _meta/
        log/delta-<v>.json       ONE record per commit — the O(batch)
                                 diff; its create-exclusive write IS
                                 the commit point (CAS: one winner per
                                 log position)
        snap/snapshot-<v>.json   full materialized state, written
                                 every ``snapshot_interval`` commits
                                 (derived data — losing one only means
                                 replaying more deltas)
        CURRENT                  advisory hint (may lag; readers probe
                                 the log past it)
      data/
        <snap>/bucket=<k>/*.parquet

Why a log, not a rewrite-everything manifest: at 10^10 events a table
accumulates >=10^5 commits and >=10^6 files; serializing the full
state per microbatch makes commit cost O(files+commits) — throughput
decays with table age. Here a commit serializes only its own diff
(new files, watermark bumps, one CommitRecord); the O(state) snapshot
cost is paid once per ``snapshot_interval`` commits, so per-commit
metadata work is flat. Same shape as Iceberg's metadata log +
manifest lists, re-expressed minimally.

Crash safety: data files first, then the delta record; the delta's
atomic create IS the commit. A crash after the delta lands but before
the CURRENT hint / snapshot update loses nothing — the next reader
probes the log past the hint and reconstructs the committed state
(hints and snapshots are pure derived data). A crash before the delta
lands leaves orphan data files; replaying the batch_id reconverges
(reference analogue: rollback + drop-temp on failure,
oracle/oracle.py:401-406; SCN watermark rows RUNNING→FINISHED,
db2/db2.py:596-655).

Concurrency: two writers racing version N both try to create
delta-N.json; exactly one wins, the loser gets ConcurrentCommitError,
reloads (now seeing the winner's commit) and retries at N+1. There is
no wedge state: the commit point and the conflict point are the same
atomic operation.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import asdict, dataclass, field

from .fs import FileSystem, LocalFS

_LSN_BATCH_ID = re.compile(r"^lsn-(\d+)-(\d+)$")


def _lsn_window(batch_id: str) -> tuple[int, int] | None:
    m = _LSN_BATCH_ID.match(batch_id)
    return (int(m.group(1)), int(m.group(2))) if m else None


class AppliedIds:
    """Set-like view over the exactly-once state: structural membership
    for ``lsn-<lo>-<hi>`` window ids (O(1) against the contiguous
    cursor + the bounded out-of-order tail) plus a bounded recent-id
    window for arbitrary ids. Supports ``in`` and ``some_set <= view``
    (Python delegates the latter to ``__ge__`` here)."""

    def __init__(self, m: "Manifest"):
        self._m = m
        self._recent = set(m.applied_ids)

    def __contains__(self, batch_id: str) -> bool:
        if batch_id in self._recent:
            return True
        w = _lsn_window(batch_id)
        if w is None:
            return False
        lo, hi = w
        return hi <= self._m.lsn_contig_hi or [lo, hi] in self._m.lsn_pending

    def __ge__(self, other) -> bool:
        return all(x in self for x in other)

    # the recent window is also iterable/sizable/comparable as a set —
    # convenience for tests and tooling over young tables (structural
    # lsn membership beyond the window is reachable only via ``in``)
    def __iter__(self):
        return iter(self._recent)

    def __len__(self) -> int:
        return len(self._recent)

    def __eq__(self, other) -> bool:
        if isinstance(other, (set, frozenset)):
            return self._recent == other
        return NotImplemented


@dataclass
class SchemaVersion:
    version: int
    schema_json: str  # StructType.json()
    added_at: float


@dataclass
class CommitRecord:
    """One committed microbatch — the lineage + exactly-once unit."""

    batch_id: str
    lsn_lo: int
    lsn_hi: int
    rows_in: int
    rows_deduped: int
    rows_upserted: int
    rows_deleted: int
    touched_buckets: list[int]
    committed_at: float
    # per-bucket rows written in this commit (lineage detail)
    bucket_rows: dict[str, int] = field(default_factory=dict)


@dataclass
class Manifest:
    """In-memory materialized table state (reconstructed from the
    latest snapshot + subsequent log deltas). Every per-commit
    collection is BOUNDED so snapshot bytes and driver memory are
    O(live files), never O(total commits):

    - ``commits`` keeps the most recent ``MetaStore.commit_retention``
      records (full lineage stays in the retained log);
    - ``applied_ids`` keeps the most recent ``MetaStore.id_retention``
      batch ids — the exactly-once window for ARBITRARY ids;
    - ``lsn-<lo>-<hi>`` batch ids (the runner's windows) are tracked
      STRUCTURALLY instead: ``lsn_contig_hi`` is the end of the
      contiguous committed prefix and ``lsn_pending`` the committed
      windows past the first gap (bounded by pipeline_depth), so
      windowed ingest keeps exactly-once over unbounded table age in
      O(1) state — the per-source high-water cursor."""

    version: int
    n_buckets: int
    key_columns: list[str]
    order_columns: list[str]  # LWW ordering, e.g. ["ts", "lsn"]
    schema_versions: list[SchemaVersion]
    # bucket id (str, JSON keys are strings) -> [relpath, schema_version,
    # tier, order_lo, order_hi] entries
    bucket_files: dict[str, list[list]]
    commits: list[CommitRecord]
    # bucket id -> max lsn applied (per-partition watermark)
    watermarks: dict[str, int]
    applied_ids: list[str] = field(default_factory=list)
    # registered change-feed consumers: name -> last consumed lsn
    cursors: dict[str, int] = field(default_factory=dict)
    # tombstones at/below this lsn may have been GC'd (compaction
    # safety horizon for changes_since consumers); -1 = none GC'd
    tombstone_gc_lsn: int = -1
    # every lsn-<lo>-<hi> window with hi <= this is committed (the
    # runner's crash-safe resume point: end of the CONTIGUOUS prefix)
    lsn_contig_hi: int = 0
    # committed [lo, hi] windows past the first gap (out-of-order
    # pipelined commits); merged into lsn_contig_hi as gaps fill, so
    # its size is bounded by the ingest pipeline depth
    lsn_pending: list[list[int]] = field(default_factory=list)
    # columns the key->bucket hash covers: any subset of key_columns
    # (a pure function of the merge key, so LWW stays bucket-local).
    # None = legacy single-column behavior, [key_columns[0]].
    bucket_columns: list[str] | None = None
    # extra columns whose per-file min/max is recorded at write time
    # (beyond the order column) — powers manifest-level range pruning
    # (LakeTable.read_range) without touching any parquet footer
    stats_columns: list[str] = field(default_factory=list)
    # PERSISTED exactly-once window for arbitrary batch ids: when set
    # (LakeTable.create(id_retention=...)), every handle folds
    # applied_ids with THIS window regardless of its own ctor value —
    # two writers opened with different handle-level retentions would
    # otherwise truncate the replay-detection window inconsistently.
    # None = legacy table: the handle's MetaStore.id_retention governs.
    id_retention: int | None = None

    def copy(self) -> "Manifest":
        """Structure-sharing copy: containers are fresh, entries
        (including the per-bucket file LISTS, which are immutable by
        convention — every state transition replaces a bucket's list,
        never mutates it) are shared, so a copy is O(buckets), not
        O(files). MetaStore hands these out so callers can't corrupt
        the in-process cache through container mutation."""
        return Manifest(
            version=self.version,
            n_buckets=self.n_buckets,
            key_columns=list(self.key_columns),
            order_columns=list(self.order_columns),
            schema_versions=list(self.schema_versions),
            bucket_files=dict(self.bucket_files),
            commits=list(self.commits),
            watermarks=dict(self.watermarks),
            applied_ids=list(self.applied_ids),
            cursors=dict(self.cursors),
            tombstone_gc_lsn=self.tombstone_gc_lsn,
            lsn_contig_hi=self.lsn_contig_hi,
            lsn_pending=[list(w) for w in self.lsn_pending],
            bucket_columns=list(self.bucket_columns) if self.bucket_columns else None,
            stats_columns=list(self.stats_columns),
            id_retention=self.id_retention,
        )

    @property
    def effective_bucket_columns(self) -> list[str]:
        return self.bucket_columns or self.key_columns[:1]

    @property
    def current_schema_json(self) -> str:
        return self.schema_versions[-1].schema_json

    @property
    def applied_batch_ids(self) -> AppliedIds:
        return AppliedIds(self)

    def to_json(self) -> str:
        return json.dumps(asdict(self))

    @staticmethod
    def from_json(s: str) -> "Manifest":
        d = json.loads(s)
        d["schema_versions"] = [SchemaVersion(**v) for v in d["schema_versions"]]
        d["commits"] = [CommitRecord(**c) for c in d["commits"]]
        d.setdefault("applied_ids", [c.batch_id for c in d["commits"]])
        m = Manifest(**d)
        if "lsn_contig_hi" not in d:  # legacy state: bootstrap the cursor
            m.lsn_contig_hi, m.lsn_pending = _fold_lsn_windows(0, [], m.applied_ids)
        return m


@dataclass
class LogDelta:
    """One commit's diff against its parent version — the unit the
    log stores. All collections are O(this batch), never O(table)."""

    version: int
    new_commits: list[CommitRecord] = field(default_factory=list)
    schema_versions_added: list[SchemaVersion] = field(default_factory=list)
    # MOR appends: bucket -> entries ADDED to that bucket's file list
    bucket_appends: dict[str, list[list]] = field(default_factory=dict)
    # compaction / rebucket / overwrite: bucket -> full replacement list
    bucket_replaces: dict[str, list[list]] = field(default_factory=dict)
    # merged with max() into the per-bucket watermarks
    watermark_updates: dict[str, int] = field(default_factory=dict)
    # overwrite_full resets the watermark map wholesale
    replace_watermarks: bool = False
    cursor_updates: dict[str, int] = field(default_factory=dict)
    tombstone_gc_lsn: int | None = None
    # rebucketing: the key→bucket function changes, so the delta must
    # carry the new modulus (and optionally new hash columns) alongside
    # the full bucket_replaces
    new_n_buckets: int | None = None
    new_bucket_columns: list[str] | None = None
    # legacy full-state commit (create(), MetaStore.commit(manifest))
    full_state: dict | None = None

    def to_json(self) -> str:
        return json.dumps(asdict(self))

    @staticmethod
    def from_json(s: str) -> "LogDelta":
        d = json.loads(s)
        d["new_commits"] = [CommitRecord(**c) for c in d["new_commits"]]
        d["schema_versions_added"] = [
            SchemaVersion(**v) for v in d["schema_versions_added"]
        ]
        return LogDelta(**d)


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this log position first — reload the
    manifest (which now includes the winner) and retry the batch
    (optimistic concurrency; the lake analogue of the reference's
    transaction rollback, db2/db2.py:548-565, without its
    lock-killing)."""


def _fold_lsn_windows(
    contig_hi: int, pending: list[list[int]], new_ids: list[str]
) -> tuple[int, list[list[int]]]:
    """Advance the structural lsn cursor with newly committed window
    ids: extend the contiguous prefix, park out-of-order windows in
    ``pending``, and drain pending as gaps fill. O(pending) per call;
    pending is bounded by the ingest pipeline depth for a single
    logical stream — under SHARDED ingest (several runners pinned to
    disjoint ``from_lsn`` ranges) a leading shard's windows sit in
    pending until the lagging shard fills the gap, so the bound is
    pipeline_depth × the shard lead (each entry is two ints,
    serialized into every delta/snapshot — keep shard skew modest or
    fence laggards)."""
    pend = [list(w) for w in pending]
    for bid in new_ids:
        w = _lsn_window(bid)
        if w is not None and list(w) not in pend and w[1] > contig_hi:
            pend.append([w[0], w[1]])
    pend.sort()
    drained: list[list[int]] = []
    for lo, hi in pend:
        if lo <= contig_hi:
            contig_hi = max(contig_hi, hi)
        else:
            drained.append([lo, hi])
    return contig_hi, drained


def apply_delta(
    parent: Manifest | None,
    delta: LogDelta,
    commit_retention: int,
    id_retention: int = 10_000,
) -> Manifest:
    """Pure state transition: parent manifest + delta → child.

    Structure-sharing: untouched buckets' file lists are SHARED with
    the parent (bucket-file lists are immutable by convention — always
    replaced, never mutated), so a commit's in-memory cost is O(its
    own diff), not O(table files)."""
    if delta.full_state is not None:
        m = Manifest.from_json(json.dumps(delta.full_state))
        m.version = delta.version
        return m
    assert parent is not None and delta.version == parent.version + 1
    bucket_files = dict(parent.bucket_files)
    for b, entries in delta.bucket_replaces.items():
        if entries:
            bucket_files[b] = [list(e) for e in entries]
        else:
            # buckets emptied by a replace (overwrite/rebucket) drop
            # out of the index entirely rather than lingering
            bucket_files.pop(b, None)
    for b, entries in delta.bucket_appends.items():
        if entries:
            bucket_files[b] = bucket_files.get(b, []) + [list(e) for e in entries]
    if delta.replace_watermarks:
        watermarks = dict(delta.watermark_updates)
    else:
        watermarks = dict(parent.watermarks)
        for b, hi in delta.watermark_updates.items():
            watermarks[b] = max(watermarks.get(b, -1), hi)
    commits = (parent.commits + delta.new_commits)[-commit_retention:]
    cursors = dict(parent.cursors)
    cursors.update(delta.cursor_updates)
    new_ids = [c.batch_id for c in delta.new_commits]
    contig_hi, pending = _fold_lsn_windows(
        parent.lsn_contig_hi, parent.lsn_pending, new_ids
    )
    return Manifest(
        version=delta.version,
        n_buckets=delta.new_n_buckets or parent.n_buckets,
        key_columns=parent.key_columns,
        order_columns=parent.order_columns,
        schema_versions=parent.schema_versions + delta.schema_versions_added,
        bucket_files=bucket_files,
        commits=commits,
        watermarks=watermarks,
        # the table-persisted window (if any) wins over the handle's,
        # so every writer truncates applied_ids identically; max(1, ·)
        # defends legacy manifests against a persisted 0 (slice [-0:]
        # would keep everything — see MetaStore.__init__ validation)
        applied_ids=(parent.applied_ids + new_ids)[
            -max(1, parent.id_retention if parent.id_retention is not None else id_retention):
        ],
        cursors=cursors,
        tombstone_gc_lsn=(
            delta.tombstone_gc_lsn
            if delta.tombstone_gc_lsn is not None
            else parent.tombstone_gc_lsn
        ),
        lsn_contig_hi=contig_hi,
        lsn_pending=pending,
        bucket_columns=delta.new_bucket_columns or parent.bucket_columns,
        stats_columns=parent.stats_columns,
        id_retention=parent.id_retention,
    )


class MetaStore:
    """Log-structured metadata store with CAS commits.

    Per-commit cost is O(batch diff) + amortized O(state)/interval for
    the periodic snapshot; reads replay at most ``snapshot_interval``
    deltas past the latest snapshot (typically 0-1 past the in-process
    cache). All I/O goes through :class:`FileSystem` — an object-store
    root needs only a conditional-PUT implementation of it.
    """

    def __init__(
        self,
        root: str,
        fs: FileSystem | None = None,
        snapshot_interval: int = 32,
        commit_retention: int = 1000,
        id_retention: int = 10_000,
    ):
        self.root = root
        self.fs = fs or LocalFS()
        self.meta_dir = f"{root}/_meta"
        self.log_dir = f"{self.meta_dir}/log"
        self.snap_dir = f"{self.meta_dir}/snap"
        self.data_dir = f"{root}/data"
        self.snapshot_interval = snapshot_interval
        self.commit_retention = commit_retention
        # exactly-once replay-detection window for ARBITRARY batch ids;
        # lsn-window ids are exempt (tracked structurally, unbounded).
        # Must be >= 1: a 0 would make the [-window:] fold keep the
        # ENTIRE list (unbounded growth), the opposite of a zero window.
        if id_retention < 1:
            raise ValueError(f"id_retention must be >= 1, got {id_retention}")
        self.id_retention = id_retention
        self._cache: Manifest | None = None

    # -- paths -----------------------------------------------------------
    def delta_path(self, version: int) -> str:
        return f"{self.log_dir}/delta-{version:09d}.json"

    def snapshot_path(self, version: int) -> str:
        return f"{self.snap_dir}/snapshot-{version:09d}.json"

    @property
    def current_path(self) -> str:
        return f"{self.meta_dir}/CURRENT"

    def bucket_dir(self, bucket: int) -> str:
        return f"{self.data_dir}/bucket={bucket}"

    # -- io ---------------------------------------------------------------
    def exists(self) -> bool:
        return bool(self._snapshot_versions()) or self.fs.exists(self.delta_path(0))

    def _snapshot_versions(self) -> list[int]:
        return sorted(
            int(n[len("snapshot-"):-len(".json")])
            for n in self.fs.listdir(self.snap_dir)
            if n.startswith("snapshot-") and n.endswith(".json")
        )

    def _delta_versions(self) -> list[int]:
        return sorted(
            int(n[len("delta-"):-len(".json")])
            for n in self.fs.listdir(self.log_dir)
            if n.startswith("delta-") and n.endswith(".json")
        )

    def _roll_forward(self, m: Manifest) -> Manifest:
        """Apply any log deltas past ``m.version`` (crash/lag recovery:
        the log, not the hint, is the truth)."""
        v = m.version + 1
        while self.fs.exists(self.delta_path(v)):
            delta = LogDelta.from_json(self.fs.read_text(self.delta_path(v)))
            m = apply_delta(m, delta, self.commit_retention, self.id_retention)
            v += 1
        return m

    def read_current(self) -> Manifest:
        m = self._cache
        if m is None:
            snaps = self._snapshot_versions()
            if snaps:
                m = Manifest.from_json(self.fs.read_text(self.snapshot_path(snaps[-1])))
            elif self.fs.exists(self.delta_path(0)):
                d0 = LogDelta.from_json(self.fs.read_text(self.delta_path(0)))
                m = apply_delta(None, d0, self.commit_retention, self.id_retention)
            else:
                raise FileNotFoundError(f"no lake table metadata under {self.meta_dir}")
        m = self._roll_forward(m)
        self._cache = m
        return m.copy()

    def read_version(self, version: int) -> Manifest:
        """Time travel: the manifest as of ``version`` (available while
        a snapshot <= version and the deltas up to it are retained)."""
        snaps = [s for s in self._snapshot_versions() if s <= version]
        if snaps:
            m = Manifest.from_json(self.fs.read_text(self.snapshot_path(snaps[-1])))
        else:
            m = apply_delta(
                None,
                LogDelta.from_json(self.fs.read_text(self.delta_path(0))),
                self.commit_retention,
            )
        for v in range(m.version + 1, version + 1):
            m = apply_delta(
                m, LogDelta.from_json(self.fs.read_text(self.delta_path(v))), self.commit_retention
            )
        if m.version != version:
            raise FileNotFoundError(f"version {version} not reconstructible")
        return m

    def commit_delta(self, parent: Manifest, delta: LogDelta) -> Manifest:
        """Apply + persist one commit. The create-exclusive write of
        the delta record is the atomic commit point; everything after
        it (hint, snapshot) is best-effort derived data."""
        new = apply_delta(parent, delta, self.commit_retention, self.id_retention)
        if not self.fs.create_exclusive(self.delta_path(delta.version), delta.to_json()):
            raise ConcurrentCommitError(
                f"log position {delta.version} already committed by another "
                f"writer; reload the manifest and retry the batch"
            )
        self._cache = new
        self.fs.write_text(self.current_path, str(new.version))  # hint only
        if delta.version % self.snapshot_interval == 0:
            # deterministic content per version — racing writers can
            # only write identical bytes, so ignore create conflicts
            self.fs.create_exclusive(self.snapshot_path(new.version), new.to_json())
        return new.copy()

    def commit(self, manifest: Manifest) -> None:
        """Full-state commit (create() and tests use it; merge paths
        commit diffs via commit_delta). Subject to the same CAS."""
        delta = LogDelta(version=manifest.version, full_state=json.loads(manifest.to_json()))
        if not self.fs.create_exclusive(self.delta_path(delta.version), delta.to_json()):
            raise ConcurrentCommitError(
                f"log position {delta.version} already committed by another "
                f"writer; reload the manifest and retry the batch"
            )
        # cache a copy — the caller keeps a reference to `manifest` and
        # must not be able to corrupt the in-process cache through it
        self._cache = manifest.copy()
        self.fs.write_text(self.current_path, str(manifest.version))
        if manifest.version % self.snapshot_interval == 0:
            self.fs.create_exclusive(self.snapshot_path(manifest.version), manifest.to_json())

    def expire_log(self, keep_snapshots: int = 2) -> list[str]:
        """Drop log records and snapshots older than the
        ``keep_snapshots``-th newest snapshot — bounds metadata growth
        (and the time-travel horizon) like Iceberg's expire_snapshots.
        Returns removed paths."""
        snaps = self._snapshot_versions()
        if len(snaps) <= keep_snapshots:
            return []
        horizon = snaps[-keep_snapshots]
        removed = []
        for v in self._delta_versions():
            if v < horizon:
                p = self.delta_path(v)
                self.fs.delete(p)
                removed.append(p)
        for s in snaps:
            if s < horizon:
                p = self.snapshot_path(s)
                self.fs.delete(p)
                removed.append(p)
        return removed

    def referenced_files(self) -> set[str]:
        """Every data relpath referenced by ANY retained snapshot or
        log record — the GC keep-set (over-retains on purpose: a file
        referenced at any retained point in history stays readable for
        time travel until expire_log drops that history)."""
        refs: set[str] = set()

        def add_entries(entries):
            for e in entries:
                refs.add(e[0])

        for s in self._snapshot_versions():
            man = Manifest.from_json(self.fs.read_text(self.snapshot_path(s)))
            for entries in man.bucket_files.values():
                add_entries(entries)
        for v in self._delta_versions():
            d = LogDelta.from_json(self.fs.read_text(self.delta_path(v)))
            for entries in d.bucket_appends.values():
                add_entries(entries)
            for entries in d.bucket_replaces.values():
                add_entries(entries)
            if d.full_state:
                for entries in d.full_state.get("bucket_files", {}).values():
                    add_entries(entries)
        return refs

    def all_commit_records(self) -> list[CommitRecord]:
        """Full lineage from the retained log (Manifest.commits keeps
        only the recent window)."""
        out: list[CommitRecord] = []
        for v in self._delta_versions():
            d = LogDelta.from_json(self.fs.read_text(self.delta_path(v)))
            if d.full_state:
                out = [CommitRecord(**c) if isinstance(c, dict) else c
                       for c in d.full_state.get("commits", [])]
            else:
                out.extend(d.new_commits)
        return out

    @staticmethod
    def now() -> float:
        return time.time()
