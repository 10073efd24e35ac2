"""Off-critical-path table maintenance.

The 20M-event lifecycle soak (BENCH/SOAK.md) showed INLINE
auto-compaction costing up to half of sustained ingest throughput:
every fold is an O(bucket) rewrite serialized into the merge path.
This module moves the fold OFF that path: a driver-side background
thread watches delta accumulation and compacts the worst buckets
while ingest keeps committing concurrently.

Safety is by construction, not by locking: ``compact()`` commits
through the same log-position CAS as every writer. When a racing
merge wins the position, the compactor's rewrite is abandoned (its
files orphan — ``gc_orphans`` reclaims them later) and the next cycle
recomputes from fresh state; when the compactor wins, the losing MOR
merge rebases automatically (lake/table.py merge retry). Either way
no state is lost and readers always see a consistent snapshot.

Reference analogue: the reference has no maintenance story at all —
its AGO/Carto paths rebuild tables wholesale on a cron
(databridge_etl_tools/_cleanup.py:5-15 drops temp tables; index
rebuilds happen in SQL). Here maintenance is an online, incremental,
crash-safe background process, which is what a 24/7 10^10-event
ingest actually needs.
"""

from __future__ import annotations

import logging
import threading

from .manifest import ConcurrentCommitError
from .table import LakeTable, delta_heavy_buckets

_log = logging.getLogger(__name__)


class CompactionScheduler:
    """Background compactor for one table.

    Usage::

        sched = CompactionScheduler(table, threshold=16)
        sched.start()
        ...  # ingest with merge_batch(compact_threshold=10**9)
        sched.stop(drain=True)   # final fold so readers pay no resolve

    ``threshold``: delta files per bucket that trigger a fold.
    ``max_buckets_per_cycle``: bound one cycle's rewrite (worst
    offenders first), so a cycle never becomes an O(table) stall.
    ``interval_s``: poll period — manifest reads are in-process cache
    hits, so polling is microseconds when nothing changed.
    """

    def __init__(
        self,
        table: LakeTable,
        threshold: int = 16,
        max_buckets_per_cycle: int = 4,
        interval_s: float = 1.0,
        race_escalate_after: int = 20,
    ):
        self.table = table
        self.threshold = threshold
        self.max_buckets_per_cycle = max_buckets_per_cycle
        self.interval_s = interval_s
        self.cycles = 0
        self.buckets_compacted = 0
        self.races_lost = 0
        # UNEXPECTED failures (not CAS races / transient read plans):
        # counted separately and the last one kept, so a persistent
        # problem (bad config, corrupt file) is observable instead of
        # masquerading as benign race noise while deltas pile up
        self.errors = 0
        self.last_error: BaseException | None = None
        # a GENUINE read race resolves within a cycle or two once the
        # racing writer commits; this many consecutive race-classified
        # failures with zero successful cycles in between means the
        # "race" is actually persistent (e.g. a data root that was
        # deleted out from under the table) and must surface as an
        # error, not accumulate silently as race noise
        self.race_escalate_after = race_escalate_after
        self._race_streak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------- lifecycle
    def start(self) -> "CompactionScheduler":
        if self._thread is not None:
            raise RuntimeError("scheduler already started")
        self._thread = threading.Thread(
            target=self._loop, name="lake-compactor", daemon=True
        )
        self._thread.start()
        return self

    def stop(self, drain: bool = False) -> None:
        """Stop the loop. ``drain=True`` runs one final full pass so
        every bucket above threshold is folded before returning."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
            self._thread = None
        if drain:
            while self._cycle(drain=True):
                pass

    # ----------------------------------------------------------------- work
    def _cycle(self, drain: bool = False) -> bool:
        """One maintenance cycle. Returns True when work was done."""
        # terminal drain folds EVERYTHING with any delta residue
        worst = delta_heavy_buckets(self.table.manifest, 0 if drain else self.threshold)
        if not worst:
            return False
        targets = worst if drain else worst[: self.max_buckets_per_cycle]
        try:
            # single attempt: compact()'s internal CAS retry re-reads
            # and REWRITES the targets from scratch, so under active
            # ingest a contended cycle could pay up to 3 full rewrites
            # back-to-back; abandoning on first loss and letting the
            # next cycle recompute reaches the same state for at most
            # one rewrite per cycle
            self.table.compact(buckets=targets, max_commit_retries=1)
            self.cycles += 1
            self.buckets_compacted += len(targets)
            return True
        except ConcurrentCommitError:
            # a writer owned the log position this cycle — fine, the
            # next cycle recomputes from the fresh manifest
            self.races_lost += 1
            return False

    @staticmethod
    def _is_read_race(e: BaseException) -> bool:
        """Transient concurrent-maintenance races surface in two forms:
        planning-time AnalysisException (files listed from a stale
        manifest no longer exist), or EXECUTION-time task failures
        (Py4JJavaError / SparkException wrapping FileNotFoundException)
        when the files vanish after planning. Both resolve on the next
        cycle against fresh state; neither is an operator-actionable
        failure. Classified by exception text because the JVM cause
        chain is not portably typed through py4j — and ONLY by
        file-missing markers: a generic AnalysisException (column
        resolution, bad plan) is an operator-actionable error, not
        race noise, so it is deliberately NOT matched here."""
        # prefer the JVM exception CLASS CHAIN when py4j exposes it —
        # class names survive locale/version changes that message text
        # does not; fall back to text markers otherwise
        je = getattr(e, "java_exception", None)
        if je is not None:
            try:
                cause = je
                while cause is not None:
                    if "FileNotFoundException" in cause.getClass().getName():
                        return True
                    cause = cause.getCause()
            except Exception:  # noqa: BLE001 — gateway hiccups fall
                pass  # through to text matching
        msg = str(e)
        return any(
            marker in msg
            for marker in (
                "FileNotFoundException",
                "PATH_NOT_FOUND",
                "FILE_NOT_EXIST",
                "Path does not exist",
            )
        )

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            try:
                self._cycle()
                self._race_streak = 0  # any completed cycle resets it
            except Exception as e:  # noqa: BLE001 — maintenance must
                # never kill ingest, but an UNEXPECTED failure must not
                # hide as race noise either: count it, keep it, log it,
                # and keep cycling (deltas keep accumulating until an
                # operator inspects .errors/.last_error)
                if self._is_read_race(e):
                    self.races_lost += 1
                    self._race_streak += 1
                    if self._race_streak >= self.race_escalate_after:
                        # N consecutive race-classified failures with no
                        # successful cycle in between: a real race would
                        # have resolved — escalate to the error channel
                        self.errors += 1
                        self.last_error = e
                        self._race_streak = 0
                        _log.warning(
                            "compaction read-race persisted %d consecutive "
                            "cycles — escalating as error: %r",
                            self.race_escalate_after, e,
                        )
                else:
                    self.errors += 1
                    self.last_error = e
                    _log.warning("compaction cycle failed unexpectedly: %r", e)
