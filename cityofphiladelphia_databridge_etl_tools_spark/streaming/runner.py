"""LSN-window microbatch runner: the batch-mode binlog tail.

Drives :meth:`LakeTable.merge_batch` over half-open LSN windows
``(lo, hi]`` with deterministic batch ids, resuming from the commit
log after any interruption — the engine's version of the reference's
SCN RUNNING→FINISHED cursor dance (db2/db2.py:596-655), except resume
is derived, not stored separately: the committed batches ARE the
cursor, so there is no window where the cursor and the data disagree.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..lake.manifest import CommitRecord
from ..lake.table import LakeTable


class LsnWindowRunner:
    """``source(lsn_lo, lsn_hi)`` returns the change rows with
    ``lsn_lo <= lsn < lsn_hi`` (a JDBC range query, a parquet
    partition read, or a generator in tests)."""

    def __init__(
        self,
        table: LakeTable,
        source: Callable[[int, int], DataFrame],
        events_per_batch: int = 1_000_000,
        merge_kwargs: dict | None = None,
    ):
        self.table = table
        self.source = source
        self.events_per_batch = events_per_batch
        # forwarded to merge_batch — e.g. compact_threshold=10**9 to
        # disable inline folding when a CompactionScheduler owns
        # maintenance off the ingest path (lake/maintenance.py)
        self.merge_kwargs = dict(merge_kwargs or {})

    def resume_lsn(self) -> int:
        """First unprocessed lsn: the end of the CONTIGUOUS committed
        prefix (manifest.lsn_contig_hi), maintained by the metadata
        layer as windows commit. Pipelined ingest commits windows out
        of order, so after a crash the max committed hi may sit PAST an
        uncommitted gap — resuming there would silently drop the gap's
        data. Resuming at the contiguous prefix instead re-submits the
        gap; windows beyond it that already committed are skipped by
        their batch ids (exactly-once), so recovery is both lossless
        and idempotent. Empty windows also advance the prefix via
        their (committed) batch ids."""
        return self.table.manifest.lsn_contig_hi

    def run_until(
        self,
        until_lsn: int,
        pipeline_depth: int = 1,
        from_lsn: int | None = None,
    ) -> list[CommitRecord]:
        """Apply consecutive windows up to (not incl.) until_lsn.
        Safe to call after a crash mid-run: committed windows are
        skipped by their batch ids; a half-written window (files but
        no log record) is orphaned and re-merged.

        ``from_lsn`` pins the start of the window sequence instead of
        the resumed contiguous prefix — for SHARDED ingest, where each
        of several writer processes owns a disjoint ``[from, until)``
        lsn range of the same table (the commit log's CAS arbitrates
        their interleaved commits; batch ids keep re-runs
        exactly-once). Default (None) resumes a single logical stream.

        ``pipeline_depth > 1`` submits that many windows concurrently
        from driver threads, so one window's shuffle/sort/write
        overlaps another's — the scheduler interleaves their stages
        across idle slots. Delta-file appends and max-merged
        watermarks COMMUTE, so whichever writer loses the
        log-position CAS rebases and re-commits automatically
        (lake/table.py merge retry); batch ids stay the exactly-once
        guard. LWW ordering is (ts, lsn), not commit order, so the
        final state is independent of commit interleaving."""
        windows = []
        lo = self.resume_lsn() if from_lsn is None else from_lsn
        while lo < until_lsn:
            hi = min(lo + self.events_per_batch, until_lsn)
            windows.append((lo, hi))
            lo = hi

        def apply(w):
            wlo, whi = w
            return self.table.merge_batch(
                self.source(wlo, whi), f"lsn-{wlo}-{whi}",
                _lsn_window_issued=True,  # the runner OWNS the lsn-* id namespace
                **self.merge_kwargs,
            )

        if pipeline_depth <= 1:
            records = [apply(w) for w in windows]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=pipeline_depth) as ex:
                records = list(ex.map(apply, windows))
        return [r for r in records if r is not None]
