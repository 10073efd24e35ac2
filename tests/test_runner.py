"""LSN-window runner: derived resume cursor, crash-resume, skew
spreading, and lineage surface."""

import pyspark.sql.functions as F

from cityofphiladelphia_databridge_etl_tools_spark import changegen
from cityofphiladelphia_databridge_etl_tools_spark.changegen import TRANSCRIPT_SCHEMA
from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable
from cityofphiladelphia_databridge_etl_tools_spark.streaming.runner import LsnWindowRunner
from tests.test_lake_merge import assert_df_equal


def _source(spark, seed=41):
    def fetch(lo, hi):
        return changegen.changes(spark, hi - lo, seed=seed, lsn_start=lo)
    return fetch


def make_table(spark, tmp_path, n_buckets=8):
    return LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=n_buckets,
        bucket_columns=["conv_id"],
    )


def test_runner_resumes_from_commit_log(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=8,
    )
    src = _source(spark)
    r = LsnWindowRunner(t, src, events_per_batch=700)
    r.run_until(1400)
    assert r.resume_lsn() == 1400

    # "crash", new runner object (fresh process analogue) continues
    r2 = LsnWindowRunner(t, src, events_per_batch=700)
    recs = r2.run_until(2800)
    assert [c.batch_id for c in recs] == ["lsn-1400-2100", "lsn-2100-2800"]
    full = changegen.changes(spark, 2800, seed=41)
    assert_df_equal(t.read(), changegen.expected_final_state(full))

    # re-running the same range is a complete no-op
    assert LsnWindowRunner(t, src, events_per_batch=700).run_until(2800) == []


def test_pipelined_ingest_converges(spark, tmp_path):
    """pipeline_depth=3: windows merge concurrently from driver
    threads; lost CAS races rebase (MOR appends commute) and the final
    state equals the sequential replay oracle with every window's
    batch id committed exactly once."""
    t = make_table(spark, tmp_path)
    full = changegen.changes(spark, 2000, seed=61)

    def source(lo, hi):
        return full.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))

    runner = LsnWindowRunner(t, source, events_per_batch=250)
    recs = runner.run_until(2000, pipeline_depth=3)
    assert len(recs) == 8
    m = t.manifest
    assert {f"lsn-{k*250}-{(k+1)*250}" for k in range(8)} <= m.applied_batch_ids
    from tests.test_lake_merge import assert_df_equal
    assert_df_equal(t.read(), changegen.expected_final_state(full))
    # replay after the fact is still a no-op
    assert runner.run_until(2000, pipeline_depth=3) == []


def test_read_key_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    t = make_table(spark, tmp_path)
    stream = changegen.changes(spark, 1500, seed=62)
    t.merge_batch(stream, "b0")
    some_key = t.read().select("conv_id").first()["conv_id"]
    # spy: the lookup must prune the scan to exactly one bucket
    seen = {}
    orig_read = t.read

    def spy(buckets=None, **kw):
        if buckets is not None:
            seen["buckets"] = buckets
        return orig_read(buckets=buckets, **kw)

    t.read = spy
    orig_range = t.spark.range

    def no_jobs(*a, **k):
        raise AssertionError("read_key must not launch an auxiliary Spark job")

    t.spark.range = no_jobs  # driver-side hash only (lake/keyhash.py)
    try:
        got = t.read_key(some_key, extra_filter=F.col("turn_idx") >= 0).collect()
    finally:
        t.read = orig_read
        t.spark.range = orig_range
    assert len(seen["buckets"]) == 1
    expect = t.read().filter(F.col("conv_id") == some_key).collect()
    assert sorted(r["turn_idx"] for r in got) == sorted(r["turn_idx"] for r in expect)


def test_gc_dead_letters_expires_old_captures(spark, tmp_path):
    from cityofphiladelphia_databridge_etl_tools_spark.sources.sinks import dead_letter

    t = make_table(spark, tmp_path)
    bad = changegen.changes(spark, 50, seed=63).withColumn("_error", F.lit("x"))
    dead_letter(bad, t.store.root)
    assert t.gc_dead_letters(dry_run=True) == []  # younger than retention
    removed = t.gc_dead_letters(older_than_s=0)
    assert removed
    import os
    assert not os.path.exists(os.path.join(t.store.root, "_errors")) or not os.listdir(
        os.path.join(t.store.root, "_errors")
    )


def test_lineage_dataframe(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=8,
    )
    LsnWindowRunner(t, _source(spark), events_per_batch=500).run_until(1500)
    lin = t.lineage()
    rows = {r["batch_id"]: r for r in lin.collect()}
    assert set(rows) == {"lsn-0-500", "lsn-500-1000", "lsn-1000-1500"}
    assert rows["lsn-500-1000"]["lsn_lo"] == 500
    assert all(r["rows_in"] == 500 for r in rows.values())
    # conservation: deduped = upserted + deleted
    assert all(
        r["rows_deduped"] == r["rows_upserted"] + r["rows_deleted"] for r in rows.values()
    )


def test_hot_key_salting_spreads_files(spark, tmp_path):
    """A pathologically hot conversation must not serialize into one
    writer: with n_salt=4 its bucket gets multiple delta files (i.e.
    multiple write tasks participated)."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=8,
        bucket_columns=["conv_id"],
    )
    # every event hits conv 0; batch large enough that AQE's
    # small-partition coalescing (which rightly folds tiny test
    # batches into one task) doesn't mask the salting
    hot = changegen.changes(
        spark, 300_000, seed=44, hot_frac=1.0, n_hot=1, max_turns=50_000
    )
    t.merge_batch(hot, "hot", n_salt=4)
    m = t.manifest
    # all rows land in one bucket (single conv) ...
    assert len(m.bucket_files) == 1
    files = next(iter(m.bucket_files.values()))
    # ... but across >1 file because (conv, turn) salting spread tasks
    assert len(files) > 1, files


def test_resume_after_pipelined_crash_gap_loses_nothing(spark, tmp_path):
    """Pipelined ingest commits windows out of order. A crash that
    leaves a GAP (window 250-500 failed while 500-750 committed) must
    resume at the gap — the contiguous committed prefix — not at the
    max committed hi, or the gap's rows would be silently lost."""
    t = make_table(spark, tmp_path)
    full = changegen.changes(spark, 750, seed=91)

    def source(lo, hi):
        return full.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))

    # simulate the torn pipelined run: windows 0-250 and 500-750
    # committed, 250-500 crashed before its commit
    t.merge_batch(source(0, 250), "lsn-0-250", _lsn_window_issued=True)
    t.merge_batch(source(500, 750), "lsn-500-750", _lsn_window_issued=True)

    r = LsnWindowRunner(t, source, events_per_batch=250)
    assert r.resume_lsn() == 250  # NOT 750
    recs = r.run_until(750)
    # only the gap window actually applied; 500-750 skipped by batch id
    assert [c.batch_id for c in recs] == ["lsn-250-500"]
    assert r.resume_lsn() == 750
    assert t.manifest.lsn_pending == []
    assert_df_equal(t.read(), changegen.expected_final_state(full))
