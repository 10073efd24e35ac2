"""End-to-end lake-table merge semantics.

Mirrors the reference's invariance pattern (extract → upsert back →
recorddiff == 0/0, tests/test_postgres.py:69-86) as final-state
equality via exceptAll both ways, and extends it with the CDC
scenarios from FIXTURES.md §2: idempotent replay, out-of-order LWW,
deletes + late updates, duplicate delivery, schema evolution,
crash-resume.
"""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from cityofphiladelphia_databridge_etl_tools_spark import changegen
from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable
from cityofphiladelphia_databridge_etl_tools_spark.changegen import TRANSCRIPT_SCHEMA


def assert_df_equal(a, b):
    """Reference oracle A5: recorddiff added==0 and subtracted==0."""
    b = b.select(*a.columns)  # exceptAll is positional — align by name
    assert a.exceptAll(b).count() == 0, "rows only in engine result"
    assert b.exceptAll(a).count() == 0, "rows only in oracle result"


def make_table(spark, tmp_path, n_buckets=8):
    # conversation-locality mode: bucket by conv_id only (a pure
    # function of the key prefix) so entity reads stay single-bucket
    return LakeTable.create(
        spark,
        str(tmp_path / "transcripts"),
        TRANSCRIPT_SCHEMA,
        key_columns=["conv_id", "turn_idx"],
        order_columns=["ts", "lsn"],
        n_buckets=n_buckets,
        bucket_columns=["conv_id"],
    )


def test_single_batch_matches_oracle(spark, tmp_path):
    t = make_table(spark, tmp_path)
    stream = changegen.changes(spark, 2000, seed=1)
    rec = t.merge_batch(stream, "b1")
    assert rec is not None and rec.rows_in == 2000
    assert_df_equal(t.read(), changegen.expected_final_state(stream))


def test_multi_batch_replay_equals_reference(spark, tmp_path):
    """Split one stream into 4 lsn-window batches; applying them in
    order must equal one-shot replay of the whole stream."""
    t = make_table(spark, tmp_path)
    full = changegen.changes(spark, 4000, seed=2)
    for k in range(4):
        batch = full.filter((F.col("lsn") >= k * 1000) & (F.col("lsn") < (k + 1) * 1000))
        t.merge_batch(batch, f"b{k}")
    assert_df_equal(t.read(), changegen.expected_final_state(full))
    # lineage: commit log recorded all four batches with lsn ranges
    m = t.manifest
    assert [c.batch_id for c in m.commits] == ["b0", "b1", "b2", "b3"]
    assert m.commits[2].lsn_lo >= 2000 and m.commits[2].lsn_hi < 3000


def test_idempotent_batch_replay(spark, tmp_path):
    """Re-delivering a committed batch_id is a no-op (exactly-once;
    ref: SCN RUNNING→FINISHED watermark, db2/db2.py:596-655)."""
    t = make_table(spark, tmp_path)
    stream = changegen.changes(spark, 1000, seed=3)
    assert t.merge_batch(stream, "b1") is not None
    v = t.manifest.version
    assert t.merge_batch(stream, "b1") is None  # replay ignored
    assert t.manifest.version == v
    assert_df_equal(t.read(), changegen.expected_final_state(stream))


def test_duplicate_events_within_batch(spark, tmp_path):
    """Same-lsn duplicate delivery collapses (at-least-once → effective
    exactly-once; ref: ago/ago.py:786-822 doubled-up reconciliation)."""
    t = make_table(spark, tmp_path)
    stream = changegen.changes(spark, 1000, seed=4)
    dup = changegen.with_duplicates(stream, every_n=5)
    t.merge_batch(dup, "b1")
    assert_df_equal(t.read(), changegen.expected_final_state(stream))


def test_out_of_order_ts_lww(spark, tmp_path):
    """A later-lsn batch carrying an OLDER ts for a key must lose."""
    t = make_table(spark, tmp_path)
    rows = [
        ("c1", 0, "user", "v-new", None, "2024-01-01 10:00:00", 1, "I"),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts string, lsn long, op string"
    b1 = spark.createDataFrame(rows, schema).withColumn("ts", F.col("ts").cast("timestamp"))
    t.merge_batch(b1, "b1")
    late = spark.createDataFrame(
        [("c1", 0, "user", "v-stale", None, "2024-01-01 09:00:00", 2, "U")], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t.merge_batch(late, "b2")
    out = t.read().collect()
    assert len(out) == 1 and out[0]["text"] == "v-new"


def test_delete_then_late_update_stays_deleted(spark, tmp_path):
    """Tombstone retains (ts,lsn): an update older than the delete must
    NOT resurrect the row — stronger than the reference's destructive
    DELETE."""
    t = make_table(spark, tmp_path)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts string, lsn long, op string"

    def df(rows):
        return spark.createDataFrame(rows, schema).withColumn("ts", F.col("ts").cast("timestamp"))

    t.merge_batch(df([("c1", 0, "user", "hello", None, "2024-01-01 10:00:00", 1, "I")]), "b1")
    t.compact()  # the row to delete is a BASE row
    assert [e[2] for v in t.manifest.bucket_files.values() for e in v] == ["base"]
    t.merge_batch(df([("c1", 0, None, None, None, "2024-01-01 12:00:00", 2, "D")]), "b2")
    t.merge_batch(df([("c1", 0, "user", "late", None, "2024-01-01 11:00:00", 3, "U")]), "b3")
    assert t.read().count() == 0
    t.compact()  # the fold keeps the tombstone, which still wins
    assert t.read().count() == 0
    # ...but a genuinely newer update does resurrect
    t.merge_batch(df([("c1", 0, "user", "reborn", None, "2024-01-01 13:00:00", 4, "U")]), "b4")
    out = t.read().collect()
    assert len(out) == 1 and out[0]["text"] == "reborn"


def test_schema_evolution_add_column_and_widening(spark, tmp_path):
    """Batches without `tool` first, then with it; plus int→long
    widening on turn_idx-like column (ref: newcol tolerance,
    tests/test_postgres.py:33; mapping dicts postgres.py:203-228)."""
    narrow = T.StructType([f for f in TRANSCRIPT_SCHEMA.fields if f.name != "tool"])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), narrow,
        key_columns=["conv_id", "turn_idx"], order_columns=["ts", "lsn"], n_buckets=4,
    )
    pre = changegen.changes(spark, 500, seed=5, with_tool_col=False)
    t.merge_batch(pre, "b1")
    assert "tool" not in t.read().columns

    post = changegen.changes(spark, 500, seed=5, with_tool_col=True, lsn_start=500)
    t.merge_batch(post, "b2")
    got = t.read()
    assert "tool" in got.columns
    # old rows surface null tool; full state equals the LWW replay of both
    full = pre.withColumn("tool", F.lit(None).cast("string")).select(*post.columns).unionByName(post)
    assert_df_equal(got.select(*full.drop("op").columns), changegen.expected_final_state(full))


def test_schema_widening_int_to_long(spark, tmp_path):
    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema,
                         key_columns=["conv_id", "turn_idx"], order_columns=["ts", "lsn"], n_buckets=2)
    mk = "conv_id string, turn_idx int, n int, ts timestamp, lsn long, op string"
    b1 = spark.createDataFrame([("c", 0, 5, None, 1, "I")], mk)
    t.merge_batch(b1, "b1")
    wide = "conv_id string, turn_idx int, n long, ts timestamp, lsn long, op string"
    b2 = spark.createDataFrame([("c", 1, 2**40, None, 2, "I")], wide)
    t.merge_batch(b2, "b2")
    got = t.read()
    assert dict(got.dtypes)["n"] == "bigint"
    assert {r["n"] for r in got.collect()} == {5, 2**40}


def test_crash_resume_reconverges(spark, tmp_path):
    """Crash between file write and pointer flip leaves orphan files;
    replaying the batch converges to the same state (ref rollback:
    oracle/oracle.py:401-406)."""
    t = make_table(spark, tmp_path)
    stream = changegen.changes(spark, 1000, seed=6)
    b1 = stream.filter(F.col("lsn") < 500)
    b2 = stream.filter(F.col("lsn") >= 500)
    t.merge_batch(b1, "b1")

    # simulate crash: do the heavy work of b2 but never flip CURRENT
    import os
    snap = os.path.join(t.store.root, "data/snap-crashed-deadbeef")
    b2.limit(100).write.parquet(snap)  # orphan files no manifest references

    assert t.manifest.applied_batch_ids == {"b1"}
    t.merge_batch(b2, "b2")  # the "restart" replays b2
    assert_df_equal(t.read(), changegen.expected_final_state(stream))


def test_overwrite_full_refresh(spark, tmp_path):
    """Truncate-and-reload semantics (ref: postgres.py:421-448,
    carto replace-and-swap carto_.py:471-490) incl. delete-stale."""
    t = make_table(spark, tmp_path)
    t.merge_batch(changegen.changes(spark, 1000, seed=7), "b1")
    fresh = changegen.initial_snapshot(spark, n_convs=20, max_turns=5).drop("op")
    t.overwrite_full(fresh, "refresh-1")
    got = t.read()
    expect = changegen.expected_final_state(fresh.withColumn("op", F.lit("I")))
    assert_df_equal(got, expect)


def test_mor_auto_compaction_bounds_deltas(spark, tmp_path):
    """MOR deltas accumulate per bucket until compact_threshold, then
    the offending buckets fold to base — state never changes."""
    t = make_table(spark, tmp_path, n_buckets=2)
    full = changegen.changes(spark, 1200, seed=12)
    for k in range(12):
        t.merge_batch(
            full.filter((F.col("lsn") >= k * 100) & (F.col("lsn") < (k + 1) * 100)),
            f"b{k}", compact_threshold=4,
        )
    m = t.manifest
    for b, entries in m.bucket_files.items():
        n_delta = sum(1 for e in entries if e[2] == "delta")
        assert n_delta <= 4 + 1, f"bucket {b} has {n_delta} deltas"
    assert_df_equal(t.read(), changegen.expected_final_state(full))


def test_auto_compaction_is_amortized(spark, tmp_path):
    """When many buckets cross the threshold at once, each merge folds
    at most max_auto_compact_buckets (the worst offenders) — wide
    ingest never stalls behind an O(table) inline rewrite."""
    t = make_table(spark, tmp_path, n_buckets=8)
    calls = []
    orig = t.compact

    def spy(buckets=None, **kw):
        calls.append(list(buckets or []))
        return orig(buckets=buckets, **kw)

    t.compact = spy
    full = changegen.changes(spark, 1600, seed=84)
    try:
        for k in range(4):
            t.merge_batch(
                full.filter((F.col("lsn") >= k * 400) & (F.col("lsn") < (k + 1) * 400)),
                f"b{k}", compact_threshold=1, max_auto_compact_buckets=2,
            )
    finally:
        t.compact = orig
    assert calls, "auto-compaction never triggered"
    assert all(len(c) <= 2 for c in calls), calls
    assert_df_equal(t.read(), changegen.expected_final_state(full))


def test_compact_preserves_state(spark, tmp_path):
    t = make_table(spark, tmp_path)
    full = changegen.changes(spark, 2000, seed=8)
    for k in range(4):
        t.merge_batch(full.filter((F.col("lsn") >= k * 500) & (F.col("lsn") < (k + 1) * 500)), f"b{k}")
    before = t.read()
    n_files_before = sum(len(v) for v in t.manifest.bucket_files.values())
    t.compact(gc_tombstones=True)  # explicit opt-in: GC is off by default
    after = t.read()
    assert_df_equal(before, after)
    n_files_after = sum(len(v) for v in t.manifest.bucket_files.values())
    assert n_files_after <= n_files_before
    # tombstones gone
    assert t.read(include_deleted=True).filter(F.col("_deleted")).count() == 0


def test_rebucket_resizes_and_stays_consistent(spark, tmp_path):
    """Growing a table 1000x means the create-time bucket count is
    wrong: rebucket() rewrites under a new key→bucket function; state,
    pruned reads, the change feed, and subsequent merges all keep
    working against the new layout."""
    t = make_table(spark, tmp_path, n_buckets=2)
    stream = changegen.changes(spark, 1500, seed=83)
    t.merge_batch(stream.filter(F.col("lsn") < 1000), "b0")
    before = t.read()

    t.rebucket(8)
    m = t.manifest
    assert m.n_buckets == 8
    assert len(m.bucket_files) > 2  # data really spread over new buckets
    assert_df_equal(t.read(), before)
    # pruned point lookup works against the new bucket function
    k = before.select("conv_id").first()["conv_id"]
    assert t.read_key(k).count() == before.filter(F.col("conv_id") == k).count()
    # merging continues against the new layout, exactly-once intact
    t.merge_batch(stream.filter(F.col("lsn") >= 1000), "b1")
    assert t.merge_batch(stream.filter(F.col("lsn") >= 1000), "b1") is None
    assert_df_equal(t.read(), changegen.expected_final_state(stream))
    # change feed past the rebucket still serves (rebucketed base files
    # carry order-column ranges from the distributed stats pass)
    assert t.changes_since(999).count() > 0


def test_compact_sort_by_reorders_files_for_range_scans(spark, tmp_path):
    """compact(sort_by=['ts']) re-sorts rows within each rewritten
    file so parquet min/max stats prune ts-range scans — state is
    unchanged (LWW never depends on file order)."""
    t = make_table(spark, tmp_path, n_buckets=2)
    full = changegen.changes(spark, 1000, seed=82)
    t.merge_batch(full, "b0")
    before = t.read()
    t.compact(sort_by=["ts"])
    assert_df_equal(t.read(), before)
    # within every file, ts is non-decreasing
    got = t.read(include_deleted=True)
    from pyspark.sql import Window
    chk = (
        t.spark.read.parquet(*[
            f"{t.store.root}/{e[0]}"
            for entries in t.manifest.bucket_files.values() for e in entries
        ])
        .select(F.input_file_name().alias("f"), "ts")
        .withColumn("prev", F.lag("ts").over(
            Window.partitionBy("f").orderBy(F.monotonically_increasing_id())))
        .filter(F.col("prev").isNotNull() & (F.col("ts") < F.col("prev")))
    )
    assert chk.count() == 0
    assert got.count() >= before.count()


def test_extract_upsert_roundtrip_invariance(spark, tmp_path):
    """The reference's key invariance test (tests/test_postgres.py:83-86):
    extract the table, upsert the extract back into itself, re-extract
    → recorddiff added==0 and subtracted==0."""
    t = make_table(spark, tmp_path)
    t.merge_batch(changegen.changes(spark, 1500, seed=10), "b1")
    before = t.read()
    extract = before.withColumn("op", F.lit("U"))  # the "CSV extract"
    t.merge_batch(extract, "roundtrip")
    assert_df_equal(t.read(), before)


def test_concurrent_commit_loses_cleanly(spark, tmp_path):
    """Two writers racing to the same version: exactly one wins; the
    loser gets ConcurrentCommitError, table state is the winner's, and
    a retry against the fresh manifest succeeds."""
    from cityofphiladelphia_databridge_etl_tools_spark.lake import (
        ConcurrentCommitError, LakeTable,
    )

    t = make_table(spark, tmp_path)
    writer_a = t
    writer_b = LakeTable(spark, t.store.root)  # second handle, same table
    a = changegen.changes(spark, 300, seed=95)
    b = changegen.changes(spark, 300, seed=96, lsn_start=1000)
    writer_a.merge_batch(a, "a-1")
    # writer_b raced from the SAME base manifest: simulate by crafting
    # its commit against the stale version (version file now exists)
    import pytest as _pytest
    stale = writer_b.store.read_current()  # fresh is fine; force stale:
    stale.version -= 1
    with _pytest.raises(ConcurrentCommitError):
        writer_b.store.commit(stale)
    # clean retry on the fresh manifest works
    rec = writer_b.merge_batch(b, "b-1")
    assert rec is not None
    full = a.unionByName(b)
    assert_df_equal(t.read(), changegen.expected_final_state(full))


def test_mor_lost_race_rebases_automatically(spark, tmp_path):
    """A MOR writer that loses the commit CAS rebases its (commuting)
    file appends onto the winner's manifest and re-commits — no replay
    needed, both batches land."""
    t = make_table(spark, tmp_path)
    other = LakeTable(spark, t.store.root)
    stream = changegen.changes(spark, 1500, seed=77)
    t.merge_batch(stream.filter(F.col("lsn") < 500), "b0")

    real = t.store.commit_delta
    fired = {"n": 0}

    def racy(parent, delta):
        if fired["n"] == 0:
            fired["n"] += 1
            # a competing writer steals this log position mid-commit
            other.merge_batch(
                stream.filter((F.col("lsn") >= 500) & (F.col("lsn") < 1000)), "race"
            )
        return real(parent, delta)

    t.store.commit_delta = racy
    try:
        rec = t.merge_batch(stream.filter(F.col("lsn") >= 1000), "b1")
    finally:
        t.store.commit_delta = real
    assert rec is not None and fired["n"] == 1
    m = t.manifest
    assert {"b0", "race", "b1"} <= m.applied_batch_ids
    assert_df_equal(t.read(), changegen.expected_final_state(stream))


def test_timestamp_only_order_columns(spark, tmp_path):
    """A table ordered purely by timestamp (no integer LSN) merges and
    reads correctly; watermarks/file-skipping degrade gracefully to
    disabled instead of crashing on int() of a datetime."""
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema,
                         key_columns=["k"], order_columns=["ts"], n_buckets=2)
    mk = "k string, v string, ts string, op string"

    def df(rows):
        return spark.createDataFrame(rows, mk).withColumn("ts", F.col("ts").cast("timestamp"))

    rec = t.merge_batch(df([("a", "v1", "2024-01-01 10:00:00", "I"),
                            ("b", "v1", "2024-01-01 10:00:00", "I")]), "b1")
    assert rec is not None and rec.lsn_hi == -1  # no integer watermark
    t.merge_batch(df([("a", "v2", "2024-01-02 10:00:00", "U"),
                      ("b", None, "2024-01-02 11:00:00", "D")]), "b2")
    out = {r["k"]: r["v"] for r in t.read().collect()}
    assert out == {"a": "v2"}
    assert t.manifest.watermarks == {}


def test_schema_evolving_batch_does_not_rebase_on_race(spark, tmp_path):
    """A batch that evolves the schema must NOT auto-rebase after a
    lost commit race (its schema version number was assigned against
    the old manifest) — it raises for a clean replay, and the replay
    against fresh state succeeds."""
    from cityofphiladelphia_databridge_etl_tools_spark.lake import ConcurrentCommitError

    t = make_table(spark, tmp_path)
    other = LakeTable(spark, t.store.root)
    stream = changegen.changes(spark, 600, seed=81)
    t.merge_batch(stream.filter(F.col("lsn") < 200), "b0")

    evolving = stream.filter(F.col("lsn") >= 400).withColumn("extra", F.lit("x"))
    real = t.store.commit_delta
    fired = {"n": 0}

    def racy(parent, delta):
        if fired["n"] == 0:
            fired["n"] += 1
            other.merge_batch(
                stream.filter((F.col("lsn") >= 200) & (F.col("lsn") < 400)), "race"
            )
        return real(parent, delta)

    t.store.commit_delta = racy
    try:
        with pytest.raises(ConcurrentCommitError):
            t.merge_batch(evolving, "b-evolve")
    finally:
        t.store.commit_delta = real
    # replay against the fresh manifest converges, schema evolves once
    assert t.merge_batch(evolving, "b-evolve") is not None
    assert "extra" in t.read().columns
    full = stream.withColumn(
        "extra", F.when(F.col("lsn") >= 400, "x").otherwise(F.lit(None))
    )
    assert_df_equal(t.read(), changegen.expected_final_state(full))


def test_stale_hint_is_recovered_from_log(spark, tmp_path):
    """CURRENT is advisory: a reader whose hint lags (torn commit)
    still sees every committed batch, and replaying one is a no-op —
    the wedge the round-1 pointer-flip design had is impossible."""
    t = make_table(spark, tmp_path)
    stream = changegen.changes(spark, 1000, seed=78)
    b1, b2 = stream.filter(F.col("lsn") < 500), stream.filter(F.col("lsn") >= 500)
    t.merge_batch(b1, "b1")
    t.merge_batch(b2, "b2")
    # simulate the torn commit: roll the hint back; the log is intact
    t.store.fs.write_text(t.store.current_path, "1")
    fresh = LakeTable(spark, t.store.root)  # cold cache, stale hint
    assert fresh.manifest.applied_batch_ids == {"b1", "b2"}
    assert fresh.merge_batch(b2, "b2") is None  # replay: exactly-once holds
    assert_df_equal(fresh.read(), changegen.expected_final_state(stream))


def test_per_turn_text_equality(spark, tmp_path):
    """The input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering vs the oracle replay."""
    t = make_table(spark, tmp_path)
    stream = changegen.changes(spark, 3000, seed=9)
    for k in range(3):
        t.merge_batch(stream.filter((F.col("lsn") >= k * 1000) & (F.col("lsn") < (k + 1) * 1000)), f"b{k}")
    mine = [r["text"] for r in t.read().orderBy("conv_id", "turn_idx").select("text").collect()]
    oracle = [
        r["text"]
        for r in changegen.expected_final_state(stream).orderBy("conv_id", "turn_idx").select("text").collect()
    ]
    assert mine == oracle


def test_mor_lost_race_to_rebucket_refuses_rebase(spark, tmp_path):
    """If the race winner changed the bucket COUNT, the loser's files
    are bucketed under the old modulus — rebasing would poison every
    bucket-pruned read. It must raise for a clean restage instead."""
    from cityofphiladelphia_databridge_etl_tools_spark.lake import ConcurrentCommitError

    t = make_table(spark, tmp_path)
    other = LakeTable(spark, t.store.root)
    stream = changegen.changes(spark, 900, seed=83)
    t.merge_batch(stream.filter(F.col("lsn") < 300), "b0")

    real = t.store.commit_delta
    fired = {"n": 0}

    def racy(parent, delta):
        if fired["n"] == 0:
            fired["n"] += 1
            other.rebucket(16)  # the race winner changes the modulus
        return real(parent, delta)

    t.store.commit_delta = racy
    try:
        with pytest.raises(ConcurrentCommitError):
            t.merge_batch(stream.filter(F.col("lsn") >= 300), "b1")
    finally:
        t.store.commit_delta = real
    # the replay against fresh (16-bucket) state reconverges
    assert t.merge_batch(stream.filter(F.col("lsn") >= 300), "b1") is not None
    assert_df_equal(t.read(), changegen.expected_final_state(stream))


def test_bare_tombstone_gc_without_watermarks_records_sentinel(spark, tmp_path):
    """Bare gc_tombstones on a table with NO integer watermarks still
    purges every tombstone — the GC horizon must record that (sentinel)
    so strict changes_since refuses instead of silently missing
    deletes, and registered cursors block the GC outright."""
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema,
                         key_columns=["k"], order_columns=["ts"], n_buckets=2)
    mk = "k string, v string, ts string, op string"

    def df(rows):
        return spark.createDataFrame(rows, mk).withColumn("ts", F.col("ts").cast("timestamp"))

    t.merge_batch(df([("a", "v1", "2024-01-01 10:00:00", "I"),
                      ("b", "v1", "2024-01-01 10:00:00", "I")]), "b1")
    t.merge_batch(df([("b", None, "2024-01-02 11:00:00", "D")]), "b2")
    assert t.manifest.watermarks == {}

    # a registered consumer blocks the unbounded GC
    t.register_cursor("feed", 0)
    with pytest.raises(ValueError, match="tombstone GC"):
        t.compact(gc_tombstones=True)

    t.compact(gc_tombstones=True, force=True)
    assert t.manifest.tombstone_gc_lsn > 0  # sentinel recorded
    with pytest.raises(ValueError, match="GC horizon"):
        t.changes_since(10**9)
    # non-strict consumers still get the upserts-only feed
    assert t.changes_since(-1, strict=False).count() >= 1
    out = {r["k"]: r["v"] for r in t.read().collect()}
    assert out == {"a": "v1"}


def test_changes_since_with_string_order_stats_does_not_raise(spark, tmp_path):
    """A table whose LAST order column is string-typed records string
    per-file stats; manifest-level file skipping must degrade to
    'cannot skip' (include the file), not raise ValueError."""
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("seq", T.StringType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema,
                         key_columns=["k"], order_columns=["seq"], n_buckets=2)
    t.merge_batch(
        spark.createDataFrame([("a", "v1", "x-001", "I")], "k string, v string, seq string, op string"),
        "b1",
    )
    m = t.manifest
    # per-file hi stats really are strings (the degraded case)
    his = [e[4] for entries in m.bucket_files.values() for e in entries]
    assert any(isinstance(h, str) for h in his)
    paths = t._files_newer_than(m, 0)
    assert sum(len(v) for v in paths.values()) == len(his)  # nothing skipped


def test_composite_bucketing_spreads_low_cardinality_first_key(spark, tmp_path):
    """Default bucketing hashes ALL key columns: a table whose FIRST
    key column has 2 distinct values (e.g. dept) must still spread
    over (nearly) all buckets, not collapse into 2 — the round-2
    failure mode of keys[0]-only hashing."""
    schema = T.StructType([
        T.StructField("dept", T.StringType(), False),
        T.StructField("emp_id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema,
                         key_columns=["dept", "emp_id"], order_columns=["lsn"],
                         n_buckets=16)
    assert t.manifest.effective_bucket_columns == ["dept", "emp_id"]
    rows = [(("eng" if i % 2 else "ops"), i, f"v{i}", i) for i in range(2000)]
    df = spark.createDataFrame(rows, "dept string, emp_id long, v string, lsn long")
    t.merge_batch(df.withColumn("op", F.lit("I")), "b0")
    m = t.manifest
    assert len(m.bucket_files) >= 12, f"collapsed into {len(m.bucket_files)} buckets"
    # full-key point lookup: driver-side hash, single pruned bucket
    got = t.read_key(("eng", 1001)).collect()
    assert len(got) == 1 and got[0]["v"] == "v1001"
    # dict form and wrong-arity validation
    assert t.read_key({"dept": "ops", "emp_id": 1000}).count() == 1
    with pytest.raises(ValueError, match="one value per bucket column"):
        t.read_key("eng")


def test_rebucket_migrates_to_composite_bucket_columns(spark, tmp_path):
    """rebucket(n, bucket_columns=...) is the migration path from
    legacy single-column bucketing to composite hashing: state is
    unchanged, pruning and merges keep working under the new
    function."""
    t = make_table(spark, tmp_path, n_buckets=4)  # bucket_columns=["conv_id"]
    stream = changegen.changes(spark, 1200, seed=87)
    t.merge_batch(stream.filter(F.col("lsn") < 800), "b0")
    before = t.read()
    t.rebucket(8, bucket_columns=["conv_id", "turn_idx"])
    m = t.manifest
    assert m.n_buckets == 8 and m.effective_bucket_columns == ["conv_id", "turn_idx"]
    assert_df_equal(t.read(), before)
    # point lookup now takes the full composite key
    r = before.first()
    got = t.read_key((r["conv_id"], r["turn_idx"])).collect()
    assert len(got) == 1 and got[0]["text"] == r["text"]
    # merges continue under the new function; final state matches oracle
    t.merge_batch(stream.filter(F.col("lsn") >= 800), "b1")
    assert_df_equal(t.read(), changegen.expected_final_state(stream))


def test_driver_side_hash_matches_spark_xxhash64(spark):
    """lake/keyhash.py must agree with F.xxhash64 BIT-FOR-BIT on the
    key types tables use (string, int-family, long) and on multi-column
    seed chaining — otherwise read_key prunes to the wrong bucket."""
    import random
    import string as _string

    from cityofphiladelphia_databridge_etl_tools_spark.lake.keyhash import xxhash64

    random.seed(99)
    rows = [
        (
            "".join(random.choices(_string.printable + "é¢€漢", k=random.randint(0, 80))),
            random.randint(-2**31, 2**31 - 1),
            random.randint(-2**62, 2**62),
        )
        for _ in range(60)
    ]
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
    ]))
    got = df.select(
        "s", "i", "l",
        F.xxhash64("s").alias("hs"), F.xxhash64("i").alias("hi"),
        F.xxhash64("l").alias("hl"), F.xxhash64("s", "i", "l").alias("hm"),
    ).collect()
    for r in got:
        assert xxhash64(r["s"]) == r["hs"]
        assert xxhash64(("int", r["i"])) == r["hi"]
        assert xxhash64(r["l"]) == r["hl"]
        assert xxhash64(r["s"], ("int", r["i"]), r["l"]) == r["hm"]


def test_background_compaction_scheduler_off_path(spark, tmp_path):
    """Inline compaction disabled (threshold=inf), a background
    CompactionScheduler folds deltas CONCURRENTLY with pipelined
    ingest: final state still equals the replay oracle, the scheduler
    did real work, and a drain leaves no delta residue (reads are
    window-free)."""
    from cityofphiladelphia_databridge_etl_tools_spark.lake import CompactionScheduler
    from cityofphiladelphia_databridge_etl_tools_spark.streaming.runner import LsnWindowRunner

    t = make_table(spark, tmp_path, n_buckets=4)
    full = changegen.changes(spark, 3000, seed=93)

    def src(lo, hi):
        return full.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))

    sched = CompactionScheduler(t, threshold=3, interval_s=0.2).start()
    try:
        runner = LsnWindowRunner(t, src, events_per_batch=150)

        def apply(w):
            wlo, whi = w
            return t.merge_batch(
                src(wlo, whi), f"lsn-{wlo}-{whi}",
                compact_threshold=10**9,  # inline folding OFF — scheduler owns it
                _lsn_window_issued=True,
            )

        from concurrent.futures import ThreadPoolExecutor
        windows = [(k * 150, (k + 1) * 150) for k in range(20)]
        with ThreadPoolExecutor(max_workers=3) as ex:
            list(ex.map(apply, windows))
    finally:
        sched.stop(drain=True)
    assert sched.buckets_compacted > 0, "scheduler never did any work"
    m = t.manifest
    assert not any(e[2] == "delta" for v in m.bucket_files.values() for e in v)
    assert_df_equal(t.read(), changegen.expected_final_state(full))
    # every window committed exactly once despite concurrent compaction
    assert {f"lsn-{k*150}-{(k+1)*150}" for k in range(20)} <= m.applied_batch_ids


def test_compact_zorder_files_narrow_in_both_dimensions(spark, tmp_path):
    """compact(zorder_by=[ts, turn_idx]) + range partitioning must
    leave every file simultaneously NARROW in both dimensions (the
    2-d pruning property), where a plain ts sort leaves turn_idx
    full-width per file. State must be unchanged."""
    t = make_table(spark, tmp_path, n_buckets=1)
    full = changegen.changes(spark, 4000, seed=95, n_convs=400, max_turns=64)
    t.merge_batch(full, "b0")
    before = t.read()

    def file_ranges(tbl):
        paths = [f"{tbl.store.root}/{e[0]}"
                 for v in tbl.manifest.bucket_files.values() for e in v]
        rows = (
            spark.read.parquet(*paths)
            .select(F.input_file_name().alias("f"), "ts", "turn_idx")
            .groupBy("f")
            .agg(F.min("ts").alias("ts_lo"), F.max("ts").alias("ts_hi"),
                 F.min("turn_idx").alias("ti_lo"), F.max("turn_idx").alias("ti_hi"))
            .collect()
        )
        all_ts = [x for r in rows for x in (r["ts_lo"], r["ts_hi"])]
        ts_span = (max(all_ts) - min(all_ts)).total_seconds() or 1.0
        ti_span = max(r["ti_hi"] for r in rows) - min(r["ti_lo"] for r in rows) or 1
        ts_frac = sum((r["ts_hi"] - r["ts_lo"]).total_seconds() / ts_span for r in rows) / len(rows)
        ti_frac = sum((r["ti_hi"] - r["ti_lo"]) / ti_span for r in rows) / len(rows)
        return len(rows), ts_frac, ti_frac

    t.compact(sort_by=["ts"])
    n1, ts1, ti1 = file_ranges(t)
    assert_df_equal(t.read(), before)

    t.compact(zorder_by=["ts", "turn_idx"])
    n2, ts2, ti2 = file_ranges(t)
    assert_df_equal(t.read(), before)

    if n1 > 1 and n2 > 1:
        # lexicographic ts sort: disjoint ts ranges, full-width turn_idx
        assert ts1 < 0.7, (n1, ts1, ti1)
        assert ti1 > 0.7, (n1, ts1, ti1)
        # z-order: BOTH dimensions narrow per file
        assert ts2 < 0.8 and ti2 < 0.8, (n2, ts2, ti2)
        assert ti2 < ti1


def test_read_range_prunes_files_by_manifest_stats(spark, tmp_path):
    """Manifest-level range pruning: with stats_columns=['ts'] and a
    ts-sorted compaction (disjoint per-file ranges), a mid-range scan
    must open strictly fewer files than the table holds while
    returning EXACTLY read().filter(...). After new (uncompacted)
    deltas arrive, those buckets read fully — results stay exact."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        key_columns=["conv_id", "turn_idx"], order_columns=["ts", "lsn"],
        n_buckets=2, bucket_columns=["conv_id"], stats_columns=["ts"],
    )
    full = changegen.changes(spark, 3000, seed=97)
    t.merge_batch(full.filter(F.col("lsn") < 2000), "b0")
    t.compact(sort_by=["ts"])

    bounds = t.read().agg(F.min("ts"), F.max("ts")).collect()[0]
    t0, t1 = bounds[0], bounds[1]
    span = t1 - t0
    lo, hi = t0 + span / 3, t0 + 2 * span / 3

    st = {}
    got = t.read_range("ts", lo, hi, stats=st)
    expect = t.read().filter((F.col("ts") >= lo) & (F.col("ts") <= hi))
    assert_df_equal(got, expect)
    assert st["files_total"] > 1
    assert st["files_read"] < st["files_total"], st  # pruning really happened

    # stats survive the manifest JSON roundtrip (cold reader)
    cold = LakeTable(spark, t.store.root)
    st2 = {}
    assert_df_equal(cold.read_range("ts", lo, hi, stats=st2), expect)
    assert st2["files_read"] == st["files_read"]

    # new deltas: affected buckets lose file pruning but never accuracy
    t.merge_batch(full.filter(F.col("lsn") >= 2000), "b1")
    got2 = t.read_range("ts", lo, hi)
    expect2 = t.read().filter((F.col("ts") >= lo) & (F.col("ts") <= hi))
    assert_df_equal(got2, expect2)


def test_lsn_batch_id_namespace_is_reserved(spark, tmp_path):
    """The lsn-<lo>-<hi> id namespace resolves exactly-once against the
    structural window cursor, so a caller-invented 'lsn-0-100' for an
    unrelated source would be silently skipped once the cursor passes
    100 — permanent data loss. merge_batch must reject it up front
    (ADVICE r3); the runner (which owns the namespace) still works, and
    non-matching ids are unaffected."""
    t = make_table(spark, tmp_path)
    ch = changegen.changes(spark, 100, seed=77)
    with pytest.raises(ValueError, match="reserved"):
        t.merge_batch(ch, "lsn-0-100")
    # non-colliding ids pass; lsn-ish-but-not-matching ids pass too
    assert t.merge_batch(ch, "my-lsn-0-100") is not None
    assert t.merge_batch(ch, "lsn-0-100-x") is not None
    # the runner's own issuance is allowed
    assert t.merge_batch(ch, "lsn-0-100", _lsn_window_issued=True) is not None


def test_compaction_scheduler_surfaces_unexpected_errors(spark, tmp_path):
    """A persistent failure inside the maintenance loop must NOT be
    counted as benign race noise: it lands in .errors/.last_error
    (ADVICE r3) while races_lost stays for CAS/read races only."""
    import time as _time

    from cityofphiladelphia_databridge_etl_tools_spark.lake.maintenance import (
        CompactionScheduler,
    )

    t = make_table(spark, tmp_path)
    t.merge_batch(changegen.changes(spark, 200, seed=78), "b0")
    sched = CompactionScheduler(t, threshold=0, interval_s=0.05)
    boom = RuntimeError("persistent failure")

    def exploding_cycle(drain=False):
        raise boom

    sched._cycle = exploding_cycle
    sched.start()
    try:
        deadline = _time.time() + 5
        while sched.errors == 0 and _time.time() < deadline:
            _time.sleep(0.05)
    finally:
        sched._stop.set()
        sched._thread.join()
        sched._thread = None
    assert sched.errors > 0
    assert sched.last_error is boom
    assert sched.races_lost == 0


def test_read_range_incomparable_bound_degrades_to_no_prune(spark, tmp_path):
    """A bound whose type can't compare against recorded stats (e.g.
    string bound vs int lsn stats) must degrade to 'cannot prune' —
    same rows, zero files skipped — not raise TypeError during
    driver-side planning (ADVICE r3)."""
    t = LakeTable.create(
        spark, str(tmp_path / "rr"), TRANSCRIPT_SCHEMA,
        key_columns=["conv_id", "turn_idx"], order_columns=["ts", "lsn"],
        n_buckets=2, stats_columns=["lsn"],
    )
    ch = changegen.changes(spark, 300, seed=79)
    t.merge_batch(ch, "b0")
    t.compact(sort_by=["lsn"])
    stats = {}
    # int bounds prune normally
    pruned = t.read_range("lsn", lo=0, hi=10, stats=stats)
    assert stats["files_read"] <= stats["files_total"]
    n_match = pruned.count()
    # incomparable (string) bound: no crash, no pruning, exact result
    # via the row-level filter (string-vs-long comparison yields the
    # same rows after Spark's implicit cast)
    stats2 = {}
    out = t.read_range("lsn", lo="0", hi="10", stats=stats2)
    assert stats2["files_read"] == stats2["files_total"]
    assert out.count() >= 0  # planning + execution both survive


def test_create_forwards_and_persists_id_retention(spark, tmp_path):
    """ADVICE r4: LakeTable.create(id_retention=...) both configures
    the returned handle AND persists the window in the manifest, so a
    handle opened later with the DEFAULT ctor value still truncates
    applied_ids with the created window."""
    t = LakeTable.create(
        spark, str(tmp_path / "ret"), TRANSCRIPT_SCHEMA,
        key_columns=["conv_id", "turn_idx"], order_columns=["ts", "lsn"],
        n_buckets=4, bucket_columns=["conv_id"], id_retention=2,
    )
    assert t.manifest.id_retention == 2
    for k in range(4):
        t.merge_batch(changegen.changes(spark, 50, seed=90 + k), f"rb-{k}")
    assert len(t.manifest.applied_ids) == 2

    other = LakeTable(spark, str(tmp_path / "ret"))  # default ctor window
    other.merge_batch(changegen.changes(spark, 50, seed=99), "rb-x")
    assert len(other.manifest.applied_ids) == 2  # persisted window wins


def test_read_race_classifier_is_file_missing_only(spark, tmp_path):
    """ADVICE r4: _is_read_race must classify ONLY file-missing shapes
    as benign race noise — a column-resolution AnalysisException is an
    operator-actionable error and must land in .errors, and a
    persistent 'race' escalates after race_escalate_after consecutive
    failed cycles instead of incrementing races_lost forever."""
    import time as _time

    from pyspark.errors.exceptions.base import AnalysisException

    from cityofphiladelphia_databridge_etl_tools_spark.lake.maintenance import (
        CompactionScheduler,
    )

    t = make_table(spark, tmp_path)
    # classifier: file-missing shapes are races ...
    assert CompactionScheduler._is_read_race(
        Exception("java.io.FileNotFoundException: /x/y.parquet")
    )
    assert CompactionScheduler._is_read_race(
        AnalysisException("[PATH_NOT_FOUND] Path does not exist: file:/gone")
    )
    # ... but a generic AnalysisException (column resolution) is NOT
    assert not CompactionScheduler._is_read_race(
        AnalysisException(
            "[UNRESOLVED_COLUMN.WITH_SUGGESTION] A column or function "
            "parameter with name `nope` cannot be resolved."
        )
    )

    # escalation: a file-missing failure that never resolves must fire
    # the error channel after race_escalate_after consecutive cycles
    sched = CompactionScheduler(t, interval_s=0.01, race_escalate_after=5)
    boom = RuntimeError("java.io.FileNotFoundException: perpetually gone")

    def exploding_cycle(drain=False):
        raise boom

    sched._cycle = exploding_cycle
    sched.start()
    try:
        deadline = _time.time() + 5
        while sched.errors == 0 and _time.time() < deadline:
            _time.sleep(0.02)
    finally:
        sched._stop.set()
        sched._thread.join()
        sched._thread = None
    assert sched.errors >= 1
    assert sched.last_error is boom
    assert sched.races_lost >= 5  # the pre-escalation cycles still counted


def test_writes_on_object_store_fs_keep_every_row(spark, tmp_path):
    """An object store has no directories: a HEAD on a prefix finds
    nothing even after files were written under it. A MOR merge and a
    plain-fold compact() must decide "nothing was written" from the
    write's own row count, not from such a probe, or they commit the
    batch (or the fold) with zero files."""
    import os

    from cityofphiladelphia_databridge_etl_tools_spark.lake.fs import LocalFS

    class NoDirsFS(LocalFS):
        def exists(self, path):
            return os.path.exists(path) and not os.path.isdir(path)

    t = make_table(spark, tmp_path)
    t.store.fs = NoDirsFS()
    stream = changegen.changes(spark, 1000, seed=87)
    want = changegen.expected_final_state(stream)
    for k in range(2):
        t.merge_batch(stream.filter((F.col("lsn") >= k * 500) & (F.col("lsn") < (k + 1) * 500)), f"b{k}")
    assert_df_equal(t.read(), want)
    t.compact()
    assert all(e[2] == "base" for v in t.manifest.bucket_files.values() for e in v)
    assert_df_equal(t.read(), want)


def test_merge_plan_follows_table_shape(spark, tmp_path):
    """One handle merges batches that change the inputs of the cached
    merge plan one step at a time: a new column (batch and stored
    schema), a key column in a narrower int type plus a missing payload
    column (batch schema only), and a new bucket count (nothing else).
    A plan reused across any step would mis-coerce or mis-bucket rows."""
    # turn_idx starts nullable, so widening a narrower batch type into
    # it leaves the stored schema as it is
    narrow = T.StructType([
        T.StructField(f.name, f.dataType, f.nullable or f.name == "turn_idx")
        for f in TRANSCRIPT_SCHEMA.fields if f.name != "tool"
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), narrow,
        key_columns=["conv_id", "turn_idx"], order_columns=["ts", "lsn"], n_buckets=4,
    )
    stream = changegen.changes(spark, 2000, seed=89)

    def window(k):
        return stream.filter((F.col("lsn") >= k * 500) & (F.col("lsn") < (k + 1) * 500))

    def short_key_no_role(df):
        return df.withColumn("turn_idx", F.col("turn_idx").cast("short")).drop("role")

    t.merge_batch(window(0).drop("tool"), "b0")
    t.merge_batch(window(1), "b1")  # adds `tool`
    schema_after_b1 = t.schema().json()
    t.merge_batch(short_key_no_role(window(2)), "b2")
    assert t.schema().json() == schema_after_b1
    t.rebucket(8)
    t.merge_batch(short_key_no_role(window(3)), "b3")

    lsn = F.col("lsn")
    applied = stream.withColumn(
        "tool", F.when(lsn >= 500, F.col("tool"))
    ).withColumn("role", F.when(lsn < 1000, F.col("role")))
    got = t.read()
    assert dict(got.dtypes)["turn_idx"] == "int"
    assert_df_equal(got, changegen.expected_final_state(applied))


def _int_keyed_table(spark, tmp_path):
    """An 8-bucket table keyed (and bucketed) on ``int k``, holding 200
    inserted keys."""
    schema = T.StructType([
        T.StructField("k", T.IntegerType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, key_columns=["k"],
                         order_columns=["lsn"], n_buckets=8)
    rows = [(i, f"a{i}", i, "I") for i in range(200)]
    t.merge_batch(spark.createDataFrame(rows, "k int, v string, lsn long, op string"), "b0")
    return t


def _long_key_updates(spark):
    rows = [(i, f"b{i}", 1000 + i, "U") for i in range(200)]
    return spark.createDataFrame(rows, "k long, v string, lsn long, op string")


def test_widening_a_bucket_column_is_refused(spark, tmp_path):
    """xxhash64 hashes an int and a long of equal value differently, so
    widening a bucket column would put new versions of a key in
    another bucket than its stored ones. merge_batch and overwrite_full
    refuse it before writing any file; table state and files stay as
    they were."""
    import os

    t = _int_keyed_table(spark, tmp_path)

    def files():
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(t.store.data_dir) for f in fs)

    before, m_before, files_before = t.read(), t.manifest.to_json(), files()
    wide = _long_key_updates(spark)
    with pytest.raises(ValueError, match="bucket column"):
        t.merge_batch(wide, "b1")
    with pytest.raises(ValueError, match="bucket column"):
        t.overwrite_full(wide.drop("op"), "r1")
    assert t.manifest.to_json() == m_before
    assert files() == files_before
    assert_df_equal(t.read(), before)


def test_compaction_refuses_rows_outside_its_buckets(spark, tmp_path):
    """A table whose bucket column was widened before that was refused
    stores versions of a key in two buckets. A partial compaction
    rewrites some of them into buckets it does not replace; committing
    only its targets would drop those rows, so it commits nothing.
    Rebucketing to the same shape re-hashes every row and repairs it."""
    from cityofphiladelphia_databridge_etl_tools_spark.lake.manifest import (
        LogDelta, MetaStore, SchemaVersion,
    )

    t = _int_keyed_table(spark, tmp_path)
    m = t.manifest
    widened = T.StructType([
        T.StructField(f.name, T.LongType() if f.name == "k" else f.dataType, f.nullable)
        for f in t.schema(m).fields
    ])
    t.store.commit_delta(m, LogDelta(
        version=m.version + 1,
        schema_versions_added=[SchemaVersion(1, widened.json(), MetaStore.now())],
    ))
    t.merge_batch(_long_key_updates(spark), "b1")
    m_before = t.manifest.to_json()
    with pytest.raises(ValueError, match="nothing was committed"):
        t.compact(buckets=[0, 1, 2, 3])
    assert t.manifest.to_json() == m_before

    t.rebucket(t.manifest.n_buckets)
    t.compact(buckets=[0, 1, 2, 3])
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
        (i, f"b{i}") for i in range(200)
    ]
    for k in (0, 77, 199):
        assert [r["v"] for r in t.read_key(k).collect()] == [f"b{k}"]
