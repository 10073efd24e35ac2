"""Property-based merge testing: ANY sequence of I/U/D events over a
tiny key space, split into arbitrary batches under arbitrary
cow/mor modes, must converge to the same state as a trivial
last-writer-wins dict model. Hypothesis shrinks failures to minimal
counterexamples — the cheapest path to corner cases (equal
timestamps, delete-first streams, single-key floods, replays)."""

import tempfile

import pyspark.sql.functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable

EVENT = st.tuples(
    st.sampled_from(["a", "b", "c"]),          # conv_id
    st.integers(min_value=0, max_value=1),     # turn_idx
    st.sampled_from(["I", "U", "D"]),          # op
    st.integers(min_value=0, max_value=4),     # ts (seconds)
)


def model_replay(events):
    """The spec: per key keep the max-(ts, lsn) event; D erases."""
    best = {}
    for lsn, (conv, turn, op, ts) in enumerate(events):
        k = (conv, turn)
        if k not in best or (ts, lsn) > (best[k][0], best[k][1]):
            best[k] = (ts, lsn, op)
    return {
        k: (ts, lsn)
        for k, (ts, lsn, op) in best.items()
        if op != "D"
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    events=st.lists(EVENT, min_size=1, max_size=14),
    cuts=st.lists(st.integers(min_value=1, max_value=13), max_size=2),
    modes=st.lists(st.sampled_from(["cow", "mor"]), min_size=3, max_size=3),
    replay_batch0=st.booleans(),
)
def test_any_stream_matches_lww_model(spark, events, cuts, modes, replay_batch0):
    rows = [
        (conv, turn, "r", f"text-{lsn}", None, ts, lsn, op)
        for lsn, (conv, turn, op, ts) in enumerate(events)
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts_s int, lsn long, op string"
    )
    df = (
        spark.createDataFrame(rows, schema)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
        .drop("ts_s")
    )
    from pyspark.sql import types as T

    payload = T.StructType([f for f in df.schema.fields if f.name != "op"])
    t = LakeTable.create(
        spark, tempfile.mkdtemp() + "/t", payload,
        ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=2,
    )
    bounds = sorted({c for c in cuts if c < len(events)}) + [len(events)]
    lo = 0
    for i, hi in enumerate(bounds):
        if hi <= lo:
            continue
        batch = df.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        t.merge_batch(batch, f"b{i}", mode=modes[i % len(modes)])
        lo = hi
    if replay_batch0 and bounds[0] > 0:
        # duplicate delivery of an already-committed batch id → no-op
        assert t.merge_batch(df.filter(F.col("lsn") < bounds[0]), "b0") is None

    got = {
        (r["conv_id"], r["turn_idx"]): (int(r["ts"].timestamp()), r["lsn"])
        for r in t.read().collect()
    }
    assert got == model_replay(events)


TIED_EVENT = st.tuples(
    st.sampled_from(["a", "b"]),               # conv_id
    st.integers(min_value=0, max_value=1),     # turn_idx
    st.sampled_from(["I", "U", "D"]),          # op
    st.integers(min_value=0, max_value=1),     # ts (seconds)
    st.integers(min_value=0, max_value=2),     # lsn: few values → (ts, lsn) ties
    st.integers(min_value=0, max_value=2),     # batch the event arrives in
)


def model_replay_with_ties(events, tiebreak):
    """The spec on order-column ties: per key keep the max-(ts, lsn,
    tiebreak) event, where the tiebreak is the payload hash over the
    stored columns that ``read()`` resolves with; D erases."""
    best = {}
    for i, (conv, turn, op, ts, lsn, _b) in enumerate(events):
        k = (conv, turn)
        rank = (ts, lsn, tiebreak[i])
        if k not in best or rank > best[k][0]:
            best[k] = (rank, op, f"text-{i}")
    return {
        k: (rank[0], rank[1], text)
        for k, (rank, op, text) in best.items()
        if op != "D"
    }


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    events=st.lists(TIED_EVENT, min_size=2, max_size=10),
    modes=st.lists(st.sampled_from(["cow", "mor"]), min_size=3, max_size=3),
)
# a tie inside one batch, and a tie across two batches that read()
# resolves and compaction folds (each once picked a different winner
# than read() when merge/compaction hashed _bucket/_salt too)
@example(events=[("b", 0, "I", 0, 0, 0), ("b", 0, "U", 0, 0, 0)], modes=["mor", "cow", "mor"])
@example(events=[("b", 1, "I", 0, 0, 0), ("b", 1, "U", 0, 0, 1)], modes=["mor", "mor", "mor"])
def test_order_column_ties_pick_one_winner_on_every_path(spark, events, modes):
    """Events that tie on (ts, lsn) with different payloads, spread over
    batches: merge→read, merge→compact→read and pipelined windows all
    agree with the model on which version survives."""
    from pyspark.sql import types as T

    from cityofphiladelphia_databridge_etl_tools_spark.streaming.runner import (
        LsnWindowRunner,
    )

    rows = [
        (conv, turn, "r", f"text-{i}", None, ts, lsn, op, b, i)
        for i, (conv, turn, op, ts, lsn, b) in enumerate(events)
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts_s int, lsn long, op string, b int, i int"
    )
    tagged = (
        spark.createDataFrame(rows, schema)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
        .drop("ts_s")
    )
    df = tagged.drop("b", "i")
    payload = T.StructType([f for f in df.schema.fields if f.name != "op"])
    # the stored row is the payload plus _deleted, in table-schema order
    tiebreak = {
        r["i"]: r["h"]
        for r in tagged.select(
            "i",
            F.xxhash64(*payload.names, (F.col("op") == "D").alias("_deleted")).alias("h"),
        ).collect()
    }
    want = model_replay_with_ties(events, tiebreak)

    def state(t):
        return {
            (r["conv_id"], r["turn_idx"]): (int(r["ts"].timestamp()), r["lsn"], r["text"])
            for r in t.read().collect()
        }

    def new_table():
        return LakeTable.create(
            spark, tempfile.mkdtemp() + "/t", payload,
            ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=2,
        )

    t = new_table()
    for b in range(3):
        t.merge_batch(tagged.filter(F.col("b") == b).drop("b", "i"), f"b{b}", mode=modes[b])
    assert state(t) == want, "merge→read"
    t.compact()
    assert state(t) == want, "merge→compact→read"

    piped = new_table()
    LsnWindowRunner(
        piped, lambda lo, hi: df.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)),
        events_per_batch=1,
    ).run_until(3, pipeline_depth=2)
    assert state(piped) == want, "pipelined"
