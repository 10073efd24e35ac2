"""Operator unit tests: transforms (T1-T16), sources/sinks, multimodal
plumbing, similarity recall, and dedup behavior on crafted inputs."""

import glob
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from cityofphiladelphia_databridge_etl_tools_spark.operators import (
    dedup as D,
    multimodal as MM,
    similarity as S,
    transforms as TR,
)
from cityofphiladelphia_databridge_etl_tools_spark.sources import (
    export_table_schema,
    import_table_schema,
    paged_rest_source,
    read_csv,
)
from cityofphiladelphia_databridge_etl_tools_spark.sources.sinks import (
    dead_letter,
    publish_csv_gzip,
)


# ------------------------------------------------------------- transforms
def test_sanitize_headers(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["Col#One", "OBJECTID_12", "ok"])
    out = TR.sanitize_headers(df)
    assert out.columns == ["col_one", "objectid", "ok"]


def test_scrub_control_chars(spark):
    df = spark.createDataFrame([("a\x00b c",)], ["s"])
    assert TR.scrub_control_chars(df).collect()[0]["s"] == "abc"


def test_promote_multi_geometry(spark):
    rows = [
        ("SRID=2272;POLYGON ((0 0, 1 0, 1 1, 0 0))",),
        ("SRID=2272;MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))",),
        ("LINESTRING (0 0, 1 1)",),
        ("SRID=2272;POINT (1 2)",),
        (None,),
    ]
    out = [r["shape"] for r in TR.promote_multi_geometry(
        spark.createDataFrame(rows, ["shape"])).collect()]
    assert out[0] == "SRID=2272;MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))"
    assert out[1] == rows[1][0]  # already MULTI untouched
    assert out[2] == "MULTILINESTRING ((0 0, 1 1))"
    assert out[3] == rows[3][0]  # points untouched
    assert out[4] is None


def test_to_esri_json(spark):
    rows = [
        ("SRID=2272;POINT (1 2)",),
        ("SRID=4326;POLYGON ((0 0, 3 0, 3 4, 0 0))",),
        ("SRID=4326;MULTIPOINT EMPTY",),
        ("POINT (7 8)",),  # no prefix → wkid defaults to 4326
        (None,),
    ]
    out = [r["esri_json"] for r in TR.to_esri_json(
        spark.createDataFrame(rows, ["shape"])).collect()]
    assert out[0] == '{"x":1,"y":2,"spatialReference":{"wkid":2272}}'
    assert out[1] == '{"rings":[[[0,0],[3,0],[3,4],[0,0]]],"spatialReference":{"wkid":4326}}'
    assert out[2] is None
    assert out[3] == '{"x":7,"y":8,"spatialReference":{"wkid":4326}}'
    assert out[4] is None
    import json
    assert json.loads(out[1])["rings"][0][2] == [3, 4]  # valid JSON


def test_srid_extract_and_remap(spark):
    df = spark.createDataFrame(
        [("SRID=300001;POINT (1 2)",), ("SRID=4326;POINT (3 4)",)], ["shape"]
    )
    out = TR.remap_bad_srid(TR.extract_srid(df)).collect()
    assert [r["srid"] for r in out] == [2272, 4326]


def test_point_to_lat_lng(spark):
    df = spark.createDataFrame(
        [("SRID=4326;POINT (-75.16 39.95)",), ("SRID=4326;MULTIPOINT EMPTY",)], ["shape"]
    )
    out = TR.point_to_lat_lng(df).collect()
    assert out[0]["lng"] == -75.16 and out[0]["lat"] == 39.95
    assert out[1]["lng"] is None and "shape" not in TR.point_to_lat_lng(df).columns


def test_localize_naive_timestamps(spark):
    df = spark.createDataFrame([("2024-01-15 12:00:00",)], ["t"]).withColumn(
        "t", F.col("t").cast("timestamp_ntz")
    )
    out = TR.localize_naive_timestamps(df, "America/New_York").collect()[0]["t"]
    # noon Eastern (UTC-5 in January) == 17:00 UTC; session TZ is UTC
    assert out.hour == 17


def test_clean_for_remote_and_json_encode(spark):
    df = spark.createDataFrame([("héllo \"w<or>ld'", [1, 2])], ["s", "arr"])
    out = TR.json_encode_nested(TR.clean_for_remote(df, ["s"]), ["arr"]).collect()[0]
    assert out["s"] == "hllo world"
    assert out["arr"] == "[1,2]"
    empty = TR.clean_for_remote(spark.createDataFrame([("<>",)], ["s"]), ["s"]).collect()[0]
    assert empty["s"] is None


# ---------------------------------------------------------------- sources
def test_read_csv_encoding_fallback(spark, tmp_path):
    p = tmp_path / "latin.csv"
    p.write_bytes(b"name,v\ncaf\xe9,1\n")  # latin-1 é, invalid utf-8
    schema = T.StructType([
        T.StructField("name", T.StringType()), T.StructField("v", T.IntegerType())
    ])
    out = read_csv(spark, str(p), schema=schema).collect()
    assert out[0]["name"] == "café"


def test_schema_export_roundtrip(spark):
    df = spark.createDataFrame([(1, "a")], "id int, s string")
    doc = export_table_schema(df, ["id"])
    schema, pks = import_table_schema(doc)
    assert schema == df.schema and pks == ["id"]


def test_paged_rest_source(spark):
    def fake_fetch(offset):  # 2½ pages of 1000
        n = min(1000, 2500 - offset)
        return [{"id": offset + i, "v": f"row{offset + i}"} for i in range(n)]

    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.StringType())
    ])
    df = paged_rest_source(spark, fake_fetch, schema)
    assert df.count() == 2500
    assert df.agg(F.max("id")).collect()[0][0] == 2499


# ------------------------------------------------------------------ sinks
def test_publish_csv_gzip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, s string").coalesce(1)
    out = str(tmp_path / "pub")
    publish_csv_gzip(df, out)
    files = glob.glob(out + "/*.csv.gz")
    assert len(files) == 1
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 2


def test_dead_letter_sink(spark, tmp_path):
    bad = spark.createDataFrame([(1, "boom")], "id int, _error string")
    path = dead_letter(bad, str(tmp_path))
    assert spark.read.parquet(path).count() == 1
    assert "/_errors/" in path


# ------------------------------------------------------------- multimodal
def test_multimodal_meta_plumbing(spark):
    docs = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id long, text string")
    media = MM.docs_as_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    out = {r["media_id"]: r for r in MM.extract_meta(media).collect()}
    assert out[1]["n_bytes"] == 3 and out[1]["header_byte"] == ord("a")
    assert out[1]["checksum"] == ord("a") + ord("b") + ord("c")
    assert out[2]["n_bytes"] == 0 and out[2]["header_byte"] is None


def test_multimodal_decode_stubs_raise(spark):
    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    media = MM.docs_as_media(docs)
    for fn in (MM.decode_image, MM.sample_video_frames, MM.decode_audio):
        with pytest.raises(NotImplementedError):
            fn(media)


# ------------------------------------------------------------- similarity
def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = S.lsh_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"]).count()
    recall = hits / exact.count()
    assert recall >= 0.5, f"LSH recall {recall} too low (multi-table should lift it)"
    # candidates actually restricted to buckets: approx must not exceed k per query
    per_q = approx.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    assert per_q <= 5


def test_exact_dedup_keeps_min_id(spark):
    docs = spark.createDataFrame(
        [(1, "same text"), (5, "same text"), (3, "other")], "doc_id long, text string"
    )
    out = {r["keep_id"]: r["n_copies"] for r in D.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_asof_join_semantics(spark):
    """Boundary visibility (right at ts == left ts matches), stale
    carry-forward, no-match NULLs, same-ts tiebreak, and the
    null-payload trap (a newer right row with a NULL payload must NOT
    resurrect the older row's value)."""
    from cityofphiladelphia_databridge_etl_tools_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("u1", "2024-01-05"), ("u1", "2024-01-10"), ("u2", "2024-01-05"),
         ("u3", "2024-01-05")],
        "k string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("u1", "2024-01-05", 100.0, 1),   # exactly at left ts → visible
         ("u1", "2024-01-08", None, 2),    # newer but NULL price
         ("u1", "2024-01-08", 300.0, 3),   # same-ts tiebreak: max rid wins...
         ("u2", "2024-01-09", 50.0, 4)],   # after u2's event → no match
        "k string, rts string, price double, rid long",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = {(r["k"], str(r["ts"])): r for r in asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        payload_cols=["price", "rid"], tiebreak_cols=["rid"],
    ).collect()}
    a = out[("u1", "2024-01-05 00:00:00")]
    assert a["rid_asof"] == 1 and a["price_asof"] == 100.0  # boundary visible
    b = out[("u1", "2024-01-10 00:00:00")]
    # max-rid row at 01-08 wins the tie; its price must not be
    # resurrected from an older row even when NULL would have been
    assert b["rid_asof"] == 3 and b["price_asof"] == 300.0
    assert out[("u2", "2024-01-05 00:00:00")]["rid_asof"] is None
    assert out[("u3", "2024-01-05 00:00:00")]["price_asof"] is None

    # explicit null-payload-newest case: rid 5 newest with NULL price
    right2 = right.unionByName(
        spark.createDataFrame([("u1", "2024-01-09", None, 5)],
                              "k string, rts string, price double, rid long")
        .withColumn("rts", F.col("rts").cast("timestamp"))
    )
    c = {(r["k"], str(r["ts"])): r for r in asof_join(
        left, right2, on="k", left_ts="ts", right_ts="rts",
        payload_cols=["price", "rid"], tiebreak_cols=["rid"],
    ).collect()}[("u1", "2024-01-10 00:00:00")]
    assert c["rid_asof"] == 5 and c["price_asof"] is None  # no resurrection


def test_range_join_binned_is_equi_join(spark):
    """Boundary semantics (inclusive start, exclusive end), intervals
    straddling bin boundaries, zero-length intervals — and the plan
    must be an EQUI-join (hash/sort-merge), never the nested-loop /
    cartesian Catalyst uses for raw inequality joins."""
    from cityofphiladelphia_databridge_etl_tools_spark.operators.joins import (
        range_join_point_in_interval,
    )

    pts = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", 1), ("k", "2024-01-03 12:00:00", 2),
         ("k", "2024-01-05 00:00:00", 3), ("k", "2024-01-10 00:00:00", 4)],
        "g string, ts string, pid int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", "2024-01-05 00:00:00", 10),  # 4d, straddles bins
         ("k", "2024-01-03 00:00:00", "2024-01-03 00:00:00", 20)],  # zero-length
        "g string, s string, e string, wid int",
    ).withColumn("s", F.col("s").cast("timestamp")).withColumn("e", F.col("e").cast("timestamp"))
    j = range_join_point_in_interval(pts, iv, on="g", point_ts="ts",
                                     start_ts="s", end_ts="e", bin_seconds=86_400)
    got = sorted((r["pid"], r["wid"]) for r in j.collect())
    # pid1 at start (inclusive), pid2 inside; pid3 at end (exclusive) and
    # pid4 outside drop; the zero-length interval matches nothing
    assert got == [(1, 10), (2, 10)], got
    from cityofphiladelphia_databridge_etl_tools_spark.plans import formatted_plan
    plan = formatted_plan(j)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_redact_pii(spark):
    from cityofphiladelphia_databridge_etl_tools_spark.operators.textstats import redact_pii

    rows = [
        (1, "mail me at a.b+c@ex-ample.org or x@y.io thanks"),
        (2, "call (215) 555-0100 or 610.555.0199 today"),
        (3, "server 192.168.1.250 and 10.0.0.1 are down"),
        (4, "nothing sensitive here"),
    ]
    out = {r["doc_id"]: r for r in redact_pii(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[1]["n_email"] == 2 and out[1]["text"] == "mail me at <EMAIL> or <EMAIL> thanks"
    assert out[2]["n_phone"] == 2 and out[2]["text"] == "call <PHONE> or <PHONE> today"
    assert out[3]["n_ipv4"] == 2 and out[3]["text"] == "server <IPV4> and <IPV4> are down"
    assert out[4]["text"] == rows[3][1]
    assert all(out[4][f"n_{k}"] == 0 for k in ("email", "phone", "ipv4"))


def test_connected_components_chain_and_representatives(spark):
    """A 5-node chain (needs multiple propagation rounds), a 2-node
    pair, and a singleton-free graph: labels converge to the component
    min; representatives keep one doc per cluster plus unclustered."""
    from cityofphiladelphia_databridge_etl_tools_spark.operators.dedup import (
        connected_components, keep_cluster_representatives,
    )

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    cc = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i, f"d{i}") for i in [1, 2, 3, 4, 5, 10, 11, 99]],
                                 "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  keep_cluster_representatives(docs, connected_components(pairs)).collect())
    assert kept == [1, 10, 99]  # one per cluster + the unclustered doc


def test_connected_components_matches_union_find(spark):
    """Randomized graphs vs an independent driver-side union-find."""
    import random

    from cityofphiladelphia_databridge_etl_tools_spark.operators.dedup import (
        connected_components,
    )

    for seed in (7, 19, 23):
        rng = random.Random(seed)
        edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
        edges = [(a, b) for a, b in edges if a != b]

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {n: find(n) for n in parent}

        got = {
            r["id"]: r["cluster_id"]
            for r in connected_components(
                spark.createDataFrame(edges, "id_a long, id_b long")
            ).collect()
        }
        assert got == expect, (seed, got, expect)


def test_simhash_similar_docs_close(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    h = {r["id"]: r["simhash"] for r in D.simhash(docs).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(h[1], h[2]) < hamming(h[1], h[3])


def test_connected_components_chain_converges_in_log_rounds(spark):
    """The large-star/small-star alternation must converge in O(log n)
    ROUNDS on a pathological 10k-node chain — the case where min-label
    propagation needs O(diameter)=10k sequential jobs. This is the
    100-TB guard: round count IS the number of sequential Spark jobs a
    giant near-dup component costs."""
    import math

    from cityofphiladelphia_databridge_etl_tools_spark.operators.dedup import (
        connected_components,
    )

    n = 10_000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    stats = {}
    out = connected_components(chain, stats=stats)
    assert out.where("cluster_id = 0").count() == n + 1  # one component, min root
    bound = 2 * math.ceil(math.log2(n))  # generous: measured ~log2(n)+2
    assert stats["rounds"] <= bound, f"{stats['rounds']} rounds > {bound}"


def test_to_esri_json_multiring_and_linestring(spark):
    """T6 publish completeness (ref ago/ago.py:954-1008): multi-ring
    polygons (holes) emit one rings array per ring; LINESTRINGs emit
    paths; points/EMPTY unchanged from the single-shape cases."""
    import json as _json

    from cityofphiladelphia_databridge_etl_tools_spark.operators.transforms import (
        to_esri_json,
    )

    rows = [
        (1, "SRID=2272;POINT (10 20)"),
        (2, "SRID=4326;POLYGON ((0 0, 4 0, 4 4, 0 0))"),
        (3, "SRID=4326;POLYGON ((0 0, 8 0, 8 8, 0 0), (1 1, 2 1, 2 2, 1 1))"),
        (4, "SRID=4326;LINESTRING (0 0, 3 4, 6 0)"),
        (5, "SRID=4326;MULTIPOINT EMPTY"),
    ]
    df = spark.createDataFrame(rows, "id long, shape string")
    out = {r["id"]: r["esri_json"] for r in to_esri_json(df).collect()}
    assert _json.loads(out[1]) == {"x": 10, "y": 20, "spatialReference": {"wkid": 2272}}
    assert _json.loads(out[2])["rings"] == [[[0, 0], [4, 0], [4, 4], [0, 0]]]
    got3 = _json.loads(out[3])
    assert got3["rings"] == [
        [[0, 0], [8, 0], [8, 8], [0, 0]],
        [[1, 1], [2, 1], [2, 2], [1, 1]],
    ]
    assert _json.loads(out[4]) == {
        "paths": [[[0, 0], [3, 4], [6, 0]]],
        "spatialReference": {"wkid": 4326},
    }
    assert out[5] is None


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    """IVF ANN (k-means cells + multi-probe + exact re-rank): recall
    vs the exact baseline must be substantial with 2-of-8 cells
    probed, candidates restricted to probed cells, and the codebook
    training fully deterministic (two runs agree exactly)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = S.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3)
    hits = exact.join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    recall = hits / exact.count()
    assert recall >= 0.5, f"IVF recall {recall} too low"
    per_q = approx.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    assert per_q <= 5
    # deterministic training: a second run reproduces the exact result
    again = S.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3)
    assert approx.exceptAll(again).count() == 0 and again.exceptAll(approx).count() == 0
    # probing ALL cells makes IVF exact (sanity: it's a partition of space)
    full = S.ivf_topk(emb, queries, k=5, n_centroids=4, n_probe=4)
    hits_full = exact.join(
        full.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    assert hits_full == exact.count(), "probing every cell must equal brute force"


def test_jaccard_ubiquitous_shingle_cap_defaults_on(spark):
    """VERDICT r4 #3: the sum(df²) scale guard must be the DEFAULT on
    the production verify path, not opt-in. A shingle shared by more
    docs than the cap is excluded from intersection counting (the
    self-join key set) while denominators keep full shingle counts;
    max_doc_freq=None restores the uncapped exact ground truth."""
    # two docs: 4 shared shingles if uncapped. Make ONE shared shingle
    # ubiquitous by adding cap+ filler docs that all contain it.
    base = [
        (1, "a b c d e f"),   # shingles: abc bcd cde def
        (2, "a b c d e f"),   # identical → jaccard 1.0 uncapped
    ]
    filler = [(100 + i, "a b c x%d" % i) for i in range(4)]  # all contain "a b c"
    docs = spark.createDataFrame(base + filler, "doc_id long, text string")
    sh = D.doc_shingles(docs)

    # cap below "a b c"'s df (6): it drops OUT of the join keys
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(sh, max_doc_freq=5).collect()
    }
    # docs 1,2 still pair via their 3 rare shared shingles; the
    # denominator keeps all 4 shingles → 3/(4+4-3)
    assert capped[(1, 2)] == 0.6
    # filler docs shared ONLY the ubiquitous shingle → no pair at all
    assert not any(a >= 100 and b >= 100 for (a, b) in capped)

    # uncapped ground truth: identical docs are 1.0 and filler docs pair
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(sh, max_doc_freq=None).collect()
    }
    assert uncapped[(1, 2)] == 1.0
    assert any(a >= 100 and b >= 100 for (a, b) in uncapped)

    # the DEFAULT is the capped path with DEFAULT_MAX_DOC_FREQ — at df
    # below the default cap it equals the exact result
    assert D.DEFAULT_MAX_DOC_FREQ == 10_000
    default_out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(sh).collect()
    }
    assert default_out == uncapped  # all dfs here ≤ 10⁴

    # and the capped semantics hold on the candidate-restricted
    # (verify) path too — the one the production pipeline runs
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    verify = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(sh, max_doc_freq=5, pairs=cand).collect()
    }
    assert verify == {(1, 2): 0.6}


def test_byte_size_confs_accept_unit_suffixes(spark):
    """maxPartitionBytes set the way Spark users write it ("128m")
    sizes the similarity spread and the streaming state partitions
    like its byte count does."""
    from cityofphiladelphia_databridge_etl_tools_spark.operators.similarity import _spread
    from cityofphiladelphia_databridge_etl_tools_spark.streaming.pipeline import (
        _stream_state_partitions,
    )

    key = "spark.sql.files.maxPartitionBytes"
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, str(128 * 1024 * 1024))
        want = _stream_state_partitions(spark, df)
        spark.conf.set(key, "128m")
        assert _stream_state_partitions(spark, df) == want
        assert "Exchange" in _spread(df, "k")._jdf.queryExecution().executedPlan().toString()

        from cityofphiladelphia_databridge_etl_tools_spark.session import conf_bytes

        for raw, n in (("128m", 128 << 20), ("64MB", 64 << 20), ("1g", 1 << 30),
                       ("134217728b", 128 << 20)):
            spark.conf.set(key, raw)
            assert conf_bytes(spark, key, 0) == n
    finally:
        spark.conf.set(key, prev)
