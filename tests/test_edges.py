"""Empty-input and degenerate-edge behavior of the custom operators —
the cases the fixed testdata never produces."""

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_dedup_ops_on_empty(spark):
    from aws_csp_datapipeline_spark.functions import dedup as D

    e = _empty_docs(spark)
    assert D.exact_dedup(e, "text", "doc_id").count() == 0
    assert D.ngram_jaccard_pairs(e, "text", "doc_id").count() == 0
    assert D.minhash_lsh_pairs(e, "text", "doc_id").count() == 0
    assert D.simhash_candidate_pairs(e, "text", "doc_id").count() == 0


def test_short_and_empty_docs_drop_from_shingles(spark):
    from aws_csp_datapipeline_spark.functions import dedup as D

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three"),
         (5, "one two three")],
        "doc_id long, text string",
    )
    # only docs 4 and 5 have >=3 tokens; they are identical → 1 pair
    pairs = D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.8).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [(4, 5, 1.0)]
    # exact dedup keeps the lower id of the identical pair
    kept = {r["doc_id"] for r in D.exact_dedup(docs, "text", "doc_id").collect()}
    assert kept == {1, 2, 3, 4}


def test_asof_join_empty_right(spark):
    from aws_csp_datapipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00")], "id long, k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame([], "id long, k long, ts timestamp, v double")
    out = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        right_payload=["id", "v"], left_cols=["id"],
    ).collect()
    assert len(out) == 1 and out[0]["asof_id"] is None


def test_serial_insert_into_empty_table(spark):
    from aws_csp_datapipeline_spark.operators import crud as M

    table = spark.createDataFrame([], "s_no long, name string")
    new = spark.createDataFrame([(0, "a"), (0, "b")], "s_no long, name string")
    out = M.insert_with_serial_keys(table, new, "s_no").collect()
    assert sorted((r["s_no"], r["name"]) for r in out) == [(1, "a"), (2, "b")]


def test_dedup_by_keys_single_rows(spark):
    from aws_csp_datapipeline_spark.operators.crud import dedup_by_keys

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)], "id long, k string, v double"
    )
    out = dedup_by_keys(df, ["k"], "id").collect()
    assert sorted(r["id"] for r in out) == [1, 3]


def test_schema_drift_and_conform(spark):
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from aws_csp_datapipeline_spark.operators.cleaning import (conform,
                                                               schema_drift)

    expected = StructType([
        StructField("s_no", LongType()),
        StructField("tool_name", StringType()),
        StructField("team_name", StringType()),
    ])
    incoming = spark.createDataFrame(
        [(1, "t1", 99, "x")], "s_no int, tool_name string, extra int, junk string"
    )
    drift = schema_drift(expected, incoming.schema)
    assert drift == {
        "added": ["extra", "junk"],
        "missing": ["team_name"],
        "type_changed": ["s_no"],
    }
    out = conform(incoming, expected, fill="N/A")
    assert [f.name for f in out.schema.fields] == ["s_no", "tool_name", "team_name"]
    assert out.schema["s_no"].dataType == LongType()
    row = out.first()
    assert row["team_name"] == "N/A" and row["s_no"] == 1


def test_asof_nearest_empty_and_onesided(spark):
    """Nearest as-of: empty right → all-null payload; a single right
    row is chosen in both directions."""
    import datetime as dt

    from aws_csp_datapipeline_spark.operators.asof import asof_nearest

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 10, t0), (2, 10, t0 + dt.timedelta(hours=2))],
        "id long, k long, ts timestamp",
    )
    empty_right = spark.createDataFrame([], "id long, k long, ts timestamp, v double")
    out = asof_nearest(
        left, empty_right, key="k", left_ts="ts", right_ts="ts",
        right_payload=["id", "v"], left_cols=["id"],
    ).collect()
    assert len(out) == 2 and all(r["nearest_id"] is None for r in out)

    one = spark.createDataFrame(
        [(9, 10, t0 + dt.timedelta(hours=1), 5.0)],
        "id long, k long, ts timestamp, v double",
    )
    got = {
        (r["id"], r["nearest_id"])
        for r in asof_nearest(
            left, one, key="k", left_ts="ts", right_ts="ts",
            right_payload=["id", "v"], left_cols=["id"],
        ).collect()
    }
    assert got == {(1, 9), (2, 9)}


def test_kcore_degenerate_graphs(spark):
    """k-core: empty edges → empty; a triangle survives k=2 but not
    k=3; a chain is fully peeled at k=2."""
    from aws_csp_datapipeline_spark.operators.graph import kcore

    empty = spark.createDataFrame([], "src long, dst long")
    assert kcore(empty, k=2).count() == 0

    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    assert {r["node"] for r in kcore(tri, k=2).collect()} == {1, 2, 3}
    assert kcore(tri, k=3).count() == 0

    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert kcore(chain, k=2).count() == 0


def test_cms_on_empty_and_single_key(spark):
    from aws_csp_datapipeline_spark.functions.sketches import cms_build, cms_estimate

    empty = spark.createDataFrame([], "k long")
    sk = cms_build(empty, F.col("k"))
    assert sk.count() == 0
    assert cms_estimate(sk, empty.select("k").distinct(), "k").count() == 0

    single = spark.createDataFrame([(7,)] * 5, "k long")
    est = cms_estimate(
        cms_build(single, F.col("k")), single.select("k").distinct(), "k"
    ).collect()
    assert est[0]["est_count"] == 5


def test_bpe_on_empty_and_degenerate_corpus(spark):
    from aws_csp_datapipeline_spark.functions import bpe

    e = spark.createDataFrame([], "doc_id long, text string")
    assert bpe.train_bpe(bpe.word_freqs(e), 4) == []
    # single-char words: no adjacent pairs anywhere → no merges
    d = spark.createDataFrame([(1, "a b c a b")], "doc_id long, text string")
    assert bpe.train_bpe(bpe.word_freqs(d), 4) == []
    # min_pair_freq honored: pair appears once → not merged
    d2 = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    assert bpe.train_bpe(bpe.word_freqs(d2), 4, min_pair_freq=2) == []
    assert bpe.train_bpe(bpe.word_freqs(d2), 4, min_pair_freq=1) == [
        ("a", "b", 1)
    ]


def test_interval_and_path_ops_on_empty_events(spark):
    from aws_csp_datapipeline_spark.plans.q_pattern import pm7_top_session_paths
    from aws_csp_datapipeline_spark.plans.q_range import x9_interval_coalesce
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        empty = spark.createDataFrame(
            [],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        empty.write.parquet(os.path.join(td, "events.parquet"))
        assert x9_interval_coalesce(spark, td).count() == 0
        assert pm7_top_session_paths(spark, td).count() == 0


def test_loo_encoding_singleton_category_is_null(spark):
    """A category with one row must encode NULL (never its own target)."""
    import os
    import tempfile

    from aws_csp_datapipeline_spark.plans.q_linkage import (
        ml1_loo_target_encoding,
    )

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(1, "solo", 1), (2, "dual", 2), (3, "dual", 2)],
            "c_custkey long, c_mktsegment string, c_nationkey int",
        ).withColumn("c_name", F.lit("x")).withColumn(
            "c_acctbal", F.lit(0.0)
        ).write.parquet(os.path.join(td, "customer.parquet"))
        spark.createDataFrame(
            [(10, 1, 100.0), (20, 2, 50.0), (30, 3, 70.0)],
            "o_orderkey long, o_custkey long, o_totalprice double",
        ).withColumn("o_orderstatus", F.lit("O")).withColumn(
            "o_orderdate", F.lit("1995-01-01").cast("date")
        ).withColumn("o_orderpriority", F.lit("1-URGENT")).write.parquet(
            os.path.join(td, "orders.parquet")
        )
        rows = {
            r["o_orderkey"]: r["loo_avg_price"]
            for r in ml1_loo_target_encoding(spark, td).collect()
        }
        assert rows[10] is None  # singleton category
        assert rows[20] == 70.0 and rows[30] == 50.0


def test_dhash_degenerate_width_rejected_not_colliding(spark):
    """Width-1 strips have no horizontal gradient signal: they must
    NOT silently collide on hash 0 — fake lane under fake_decode,
    loud error without it."""
    from aws_csp_datapipeline_spark.functions import multimodal as MM
    from aws_csp_datapipeline_spark.functions.png_codec import encode_png

    strip1 = encode_png(bytes([0, 255, 0, 255]), 1, 4, 1)
    strip2 = encode_png(bytes([10, 20, 30, 40]), 1, 4, 1)
    media = spark.createDataFrame(
        [(1, bytearray(strip1), "image/png", len(strip1)),
         (2, bytearray(strip2), "image/png", len(strip2))],
        "doc_id long, payload binary, mime string, n_bytes long",
    )
    got = {
        r["doc_id"]: r["dhash"]
        for r in MM.image_dhash(media, fake_decode=True).collect()
    }
    assert got[1] != got[2]  # fake lane keeps content-dependence
    import pytest as _pt

    with _pt.raises(Exception):
        MM.image_dhash(media, fake_decode=False).collect()


def test_lsh_prefilter_tracks_low_thresholds(spark):
    """minhash_lsh_pairs at threshold=0.6 must still equal the exact
    pair set — the auto pre-filter cut relaxes with the threshold."""
    import random

    from aws_csp_datapipeline_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(100)]
    docs, doc_id = [], 0
    for _ in range(10):
        words = [rng.choice(vocab) for _ in range(40)]
        docs.append((doc_id, " ".join(words))); doc_id += 1
        w = list(words)
        # 1-3 word substitutions on 40-word docs land trigram-Jaccard
        # in the ~0.6-0.9 band this test targets
        for _ in range(rng.randint(1, 3)):
            w[rng.randrange(len(w))] = rng.choice(vocab)
        docs.append((doc_id, " ".join(w))); doc_id += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    lsh = {(r["doc_a"], r["doc_b"])
           for r in minhash_lsh_pairs(df, "text", "doc_id", threshold=0.6).collect()}
    exact = {(r["doc_a"], r["doc_b"])
             for r in ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.6).collect()}
    assert lsh == exact and exact


def test_lsh_prefilter_margin_at_exact_boundary(spark):
    """Pin the auto pre-filter's 0.3 safety margin with pairs planted
    EXACTLY at the verification threshold: each planted pair shares 8
    of 10 union shingles (J = 0.8 = threshold, with n=1 so shingles
    are the words themselves and the Jaccard is constructed exactly).
    The signature-agreement pre-filter must not eat any of them — a
    miss here would be a persistent oracle mismatch, not a flake,
    because the hash family is deterministic (ADVICE r6)."""
    from aws_csp_datapipeline_spark.functions.dedup import minhash_lsh_pairs

    docs, planted = [], set()
    for i in range(12):
        a_words = [f"p{i}tok{k}" for k in range(9)]
        b_words = a_words[:8] + [f"p{i}tok9"]
        docs.append((2 * i, " ".join(a_words)))
        docs.append((2 * i + 1, " ".join(b_words)))
        planted.add((2 * i, 2 * i + 1))
    # unrelated singletons must not pair with anything
    docs += [(100 + j, " ".join(f"lone{j}tok{k}" for k in range(9)))
             for j in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(
               df, "text", "doc_id", threshold=0.8, n=1).collect()}
    assert set(got) == planted
    assert all(abs(j - 0.8) < 1e-9 for j in got.values())
