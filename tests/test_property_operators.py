"""Property-based checks for the custom (non-Catalyst-native)
operators, against independent reference implementations on random
inputs — covers edges the fixed testdata can't."""

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_EVENT = st.tuples(
    st.integers(0, 3),                    # user key
    st.integers(0, 10_000),               # seconds offset
    st.floats(-100, 100, allow_nan=False),
)


def _mk_events(rows, base=dt.datetime(2024, 1, 1)):
    return [
        (i, k, base + dt.timedelta(seconds=s), float(v))
        for i, (k, s, v) in enumerate(rows)
    ]


_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ]
)


@given(left=st.lists(_EVENT, min_size=1, max_size=25),
       right=st.lists(_EVENT, min_size=1, max_size=25))
@settings(**SETTINGS)
def test_asof_join_matches_merge_asof(spark, left, right):
    from aws_csp_datapipeline_spark.operators.asof import asof_join

    lrows, rrows = _mk_events(left), _mk_events(right)
    # merge_asof needs unique, sorted ts per key side; drop exact
    # (k, ts) duplicates the same way on both paths
    lpd = (
        pd.DataFrame(lrows, columns=["id", "k", "ts", "v"])
        .drop_duplicates(subset=["k", "ts"])
    )
    rpd = (
        pd.DataFrame(rrows, columns=["id", "k", "ts", "v"])
        .drop_duplicates(subset=["k", "ts"])
    )
    ldf = spark.createDataFrame(lpd, _SCHEMA)
    rdf = spark.createDataFrame(rpd, _SCHEMA)

    got = {
        (r["id"], r["asof_id"])
        for r in asof_join(
            ldf, rdf, key="k", left_ts="ts", right_ts="ts",
            right_payload=["id", "v"], left_cols=["id"], suffix="asof_",
        ).collect()
    }
    exp_df = pd.merge_asof(
        lpd.sort_values("ts"),
        rpd.sort_values("ts").rename(columns={"id": "asof_id", "v": "asof_v"}),
        on="ts", by="k", direction="backward",
    )
    exp = {
        (int(r.id), None if pd.isna(r.asof_id) else int(r.asof_id))
        for r in exp_df.itertuples()
    }
    assert got == exp


@given(points=st.lists(_EVENT, min_size=1, max_size=25),
       intervals=st.lists(_EVENT, min_size=1, max_size=15))
@settings(**SETTINGS)
def test_interval_join_matches_bruteforce(spark, points, intervals):
    from aws_csp_datapipeline_spark.operators.range_join import interval_join

    prow = _mk_events(points)
    irow = [
        (i, k, ts, ts + dt.timedelta(hours=13))
        for (i, k, ts, _) in _mk_events(intervals)
    ]
    pdf = spark.createDataFrame(
        [(i, k, ts) for (i, k, ts, _) in prow], "id long, k long, ts timestamp"
    )
    idf = spark.createDataFrame(
        irow, "iid long, ik long, start timestamp, stop timestamp"
    )
    got = {
        (r["id"], r["iid"])
        for r in interval_join(
            pdf, idf, point_ts="ts", start_ts="start", end_ts="stop",
            key=("k", "ik"), bucket_days=1,
        ).collect()
    }
    exp = {
        (pid, iid)
        for (pid, pk, pts, _) in prow
        for (iid, ik, s, e) in irow
        if pk == ik and s <= pts < e
    }
    assert got == exp


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("23-Dec", dt.date(2000, 12, 23)),
        ("2-Jan", dt.date(2000, 1, 2)),
        ("Feb-25", dt.date(2025, 2, 1)),
        ("2013", dt.date(2013, 1, 1)),
        ("-", None),
        ("", None),
        ("31-Xxx", None),
        ("garbage", None),
        (" 24-Jun ", dt.date(2000, 6, 24)),
    ],
)
def test_messy_date_cases(spark, raw, expected):
    from aws_csp_datapipeline_spark.operators.cleaning import parse_messy_date

    row = (
        spark.createDataFrame([(raw,)], "raw string")
        .select(parse_messy_date(F.col("raw")).alias("d"))
        .head()
    )
    assert row["d"] == expected


_CHANGE = st.tuples(
    st.integers(0, 9),                       # key
    st.sampled_from(["I", "U", "D"]),        # op
    st.text(alphabet="abc", min_size=0, max_size=3),
)


@given(
    table_keys=st.sets(st.integers(0, 9), max_size=8),
    changes=st.lists(_CHANGE, max_size=20),
)
@settings(**SETTINGS)
def test_apply_cdc_matches_python_model(spark, table_keys, changes):
    """apply_cdc == a sequential python replay of the change feed
    (latest-per-key wins; D deletes, U/I upsert)."""
    from aws_csp_datapipeline_spark.operators.crud import apply_cdc

    table_rows = [(k, f"v{k}") for k in sorted(table_keys)]
    change_rows = [(k, op, seq, val) for seq, (k, op, val) in enumerate(changes)]

    # python model: latest change per key applied to the snapshot dict
    state = dict(table_rows)
    latest = {}
    for k, op, seq, val in change_rows:
        latest[k] = (op, val)  # increasing seq: later wins
    for k, (op, val) in latest.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = val

    table = spark.createDataFrame(
        table_rows or [(None, None)], "k int, name string"
    ).filter(F.col("k").isNotNull())
    ch = spark.createDataFrame(
        change_rows or [(None, None, None, None)],
        "k int, op string, seq int, name string",
    ).filter(F.col("k").isNotNull())
    got = {r["k"]: r["name"] for r in apply_cdc(table, ch, "k").collect()}
    assert got == state


@given(keys=st.sets(st.integers(0, 10_000), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_hash_split_deterministic_and_nested(spark, keys):
    """Split assignment is a pure function of the key (partitioning-
    independent) and smaller train fractions are subsets of larger
    ones (monotone thresholds: a frozen split that can only grow)."""
    from aws_csp_datapipeline_spark.functions.sampling import hash_split

    df = spark.createDataFrame([(k,) for k in sorted(keys)], "k long")
    a = {r["k"]: r["split"] for r in hash_split(df, "k", 0.5).collect()}
    b = {
        r["k"]: r["split"]
        for r in hash_split(df.repartition(7), "k", 0.5).collect()
    }
    assert a == b  # repartitioning cannot move a row across the split
    wide = {r["k"]: r["split"] for r in hash_split(df, "k", 0.9).collect()}
    train_small = {k for k, s in a.items() if s == "train"}
    train_wide = {k for k, s in wide.items() if s == "train"}
    assert train_small <= train_wide


@given(left=st.lists(_EVENT, min_size=1, max_size=25),
       right=st.lists(_EVENT, min_size=1, max_size=25))
@settings(**SETTINGS)
def test_asof_join_forward_matches_merge_asof(spark, left, right):
    from aws_csp_datapipeline_spark.operators.asof import asof_join

    lrows, rrows = _mk_events(left), _mk_events(right)
    lpd = (
        pd.DataFrame(lrows, columns=["id", "k", "ts", "v"])
        .drop_duplicates(subset=["k", "ts"])
    )
    rpd = (
        pd.DataFrame(rrows, columns=["id", "k", "ts", "v"])
        .drop_duplicates(subset=["k", "ts"])
    )
    ldf = spark.createDataFrame(lpd, _SCHEMA)
    rdf = spark.createDataFrame(rpd, _SCHEMA)

    got = {
        (r["id"], r["asof_id"])
        for r in asof_join(
            ldf, rdf, key="k", left_ts="ts", right_ts="ts",
            right_payload=["id", "v"], left_cols=["id"], suffix="asof_",
            direction="forward",
        ).collect()
    }
    exp_df = pd.merge_asof(
        lpd.sort_values("ts"),
        rpd.sort_values("ts").rename(columns={"id": "asof_id", "v": "asof_v"}),
        on="ts", by="k", direction="forward",
    )
    exp = {
        (int(r.id), None if pd.isna(r.asof_id) else int(r.asof_id))
        for r in exp_df.itertuples()
    }
    assert got == exp


@given(
    keys=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1,
                  max_size=60, unique=True),
    k=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=8, deadline=None)
def test_per_group_sample_deterministic_and_bounded(spark, keys, k):
    """per_group_sample must (a) return at most k rows per group,
    (b) pick the SAME rows regardless of partitioning, (c) keep picks
    stable when the group only grows (hash-boundary eviction only)."""
    from aws_csp_datapipeline_spark.functions.sampling import per_group_sample

    rows = [(key, f"g{key % 3}") for key in keys]
    df = spark.createDataFrame(rows, "id long, grp string")
    out1 = {tuple(r) for r in per_group_sample(df, "grp", "id", k).collect()}
    out2 = {
        tuple(r)
        for r in per_group_sample(df.repartition(7), "grp", "id", k).collect()
    }
    assert out1 == out2
    from collections import Counter
    per_group = Counter(g for _, g in out1)
    assert all(n <= k for n in per_group.values())


@given(left=st.lists(_EVENT, min_size=1, max_size=25),
       right=st.lists(_EVENT, min_size=1, max_size=25))
@settings(**SETTINGS)
def test_asof_nearest_matches_merge_asof(spark, left, right):
    from aws_csp_datapipeline_spark.operators.asof import asof_nearest

    lrows, rrows = _mk_events(left), _mk_events(right)
    lpd = (
        pd.DataFrame(lrows, columns=["id", "k", "ts", "v"])
        .drop_duplicates(subset=["k", "ts"])
    )
    rpd = (
        pd.DataFrame(rrows, columns=["id", "k", "ts", "v"])
        .drop_duplicates(subset=["k", "ts"])
    )
    ldf = spark.createDataFrame(lpd, _SCHEMA)
    rdf = spark.createDataFrame(rpd, _SCHEMA)

    got = {
        (r["id"], r["nearest_id"])
        for r in asof_nearest(
            ldf, rdf, key="k", left_ts="ts", right_ts="ts",
            right_payload=["id", "v"], left_cols=["id"],
        ).collect()
    }
    exp_df = pd.merge_asof(
        lpd.sort_values("ts"),
        rpd.sort_values("ts").rename(columns={"id": "near_id", "v": "near_v"}),
        on="ts", by="k", direction="nearest",
    )
    exp = {
        (int(r.id), None if pd.isna(r.near_id) else int(r.near_id))
        for r in exp_df.itertuples()
    }
    assert got == exp


# --- jpeg_meta: SOF walk vs the constructive header builder ---------------

@given(
    w=st.integers(1, 65535),
    h=st.integers(1, 65535),
    c=st.integers(1, 4),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_meta_roundtrips_constructed_headers(w, h, c):
    from aws_csp_datapipeline_spark.functions import jpeg_meta as J

    assert J.jpeg_meta(J.make_jpeg(w, h, c)) == (w, h, c)


@given(tail=st.binary(max_size=256))
@settings(max_examples=60, deadline=None)
def test_jpeg_meta_never_hangs_or_misparses_garbage(tail):
    """Any byte tail after a valid SOI either parses to a plausible
    SOF tuple or raises ValueError — never loops, never returns
    garbage dimensions like 0."""
    from aws_csp_datapipeline_spark.functions import jpeg_meta as J

    payload = b"\xff\xd8" + tail
    try:
        w, h, c = J.jpeg_meta(payload)
    except ValueError:
        return
    assert w > 0 and h > 0 and c > 0


@given(tail=st.binary(max_size=64))
@settings(max_examples=30, deadline=None)
def test_non_jpeg_rejected(tail):
    from aws_csp_datapipeline_spark.functions import jpeg_meta as J

    payload = b"\x00\x00" + tail  # no SOI
    assert not J.is_jpeg(payload)
    with pytest.raises(ValueError):
        J.jpeg_meta(payload)


# --- tiled_spans: Spark expression vs plain python ------------------------

@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab c"),  # tiny vocab, many dups
            min_size=0,
            max_size=120,
        ),
        min_size=1,
        max_size=8,
    ),
    width=st.integers(2, 5),
)
@settings(**SETTINGS)
def test_tiled_spans_match_python(spark, texts, width):
    from aws_csp_datapipeline_spark.functions.dedup import tiled_spans

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["spans"]
        for r in df.select(
            "doc_id", tiled_spans(F.col("text"), width).alias("spans")
        ).collect()
    }

    for i, t in enumerate(texts):
        toks = t.strip().lower().split()
        if t.strip() == "" or len(toks) < width:
            expected = []
        else:
            expected = [
                " ".join(toks[j * width : (j + 1) * width])
                for j in range(len(toks) // width)
            ]
        assert got[i] == expected, (i, t)


@given(keys=st.sets(st.integers(0, 10_000), min_size=1, max_size=60))
@settings(**SETTINGS)
def test_deterministic_shuffle_is_stable_permutation(spark, keys):
    """(batch, pos) replays one total order: positions are contiguous
    1..n within each batch, the assignment is partitioning-independent
    (pure function of the key), and a different salt yields a
    different permutation while keeping the same row set."""
    from aws_csp_datapipeline_spark.functions.sampling import (
        deterministic_shuffle,
    )

    df = spark.createDataFrame([(k,) for k in sorted(keys)], "k long")
    a = deterministic_shuffle(df, "k").collect()
    b = deterministic_shuffle(df.repartition(5), "k").collect()
    key_of = lambda rows: {r["k"]: (r["batch"], r["pos"]) for r in rows}
    assert key_of(a) == key_of(b)
    by_batch = {}
    for r in a:
        by_batch.setdefault(r["batch"], []).append(r["pos"])
    for poss in by_batch.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    c = deterministic_shuffle(df, "k", salt="epoch2").collect()
    assert {r["k"] for r in c} == set(keys)


_VEC = st.lists(
    st.one_of(
        st.floats(-1, -0.001),
        st.floats(0.001, 1),
    ),
    min_size=8, max_size=8,
)


@given(vecs=st.lists(_VEC, min_size=2, max_size=20))
@settings(**SETTINGS)
def test_semdedup_matches_bruteforce_model(spark, vecs):
    """semdedup_flags == the python model: bucket by leading sign
    bits, drop iff a lower-id same-bucket vector has cosine >=
    threshold. Thresholded mid-range so float drift can't flip it."""
    import math

    from aws_csp_datapipeline_spark.functions.similarity import semdedup_flags

    thr, bits = 0.5, 3
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["bucket"], r["kept"])
        for r in semdedup_flags(df, "embedding", "vec_id", thr, bits).collect()
    }

    def bucket(v):
        return sum(1 << (bits - 1 - i) for i in range(bits) if v[i] > 0)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    for i, v in rows:
        exp_kept = not any(
            bucket(w) == bucket(v) and j < i and abs(cos(v, w) - thr) > 1e-6 and cos(v, w) >= thr
            for j, w in rows
        )
        near_boundary = any(
            bucket(w) == bucket(v) and j < i and abs(cos(v, w) - thr) <= 1e-6
            for j, w in rows
        )
        assert got[i][0] == bucket(v)
        if not near_boundary:
            assert got[i][1] == exp_kept, (i, v)


def test_auto_sign_bits_scale_rule():
    """The SemDeDup cell-count rule (d10): 6 bits at every
    driver-attested corpus size (oracle outputs bit-identical), one
    extra bit per corpus doubling past 4,096 (= 2^6 cells x 64
    target — the EXACT boundary where the fixed-6-bit oracle stops
    being valid) so the expected cell population stays ≤ ~2x the
    target, capped by embedding width."""
    from aws_csp_datapipeline_spark.functions.similarity import auto_sign_bits

    # oracle-attested corpora stay on the historical 6-bit plan
    assert auto_sign_bits(200) == 6       # sf0.01
    assert auto_sign_bits(2_000) == 6     # sf0.1
    assert auto_sign_bits(4_096) == 6     # last 6-bit corpus size
    assert auto_sign_bits(4_097) == 7     # first divergence from the oracle
    prev = 0
    for n in [10, 10**3, 10**4, 10**5, 10**6, 10**8]:
        bits = auto_sign_bits(n)
        assert bits >= prev               # monotone in corpus size
        assert 6 <= bits <= 14            # floor and dim cap
        if 2 ** 6 * 64 < n <= 2 ** 14 * 64:
            # inside the adaptive range: expected cell size in [32, 128]
            assert 32 <= n / 2 ** bits <= 128, (n, bits)
        prev = bits


def test_auto_ivf_cells_scale_rule():
    """IVF cell sizing: √N between the floor (16 — keeps the sf0.01
    attested quantizer) and the cap, monotone, and the per-probe scan
    fraction n_probe/cells SHRINKS as the corpus grows (the property
    a fixed cell count lacks)."""
    from aws_csp_datapipeline_spark.functions.similarity import auto_ivf_cells

    assert auto_ivf_cells(200) == 16          # sf0.01 attested plan
    assert auto_ivf_cells(2_000) == 45        # √N in the open range
    assert auto_ivf_cells(200_000) == 447
    assert auto_ivf_cells(10**9) == 4096      # training/broadcast cap
    prev = 0
    for n in [10, 10**3, 10**5, 10**7, 10**9]:
        cells = auto_ivf_cells(n)
        assert cells >= prev
        prev = cells
    # scan fraction shrinks 10x corpus over corpus
    assert 4 / auto_ivf_cells(10**6) < 4 / auto_ivf_cells(10**4)


def test_trimmed_mean_returns_null_when_trim_consumes_group(spark):
    """trim_frac >= 0.5 on a small group leaves no survivors: the
    UDAF must emit NULL (documented divergence from the oracle's
    group-disappears form), never a silently-untrimmed mean."""
    from aws_csp_datapipeline_spark.functions.grouped import (
        trimmed_mean_grouped_agg,
    )

    df = spark.createDataFrame([(1, 10), (1, 20)], "g int, v int")
    row = trimmed_mean_grouped_agg(df, "g", "v", trim_frac=0.5).head()
    assert row["trimmed_mean"] is None


@given(
    prefix_a=st.text(alphabet="abcdefg", max_size=30),
    suffix_a=st.text(alphabet="abcdefg", max_size=30),
    prefix_b=st.text(alphabet="hijklmn", max_size=30),
    suffix_b=st.text(alphabet="hijklmn", max_size=30),
    shared=st.text(alphabet="opqrstu", min_size=11, max_size=25),
)
@settings(**SETTINGS)
def test_winnowing_guarantee_shared_substring_shares_fingerprint(
    spark, prefix_a, suffix_a, prefix_b, suffix_b, shared
):
    """The winnowing theorem (Schleimer et al., MOSS): any substring
    of length >= k+w-1 (= 11 at the defaults k=8, w=4) shared by two
    documents yields at least one shared fingerprint, REGARDLESS of
    the surrounding text — the property that makes winnow sets a
    sound dedup signal rather than a heuristic."""
    from aws_csp_datapipeline_spark.functions.text import winnow_fingerprints

    a = prefix_a + shared + suffix_a
    b = prefix_b + shared + suffix_b
    df = spark.createDataFrame([(1, a), (2, b)], "id long, t string")
    rows = {
        r["id"]: set(r["fps"])
        for r in df.select(
            "id", winnow_fingerprints(F.col("t")).alias("fps")
        ).collect()
    }
    assert rows[1] & rows[2], (a, b)


def test_random_projection_preserves_norm_in_expectation(spark, sf_smoke):
    """JL unbiasedness: with ±1/sqrt(k) entries, E‖Pv‖² = ‖v‖².
    Averaged over 500 vectors the ratio concentrates near 1
    (per-vector variance 2/k), so a loose corpus-level band is a
    real invariant, not a tautology."""
    from pyspark.sql import functions as F

    from aws_csp_datapipeline_spark.catalog import load_table
    from aws_csp_datapipeline_spark.functions.similarity import _as_double, dot
    from aws_csp_datapipeline_spark.functions.vectors import (
        rademacher_signs,
        random_projection,
    )

    e = load_table(spark, sf_smoke, "embeddings")
    signs = rademacher_signs(8, 64)
    projected = e.select(
        dot(_as_double(F.col("embedding")), _as_double(F.col("embedding"))).alias(
            "orig_sq"
        ),
        *random_projection(F.col("embedding"), signs),
    )
    proj_sq = sum(F.col(f"p{j}") * F.col(f"p{j}") for j in range(8))
    row = projected.agg(
        F.avg(proj_sq / F.col("orig_sq")).alias("ratio")
    ).collect()[0]
    assert 0.9 < row["ratio"] < 1.1


def test_cluster_aware_split_has_no_neardup_leakage(spark, sf_oracle):
    """The invariant tt12 exists for: no near-dup pair straddles the
    train/test boundary (contrast: the plain doc-id hash split DOES
    leak on this corpus, asserted below so the test can't pass
    vacuously)."""
    from pyspark.sql import functions as F

    from aws_csp_datapipeline_spark.catalog import load_table
    from aws_csp_datapipeline_spark.functions import dedup as D
    from aws_csp_datapipeline_spark.functions import sampling as SMP
    from aws_csp_datapipeline_spark.plans.q_sampling import (
        tt12_cluster_aware_split,
    )

    d = load_table(spark, sf_oracle, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", threshold=0.8, k=32, bands=16, n=3
    ).select("doc_a", "doc_b").persist()
    assert pairs.count() > 0

    def straddles(split_df):
        s = split_df.select("doc_id", "split")
        return (
            pairs.join(s.withColumnRenamed("doc_id", "doc_a"), "doc_a")
            .withColumnRenamed("split", "split_a")
            .join(s.withColumnRenamed("doc_id", "doc_b"), "doc_b")
            .filter(F.col("split_a") != F.col("split"))
            .count()
        )

    clustered = tt12_cluster_aware_split(spark, sf_oracle)
    naive = SMP.hash_split(d.select("doc_id"), "doc_id", 0.75)
    n_clustered, n_naive = straddles(clustered), straddles(naive)
    pairs.unpersist()
    assert n_clustered == 0
    assert n_naive > 0  # the mode this operator eliminates


def test_lsh_equals_exact_on_generated_corpora(spark):
    """Generative guard for the LSH path (banding + signature
    pre-filter + exact verify): on corpora of documents with planted
    near-duplicates (small word-level perturbations) and unrelated
    documents, minhash_lsh_pairs must output exactly the
    ngram_jaccard_pairs set. Deterministic seeds — this pins the
    banding/pre-filter recall knobs against future tuning."""
    import random

    from aws_csp_datapipeline_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(200)]
        docs = []
        doc_id = 0
        for base in range(12):
            words = [rng.choice(vocab) for _ in range(60)]
            docs.append((doc_id, " ".join(words)))
            doc_id += 1
            # 0-2 near-dup copies with 0-3 word substitutions
            for _ in range(rng.randint(0, 2)):
                w = list(words)
                for _ in range(rng.randint(0, 3)):
                    w[rng.randrange(len(w))] = rng.choice(vocab)
                docs.append((doc_id, " ".join(w)))
                doc_id += 1
        df = spark.createDataFrame(docs, "doc_id long, text string")
        lsh = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_pairs(df, "text", "doc_id").collect()
        }
        exact = {
            (r["doc_a"], r["doc_b"])
            for r in ngram_jaccard_pairs(
                df, "text", "doc_id", threshold=0.8
            ).collect()
        }
        assert lsh == exact, f"seed {seed}: {lsh ^ exact}"
        assert exact  # planted dups must actually produce pairs


def test_auto_semdedup_quantizer_selection():
    """Quantizer selection (SCALE.md "d10 beyond the sign-bit cap"):
    pure sign bits — identical to auto_sign_bits — up to exactly
    64 * 2^14 = 1,048,576 vectors (covers every attested corpus),
    KMeans-composed cells beyond, with total cells tracking N/64."""
    from aws_csp_datapipeline_spark.functions.similarity import (
        auto_ivf_cells,
        auto_semdedup_quantizer,
        auto_sign_bits,
    )

    for n in (200, 2_000, 4_096, 4_097, 200_000, 1_048_576):
        assert auto_semdedup_quantizer(n) == (0, auto_sign_bits(n))
    for n in (1_048_577, 2_000_000, 20_000_000):
        cells, sub = auto_semdedup_quantizer(n)
        assert cells == min(256, auto_ivf_cells(n)) and cells > 0
        total = cells * (1 << sub)
        # cells track the target population within the 2x rounding of
        # the power-of-two sub-split
        assert n / 64 <= total <= 2 * (n / 64) * 2


def test_semdedup_ivf_cells_flags_are_valid_and_deterministic(spark, sf_smoke):
    """The composite-quantizer path is a VALID semdedup output: with
    the returned buckets as ground truth, a vector is dropped iff a
    lower-id cell-mate sits within the threshold — and the whole
    assignment is deterministic across runs (seeded KMeans sample +
    fixed seed)."""
    import math

    from aws_csp_datapipeline_spark.functions.similarity import semdedup_flags

    e = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    kw = dict(threshold=0.45, sign_bits=2, ivf_cells=4)
    rows = semdedup_flags(e, "embedding", "vec_id", **kw).collect()
    assert len(rows) == e.count()
    again = semdedup_flags(e, "embedding", "vec_id", **kw).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # composite id arithmetic: bucket in [0, ivf_cells * 2^sign_bits)
    assert all(0 <= r["bucket"] < 4 * (1 << 2) for r in rows)

    vec = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.select("vec_id", "embedding").collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r["vec_id"])
    for r in rows:
        mates = [
            i for i in by_bucket[r["bucket"]]
            if i < r["vec_id"] and cos(vec[i], vec[r["vec_id"]]) >= 0.45
        ]
        assert r["kept"] == (not mates), (r["vec_id"], r["kept"], mates[:3])


def test_semdedup_ivf_path_preserves_null_vector_rows(spark):
    """Beyond-cap contract edge: a record with a NULL embedding must
    still get exactly one flag row with kept=True (cosine with NULL is
    NULL -> never a match), not be silently dropped by the collapse's
    null-rejecting equi-joins, and must not poison the KMeans fit."""
    from pyspark.sql import Row

    from aws_csp_datapipeline_spark.functions.similarity import semdedup_flags

    rows = [Row(vec_id=i, embedding=[float(i % 7) - 3.0, 1.0, -1.0, 0.5])
            for i in range(40)]
    rows += [Row(vec_id=100, embedding=None), Row(vec_id=101, embedding=None)]
    # two exact replicas so the collapse path actually collapses
    rows += [Row(vec_id=200, embedding=[9.0, 9.0, 9.0, 9.0]),
             Row(vec_id=201, embedding=[9.0, 9.0, 9.0, 9.0])]
    df = spark.createDataFrame(rows)
    out = semdedup_flags(df, "embedding", "vec_id",
                         threshold=0.99, sign_bits=1, ivf_cells=2)
    got = {r["vec_id"]: r for r in out.collect()}
    assert len(got) == len(rows)  # one flag row per input record
    for nid in (100, 101):
        assert got[nid]["kept"] is True
        assert got[nid]["bucket"] == 0
    # the replica pair collapsed: lower id kept, higher dropped
    assert got[200]["kept"] is True and got[201]["kept"] is False


def test_lm_perplexity_orders_fluent_below_noise(spark, tmp_path):
    """t25's model contract on a planted corpus: documents made of
    the corpus's dominant bigrams score LOWER perplexity than a
    document of bigrams seen nowhere else (smoothing floor), and
    n_bigrams = token count - 1."""
    from aws_csp_datapipeline_spark.plans.registry import queries
    import os

    rows = [(i, "the cat sat on the mat", "src") for i in range(20)]
    rows.append((100, "zq xv qj kw zq xv", "src"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))

    out = {
        r["doc_id"]: (r["n_bigrams"], r["ppl"])
        for r in queries()["t25_lm_perplexity"](spark, sf_dir).collect()
    }
    assert out[0][0] == 5  # 6 tokens -> 5 bigrams
    assert out[100][0] == 5
    fluent_ppl = out[0][1]
    noise_ppl = out[100][1]
    assert fluent_ppl < noise_ppl
    # all 20 fluent copies score identically (same bigrams)
    assert len({out[i][1] for i in range(20)}) == 1


def test_ccnet_buckets_oov_floor_and_terciles(spark, tmp_path):
    """t26's out-of-vocabulary contract on a planted corpus: a target
    document made of reference bigrams lands in 'head', one with
    bigrams the reference never saw lands in 'tail' (its probability
    is the smoothing floor, never dropped by the join), and the
    terciles partition all scored docs."""
    from aws_csp_datapipeline_spark.plans.registry import queries
    import os

    rows = [(i, "the cat sat on the mat", "src0") for i in range(10)]
    rows += [(100, "the cat sat on the mat", "srcX"),
             (101, "qq ww ee rr tt yy", "srcX"),
             (102, "the cat sat qq ww ee", "srcX")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))

    out = {r["doc_id"]: r for r in queries()["t26_ccnet_buckets"](spark, sf_dir).collect()}
    assert set(out) == {100, 101, 102}  # reference docs are not scored
    assert out[100]["bucket"] == "head"    # pure reference bigrams
    assert out[101]["bucket"] == "tail"    # pure OOV -> floor ppl
    assert out[100]["ppl"] < out[102]["ppl"] < out[101]["ppl"]
    assert out[101]["n_bigrams"] == 5      # OOV bigrams are NOT dropped


def test_ccnet_buckets_tile_formula_on_heavy_ties(spark, tmp_path):
    """The two-phase distributed NTILE in t26 must match DuckDB's
    NTILE exactly when one ppl value straddles tercile boundaries:
    9 identical-text target docs (one tie group) split 3/3/3 across
    head/middle/tail by doc_id — the intra-value row_number and the
    closed-form bucket expression carry the whole assignment."""
    import os

    import duckdb

    from aws_csp_datapipeline_spark.plans.registry import oracle_sql, queries

    rows = [(i, "the cat sat on the mat", "src0") for i in range(5)]
    rows += [(100 + j, "the cat sat on the mat", "srcX") for j in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))

    got = {
        r["doc_id"]: r["bucket"]
        for r in queries()["t26_ccnet_buckets"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}/*.parquet')"
    )
    want = {
        r[0]: r[3]
        for r in con.execute(oracle_sql()["t26_ccnet_buckets"]).fetchall()
    }
    assert got == want
    assert [got[100 + j] for j in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )


_SCORED = st.lists(
    st.tuples(st.integers(0, 12), st.booleans()),
    min_size=1,
    max_size=60,
)


@given(rows=_SCORED)
@settings(**SETTINGS)
def test_roc_auc_property_vs_rank_reference(spark, rows):
    """roc_auc == the average-rank Mann-Whitney statistic for ANY
    score/label multiset, including all-one-class (NULL) and total-tie
    cases hypothesis likes to find."""
    from aws_csp_datapipeline_spark.functions.mleval import roc_auc

    df = spark.createDataFrame(
        [(float(s), int(y)) for s, y in rows], "score double, label int"
    )
    got = roc_auc(df, "score", "label").collect()[0]
    scores = [s for s, _ in rows]
    labels = [int(y) for _, y in rows]
    n_pos, n_neg = sum(labels), len(labels) - sum(labels)
    assert (got["n_pos"], got["n_neg"]) == (n_pos, n_neg)
    if n_pos == 0 or n_neg == 0:
        assert got["auc"] is None
        return
    # average ranks, computed independently
    order = sorted(range(len(scores)), key=lambda i: scores[i])
    ranks = [0.0] * len(scores)
    i = 0
    while i < len(order):
        j = i
        while j < len(order) and scores[order[j]] == scores[order[i]]:
            j += 1
        avg = (i + 1 + j) / 2.0
        for idx in order[i:j]:
            ranks[idx] = avg
        i = j
    rpos = sum(r for r, y in zip(ranks, labels) if y)
    want = (rpos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
    assert got["auc"] == pytest.approx(want, abs=1e-12)


@given(rows=_SCORED)
@settings(**SETTINGS)
def test_pr_auc_property_vs_step_reference(spark, rows):
    from aws_csp_datapipeline_spark.functions.mleval import pr_auc

    df = spark.createDataFrame(
        [(float(s), int(y)) for s, y in rows], "score double, label int"
    )
    got = pr_auc(df, "score", "label").collect()[0]
    labels = [int(y) for _, y in rows]
    n_pos = sum(labels)
    assert got["n_pos"] == n_pos
    if n_pos == 0:
        assert got["ap"] is None
        return
    ap, tp, kept = 0.0, 0, 0
    for t in sorted({s for s, _ in rows}, reverse=True):
        d_tp = sum(1 for s, y in rows if s == t and y)
        tp += d_tp
        kept += sum(1 for s, _ in rows if s == t)
        ap += (d_tp / n_pos) * (tp / kept)
    assert got["ap"] == pytest.approx(ap, abs=1e-12)
    assert 0.0 < got["ap"] <= 1.0


@given(rows=_SCORED)
@settings(**SETTINGS)
def test_threshold_sweep_property_invariants(spark, rows):
    """Structural invariants for any input: one row per distinct
    score, tp+fp monotone in descending threshold, last row keeps
    everything, precision/recall/f1 consistent with the counts."""
    from aws_csp_datapipeline_spark.functions.mleval import threshold_sweep

    df = spark.createDataFrame(
        [(float(s), int(y)) for s, y in rows], "score double, label int"
    )
    out = sorted(
        threshold_sweep(df, "score", "label").collect(),
        key=lambda r: -r["s"],
    )
    n = len(rows)
    n_pos = sum(y for _, y in rows)
    assert len(out) == len({s for s, _ in rows})
    assert out[-1]["tp"] == n_pos and out[-1]["tp"] + out[-1]["fp"] == n
    prev_kept = 0
    for r in out:
        kept = r["tp"] + r["fp"]
        assert kept > prev_kept
        prev_kept = kept
        assert r["tp"] + r["fn"] == n_pos
        assert r["precision"] == r["tp"] / kept
        assert r["f1"] == 2 * r["tp"] / (2 * r["tp"] + r["fp"] + r["fn"])
