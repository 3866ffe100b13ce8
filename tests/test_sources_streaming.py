"""Sources, sinks, and streaming-ingest tests against
reference-shaped fixtures (FIXTURES.md §F-C quirks)."""

import json
import os
import tempfile

import pytest

from pyspark.sql import functions as F

from aws_csp_datapipeline_spark.sources.csv_source import read_messy_csv
from aws_csp_datapipeline_spark.sources.sinks import json_envelope, json_lines

# Reproduces every hazard in the reference's sample CSV: quoted commas,
# embedded newlines, doubled quotes, N/A and empty nulls, messy dates,
# trailing-space enums.
MESSY_CSV = (
    's_no,team_name,tool_name,description,created_date,reused\n'
    '1,FCS,Tool A,"plain text",23-Dec,yes\n'
    '2,GCSS,Tool B,"has, a comma and ""quoted"" words",Feb-25,No\n'
    '3,CMS,Tool C,"multi\nline\ncell",2013,N/A\n'
    '4,CCS,Tool D,,-,"Internal "\n'
)


def _write_fixture(tmpdir: str) -> str:
    path = os.path.join(tmpdir, "messy.csv")
    with open(path, "w") as f:
        f.write(MESSY_CSV)
    return path


def test_messy_csv_roundtrip(spark):
    with tempfile.TemporaryDirectory() as d:
        df = read_messy_csv(spark, _write_fixture(d))
        rows = {r["s_no"]: r.asDict() for r in df.collect()}
        # 4 logical rows despite embedded newlines
        assert len(rows) == 4
        assert rows["2"]["description"] == 'has, a comma and "quoted" words'
        assert rows["3"]["description"] == "multi\nline\ncell"
        # N/A and empty become NULL at parse time
        assert rows["3"]["reused"] is None
        assert rows["4"]["description"] is None
        # trailing-space enum survives parsing (folding is a cleaning op)
        assert rows["4"]["reused"] == "Internal "


def test_json_envelope(spark, sf_smoke):
    nation = spark.read.parquet(f"{sf_smoke}/nation.parquet")
    filtered = nation.filter(F.col("n_nationkey") < 3)
    env = json.loads(json_envelope(filtered, limit=150))
    assert env["total_count"] == 3
    assert {r["n_nationkey"] for r in env["records"]} == {0, 1, 2}

    # limit=0 is a legitimate bound (count-only envelope), not a
    # truthiness edge that silently full-collects
    env0 = json.loads(json_envelope(filtered, limit=0))
    assert env0["total_count"] == 3 and env0["records"] == []


def test_json_envelope_ordered_prefix_deterministic(spark, sf_smoke):
    """ADVICE r7: a truncated envelope with order_by is the
    deterministic ordered prefix (the reference's LIMIT 150 queries
    carry ORDER BY s_no), while total_count still counts all rows."""
    nation = spark.read.parquet(f"{sf_smoke}/nation.parquet")
    env = json.loads(json_envelope(nation, limit=5, order_by="n_nationkey"))
    assert env["total_count"] == 25
    assert [r["n_nationkey"] for r in env["records"]] == [0, 1, 2, 3, 4]
    # identical across runs
    env2 = json.loads(json_envelope(nation, limit=5, order_by="n_nationkey"))
    assert env == env2


def test_json_envelope_guards_full_collect(spark, sf_smoke):
    nation = spark.read.parquet(f"{sf_smoke}/nation.parquet")
    with pytest.raises(ValueError, match="allow_full_collect"):
        json_envelope(nation)
    env = json.loads(json_envelope(nation, allow_full_collect=True))
    assert env["total_count"] == 25 and len(env["records"]) == 25


def test_json_lines_distributed(spark, sf_smoke):
    region = spark.read.parquet(f"{sf_smoke}/region.parquet")
    out = json_lines(region)
    assert out.count() == 5
    parsed = json.loads(out.head()[0])
    assert "r_regionkey" in parsed


def test_stream_ingest_matches_batch_dedup(spark, sf_smoke):
    """The streaming ingest (checkpoint + foreachBatch dedup) must
    land exactly the batch dedup result — the exactly-once contract."""
    from aws_csp_datapipeline_spark.plans.registry import queries

    qs = queries()
    streamed = qs["st1_stream_ingest_dedup"](spark, sf_smoke)
    batch = qs["m7_dedup_by_keys"](spark, sf_smoke)
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_orc_roundtrip(spark, sf_smoke):
    from aws_csp_datapipeline_spark.sources.formats import read_orc, write_orc

    with tempfile.TemporaryDirectory() as d:
        nation = spark.read.parquet(f"{sf_smoke}/nation.parquet")
        write_orc(nation, f"{d}/nation_orc")
        back = read_orc(spark, f"{d}/nation_orc")
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, nation.collect())
        )


def test_multimodal_features_shape(spark, sf_smoke):
    from aws_csp_datapipeline_spark.plans.registry import queries

    feats = queries()["mm1_media_features"](spark, sf_smoke)
    rows = feats.collect()
    assert len(rows) > 0
    r = rows[0]
    assert r["n_bytes"] > 0 and 0.0 <= r["mean_byte"] <= 255.0
    assert 64 <= r["width"] <= 255 and r["channels"] in (1, 3)


def test_multimodal_resize_fixed_shape(spark, sf_smoke):
    """mm3: every output payload must be exactly width*height bytes
    (the fixed-tensor-shape contract real resizing provides), and the
    fake resample must be deterministic per doc."""
    from aws_csp_datapipeline_spark.plans.registry import queries

    out = queries()["mm3_resize_images"](spark, sf_smoke)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["n_out_bytes"] == 32 * 24 for r in rows)
    again = {r["doc_id"]: r["n_out_bytes"] for r in out.collect()}
    assert all(again[r["doc_id"]] == r["n_out_bytes"] for r in rows)


def test_stream_stream_join_matches_batch(spark, sf_smoke):
    """The st4 stream-stream attribution join must equal the identical
    batch join expression over the same events."""
    from aws_csp_datapipeline_spark.catalog import load_table
    from aws_csp_datapipeline_spark.plans.registry import queries
    from aws_csp_datapipeline_spark.streaming.ingest import attribution_join

    streamed = queries()["st4_stream_stream_join"](spark, sf_smoke)

    ev = load_table(spark, sf_smoke, "events")
    batch = attribution_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    ).groupBy("user_id").agg(F.count(F.lit(1)).alias("n_attributed"))

    got = sorted(map(tuple, streamed.collect()))
    exp = sorted(map(tuple, batch.collect()))
    assert got == exp and len(got) > 0


def test_stream_dedup_watermark_covers_all_keys(spark, sf_smoke):
    """st9: every (user_id, event_type) key must appear EXACTLY once
    in the deduped stream output (keys re-observed within the
    watermark horizon are dropped), and the key set must equal the
    batch distinct key set."""
    from aws_csp_datapipeline_spark.catalog import load_table
    from aws_csp_datapipeline_spark.plans.registry import queries

    out = queries()["st9_stream_dedup_watermark"](spark, sf_smoke)
    got = [(r["user_id"], r["event_type"]) for r in out.collect()]
    assert len(got) == len(set(got))
    ev = load_table(spark, sf_smoke, "events")
    want = {
        (r["user_id"], r["event_type"])
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert set(got) == want
