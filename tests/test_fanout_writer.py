"""The one fan-out writer (router.write_sinks) behind both pipelines:
streaming sinks render like batch sinks, formats that cannot append are
rejected before a query starts, and the batch manifest takes its row
counts from observe() on the frames the run already computes."""

import glob
import json
import os

import pytest

from fluent_bit_spark.pipeline import (
    enrich_stage,
    filter_stage,
    parse_stage,
    run_pipeline,
    tag_stage,
)
from fluent_bit_spark.router import SinkSpec, write_sinks
from fluent_bit_spark.streaming import PAGES_SCHEMA, run_pipeline_stream, tail_source
from fluent_bit_spark.webgen import generate, geo_dict, lang_dict


def _lines(sink_dir):
    out = []
    for p in glob.glob(os.path.join(sink_dir, "part-*")):
        with open(p, encoding="utf-8") as fh:
            out.extend(fh.read().splitlines())
    return sorted(out)


def test_stream_json_sink_matches_batch_writer(spark, tmp_path):
    src = str(tmp_path / "in")
    generate(spark, 400, partitions=2).write.parquet(src)
    sinks = [
        SinkSpec("js", match="web.ok.*", fmt="json"),
        SinkSpec("errs", match="web.*error*"),
    ]

    q = run_pipeline_stream(
        spark, tail_source(spark, src), str(tmp_path / "stream"), sinks,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    pages = spark.read.schema(PAGES_SCHEMA).parquet(src)
    batch = tag_stage(
        enrich_stage(filter_stage(parse_stage(pages)), geo_dict(spark), lang_dict(spark))
    )
    counts = write_sinks(batch, sinks, str(tmp_path / "batch"))

    got = _lines(str(tmp_path / "stream" / "js"))
    want = _lines(str(tmp_path / "batch" / "js"))
    assert len(want) == counts["js"] > 0
    assert got == want
    # fluent-bit JSON lines, not Spark's typed-column writer output
    assert json.loads(got[0])["tag"].startswith("web.ok.")
    errs = spark.read.parquet(str(tmp_path / "stream" / "errs")).count()
    assert errs == counts["errs"] > 0


@pytest.mark.parametrize("fmt", ["msgpack", "forward", "td"])
def test_stream_rejects_self_named_sinks_before_start(spark, tmp_path, fmt):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    generate(spark, 50, partitions=1).write.parquet(src)
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="cannot be appended"):
        run_pipeline_stream(
            spark, tail_source(spark, src), out,
            [SinkSpec("ok", match="web.ok.*"), SinkSpec("packed", fmt=fmt)],
        )
    assert len(spark.streams.active) == active
    assert not os.path.exists(out)


def test_write_sinks_append_rejects_self_named_sinks(spark, tmp_path):
    df = spark.createDataFrame([("a.b", 1)], "tag string, v long")
    with pytest.raises(ValueError, match="cannot be appended"):
        write_sinks(df, [SinkSpec("mp", fmt="msgpack")], str(tmp_path), mode="append")
    assert not os.path.exists(tmp_path / "mp")


def test_manifest_keys_and_observed_counts(spark, tmp_path):
    n = 1200
    pages = generate(spark, n, with_expected=True)
    res = run_pipeline(spark, pages, str(tmp_path / "out"), run_id="obs1")
    with open(res.manifest_path) as fh:
        manifest = json.load(fh)
    assert set(manifest) == {
        "run_id", "input_rows", "parsed_rows", "duration_sec",
        "spark_parallelism", "shuffle_partitions", "sinks",
    }
    # the oracle of tests/test_pipeline.py: every generated row carries a
    # numeric status code, so filter_stage keeps it, and the bot rewrite
    # (keep=False) re-tags rows without duplicating them
    rows = pages.select("expected_code").collect()
    parsed = sum(1 for r in rows if r["expected_code"].isdigit())
    assert manifest["input_rows"] == res.input_rows == n
    assert manifest["parsed_rows"] == res.parsed_rows == parsed
    assert {k: v["rows"] for k, v in manifest["sinks"].items()} == res.sink_counts
