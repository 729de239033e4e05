"""``multimodal.map_rows`` — the one Arrow stage of the codec and
container modules: a source guard that keeps it the only one, the
empty-input contract, and the NULL rule (a row with a NULL in any
mapped column gives no output row)."""

from __future__ import annotations

import ast
import os

import pytest

from amazonredshift_blueprints_spark.operators import multimodal as mm
from amazonredshift_blueprints_spark.operators import warc

BIG = 2**60 + 1  # above 2**53: a float64 round trip would change it

_STAGE_CALLS = ("mapInPandas", "rebalance_for_compute")


def _stage_violations(path: str) -> list[str]:
    """Calls of ``mapInPandas``/``rebalance_for_compute`` and nested
    functions taking ``batches`` anywhere outside ``map_rows``."""
    tree = ast.parse(open(path).read())
    helper = {
        id(n)
        for top in tree.body
        if isinstance(top, ast.FunctionDef) and top.name == "map_rows"
        for n in ast.walk(top)
    }
    out = []
    for top in tree.body:
        for node in ast.walk(top):
            if id(node) in helper:
                continue
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if name in _STAGE_CALLS:
                    out.append(f"{path}:{node.lineno}: {name}")
            if (
                isinstance(node, (ast.FunctionDef, ast.Lambda))
                and node is not top
                and any(a.arg == "batches" for a in node.args.args)
            ):
                out.append(f"{path}:{node.lineno}: nested fn takes batches")
    return out


def test_map_rows_is_the_only_arrow_stage():
    paths = [os.path.abspath(m.__file__) for m in (mm, warc)]
    assert [v for p in paths for v in _stage_violations(p)] == []


def _payloads(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_empty_input_gives_zero_rows_with_the_declared_schema(spark):
    empty = _payloads(spark, [])
    cases = [
        (mm.image_channel_stats(empty), mm.IMAGE_STATS_SCHEMA),
        (mm.synthesize_ppm_images(empty, "doc_id"), "doc_id long, payload binary"),
        (mm.sample_frames(empty), mm.FRAME_SCHEMA),
        (warc.warc_pages(empty), "doc_id long, url string, html string"),
    ]
    for out, schema in cases:
        want = spark.createDataFrame([], schema).schema
        assert [(f.name, f.dataType) for f in out.schema] == [
            (f.name, f.dataType) for f in want
        ]
        assert out.collect() == []


def test_null_rows_give_no_output_and_big_ids_stay_exact(spark):
    ppm = mm.encode_ppm([[[1, 2, 3], [4, 5, 6]]])
    df = _payloads(
        spark, [(None, ppm), (BIG, ppm), (7, None), (8, ppm)]
    ).coalesce(1)

    stats = {r["doc_id"]: r for r in mm.image_channel_stats(df).collect()}
    assert sorted(stats) == [8, BIG]
    assert (stats[BIG]["sum_r"], stats[BIG]["sum_b"]) == (5, 9)

    frames = mm.sample_frames(df, frame_size=4, stride=2).collect()
    assert {r["doc_id"] for r in frames} == {8, BIG}
    assert sorted(r["frame_idx"] for r in frames if r["doc_id"] == BIG) == [
        0, 2, 4,
    ]

    ids = spark.createDataFrame([(None,), (3,), (4,)], "doc_id long")
    synth = mm.synthesize_ppm_images(ids, "doc_id", side=2).collect()
    assert sorted(r["doc_id"] for r in synth) == [3, 4]
    assert bytes(synth[0]["payload"]).startswith(b"P6")


def test_null_filter_adds_no_exchange(spark):
    """The NULL filter sits under the map as a plain ``Filter``; on an
    input split at cluster parallelism the rebalance guard is a no-op,
    so the plan has no Exchange at all."""
    n = spark.sparkContext.defaultParallelism
    ids = spark.range(16, numPartitions=n).withColumnRenamed("id", "doc_id")
    out = mm.image_channel_stats(mm.synthesize_ppm_images(ids, "doc_id", side=2))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2
    assert "isnotnull(payload" in plan
    assert out.count() == 16


@pytest.mark.parametrize("bad", [b"P6\n4 4 ", b"P6\n12", b"P6\n# open"])
def test_p6_header_goes_through_the_shared_token_scan(bad):
    with pytest.raises(ValueError, match="truncated PNM header"):
        mm.decode_image(bad)
