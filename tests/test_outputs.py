"""OutputCreator surface (plans/outputs.py) and the metrics table
(plans/pipeline.py)."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE


def _load(spark):
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    return load_transcripts(spark, SF_SMOKE)


def test_output_kinds_roundtrip(spark, tmp_path):
    """Each output kind is a schema-stable terminal projection; writers
    produce readable files."""
    from uncharted_ta1_pipeline_spark.plans import outputs as out

    t = _load(spark).limit(200).cache()

    tab = out.tabular_output(t, ["conv_id", "turn_idx", "role"], "p1", "georef")
    assert tab.columns == ["pipeline_id", "pipeline_name", "conv_id", "turn_idx", "role"]
    assert tab.filter(F.col("pipeline_id") != "p1").count() == 0

    obj = out.object_output(t.select("conv_id", "turn_idx", "role", "tool"),
                            ["conv_id", "turn_idx"])
    assert obj.columns == ["conv_id", "turn_idx", "object_json"]
    row = obj.orderBy("conv_id", "turn_idx").first()
    assert "role" in json.loads(row.object_json)

    lst = out.list_output(t, "conv_id", ["turn_idx"], "role")
    one = lst.first()
    n = t.filter(F.col("conv_id") == one.conv_id).count()
    assert len(one.role_list) == n

    b = t.select("conv_id", "turn_idx", F.encode("text", "UTF-8").alias("blob"))
    byt = out.bytes_output(b, "blob", ["conv_id", "turn_idx"])
    r = byt.first()
    assert r.payload_len == len(r.payload) and len(r.payload_sha256) == 64

    mod = out.model_output(t.select("conv_id", "turn_idx", "role"), ["conv_id", "turn_idx"])
    assert mod.schema["record"].dataType.typeName() == "struct"
    assert mod.filter(F.col("schema_version") != out.SCHEMA_VERSION).count() == 0

    mlist = out.model_list_output(t.select("conv_id", "turn_idx", "role"), "conv_id",
                                  ["turn_idx"])
    assert mlist.columns == ["conv_id", "schema_version", "records"]

    emp = out.empty_output(spark, tab)
    assert emp.count() == 0 and emp.schema == tab.schema

    # writers
    out.write_output(tab, "tabular", str(tmp_path / "tab"))
    out.write_output(obj, "object", str(tmp_path / "obj"))
    out.write_output(mod, "model", str(tmp_path / "mod"))
    assert spark.read.option("header", True).csv(str(tmp_path / "tab")).count() == 200
    assert spark.read.json(str(tmp_path / "obj")).count() == 200
    assert spark.read.parquet(str(tmp_path / "mod")).count() == 200


def test_metrics_table(spark, tmp_path):
    """Pipeline metrics land as a schema-stable queryable table."""
    from uncharted_ta1_pipeline_spark.plans.pipeline import (
        Pipeline,
        Stage,
        metrics_table,
        write_feature_table,
    )

    t = _load(spark)
    wd = str(tmp_path / "wd")
    pipe = Pipeline(
        [Stage("s1", lambda d: d.withColumn("flag", F.lit(1)))], wd, n_buckets=4
    )
    final = pipe.run(spark, t, run_id="r1")
    m = metrics_table(spark, wd)
    rows = {r.stage_id: r for r in m.collect()}
    assert rows["s1"].run_id == "r1"
    assert rows["s1"].rows_out > 0 and rows["s1"].buckets_poisoned == 0

    fdir = str(tmp_path / "feat")
    write_feature_table(final.withColumn("part", F.lit("a")), fdir, ["part"])
    back = spark.read.parquet(fdir)
    assert back.count() == final.count()
    assert os.path.isdir(os.path.join(fdir, "part=a"))
