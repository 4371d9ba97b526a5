"""VariantType ingestion."""

from __future__ import annotations

from ig_etl_sync_spark.sources.variant import to_variant, variant_get


def test_variant_roundtrip(spark):
    df = spark.createDataFrame(
        [('{"a": {"b": [10, 20]}, "name": "x"}',), ('{"name": "y"}',)], "js string"
    )
    v = df.withColumn("doc", to_variant("js"))
    got = v.select(
        variant_get("doc", "$.a.b[1]", "int").alias("b1"),
        variant_get("doc", "name").alias("name"),
        variant_get("doc", "$.missing.path", "int").alias("miss"),
    ).collect()
    assert (got[0]["b1"], got[0]["name"], got[0]["miss"]) == (20, "x", None)
    assert (got[1]["b1"], got[1]["name"]) == (None, "y")  # tolerant of missing
