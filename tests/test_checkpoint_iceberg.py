"""The checkpoint catalog's parquet + ``_meta.json`` sidecar layout (an
Iceberg-style snapshot: fingerprint, schema, observed rows)."""

from __future__ import annotations

from neural_locality_sensitive_hashing_spark.sources.checkpoint import CheckpointCatalog


def test_sidecar_path_unchanged(spark, tmp_path):
    cat = CheckpointCatalog(spark, str(tmp_path))
    out = cat.write_snapshot(spark.range(7), "stage_y", "fp2")
    assert out.count() == 7
    assert cat.meta("stage_y")["rows"] == 7
    assert cat.has_snapshot("stage_y", "fp2")
    assert not cat.has_snapshot("stage_y", "other-fp")
