"""Checkpoint catalog: per-stage snapshot tables + per-file lineage.

The reference caches its expensive intermediate (self-kNN) to a file and
reloads it if present (``precompute.py:89-97``, ``nlsh/data.py:41-44``);
here every pipeline stage writes an idempotent snapshot table keyed by a
content fingerprint, so a killed job resumes at the first missing stage
and completed stages are never recomputed.

Storage is parquet directories with a ``_meta.json`` sidecar (an
Iceberg-style snapshot: fingerprint, schema, counts observed on the one
job that writes it). Reads take the sidecar's schema, so none runs a
schema-inference job. Lineage: every write appends one row per data file
(its footer's rows) to ``_lineage``; it and ``_metrics`` are appended by
pyarrow, without a Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

# the append tables' columns, as the Spark writer of earlier versions typed
# them, so a checkpoint dir holding both writers' files reads as one table
LINEAGE = pa.schema(
    [("stage", pa.string()), ("partition_id", pa.int32()), ("rows", pa.int64()),
     ("fingerprint", pa.string()), ("wall_ms", pa.int32())]
)
METRICS = pa.schema([("run_id", pa.string()), ("metric", pa.string()), ("value", pa.float64())])


class CheckpointCatalog:
    """Filesystem-backed stage snapshot catalog with lineage metrics."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _path(self, *parts: str) -> str:
        return os.path.join(self.base, *parts)

    # -- snapshots ----------------------------------------------------------

    def meta(self, stage: str) -> dict | None:
        """The stage's ``_meta.json``, or None when absent or unreadable."""
        try:
            with open(self._path(stage, "_meta.json")) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def has_snapshot(self, stage: str, fingerprint: str) -> bool:
        meta = self.meta(stage) or {}
        return meta.get("fingerprint") == fingerprint and meta.get("committed") is True

    def read_snapshot(self, stage: str) -> DataFrame:
        schema = StructType.fromJson(self.meta(stage)["schema"])
        return self.spark.read.schema(schema).parquet(self._path(stage, "data"))

    def write_snapshot(
        self, df: DataFrame, stage: str, fingerprint: str, **aggs: Column
    ) -> DataFrame:
        """Write stage output + meta + per-file lineage in one Spark job;
        returns a read of the snapshot (so downstream reads columnar
        parquet and the upstream lineage is cut — the checkpoint role in
        the fixpoint loop). The meta records ``rows`` and each of ``aggs``
        (name -> aggregate column) as observed on the write."""
        t0 = time.time()
        self.drop_snapshot(stage)
        data = self._path(stage, "data")
        obs = Observation(f"snapshot_{stage}")
        exprs = [col.alias(name) for name, col in aggs.items()]
        df.observe(obs, F.count(F.lit(1)).alias("rows"), *exprs).write.parquet(data)
        wall_ms = int((time.time() - t0) * 1000)
        # part-00003-<uuid>-c000.snappy.parquet: written by task partition 3
        files = sorted(f for f in os.listdir(data) if f.startswith("part-"))
        self._append("_lineage", LINEAGE, [
            (stage, int(f.split("-")[1]), pq.read_metadata(os.path.join(data, f)).num_rows,
             fingerprint, wall_ms)
            for f in files
        ])
        meta = {"stage": stage, "fingerprint": fingerprint, **obs.get,
                "schema": df.schema.jsonValue(), "wall_ms": wall_ms, "committed": True}
        with open(self._path(stage, "_meta.json"), "w") as f:
            json.dump(meta, f)
        return self.read_snapshot(stage)

    def drop_snapshot(self, stage: str) -> None:
        if os.path.exists(self._path(stage)):
            shutil.rmtree(self._path(stage))

    # -- append tables: lineage and metrics (S8: the reference's
    #    logger.log(name, value, step) sink, ``nlsh/loggers.py:6-97``) ------

    def _append(self, table: str, schema: pa.Schema, rows: list[tuple]) -> None:
        """Append one parquet file of ``rows``, written under a hidden name
        and renamed into place, so a reader never sees a partial file."""
        os.makedirs(self._path(table), exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        data = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
        pq.write_table(data, self._path(table, "." + name))
        os.replace(self._path(table, "." + name), self._path(table, name))

    def _read(self, table: str, schema: pa.Schema) -> DataFrame | None:
        if not os.path.exists(self._path(table)):
            return None
        return self.spark.read.schema(from_arrow_schema(schema)).parquet(self._path(table))

    def lineage(self) -> DataFrame | None:
        return self._read("_lineage", LINEAGE)

    def write_metrics(self, metrics: dict[str, float], run_id: str) -> None:
        self._append("_metrics", METRICS, [(run_id, k, float(v)) for k, v in metrics.items()])

    def metrics(self) -> DataFrame | None:
        return self._read("_metrics", METRICS)
