"""Stage-boundary checkpointing + resume.

The reference checkpoints its global k-mer set to pickle every
``save_every`` files and can resume from it (code/dedup2.py:290-296,546,553).
Here every pipeline stage writes its output table to the run directory and
records completion in a manifest; a resumed run reuses any completed stage.

Format: plain Parquet stage tables with an atomically-renamed JSON manifest
as the completion marker — this is the implemented and tested mechanism.
Iceberg is a documented swap-in (replace the parquet write/read in
write_stage/read_stage with a DSv2 ``writeTo(...).createOrReplace()`` /
``read.format("iceberg")`` against a configured catalog, using the snapshot
id as the completion marker); the runtime jar is absent in this sandbox, so
no Iceberg code path is claimed as exercised here.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import types as T

_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")
_MANIFEST = re.compile(r"_STAGE_(.+)\.json$")


def _part_file_rows(path: str) -> dict[int, int]:
    """part number -> row count of a parquet output directory, from the
    files' footers (driver-side, no Spark job)."""
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for name in os.listdir(path):
        m = _PART_FILE.match(name)
        if m:
            pid = int(m.group(1))
            n = pq.read_metadata(os.path.join(path, name)).num_rows
            rows[pid] = rows.get(pid, 0) + n
    return rows


def observed_checkpoint(
    df: DataFrame, observe: dict[str, Column]
) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` (a lazy mark is not persisted
    under AQE, PLANS.md round 4) and the named aggregate columns, observed
    on that checkpoint job itself: no job of their own. The values arrive,
    never block, on an empty ``df`` too."""
    obs = Observation()
    cut = df.observe(obs, *[c.alias(k) for k, c in observe.items()])
    return cut.localCheckpoint(eager=True), obs.get


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` as a parquet read reports it: Spark reads every field, array
    element and map value back as nullable (Scala's asNullable)."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
             for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


@dataclass
class RunContext:
    """A pipeline run rooted at ``run_dir`` (the config.json analogue,
    reference code/dedup2.py:513-515)."""

    spark: SparkSession
    run_dir: str
    config_json: str

    def __post_init__(self) -> None:
        os.makedirs(self.run_dir, exist_ok=True)
        cfg_path = os.path.join(self.run_dir, "config.json")
        if os.path.exists(cfg_path):
            with open(cfg_path) as f:
                existing = f.read()
            if existing != self.config_json:
                raise ValueError(
                    "run_dir holds a different config; refusing to resume "
                    "(matches the reference's overwrite guard, "
                    "code/dedup2.py:500-511)"
                )
        else:
            with open(cfg_path, "w") as f:
                f.write(self.config_json)

    # -- manifest ------------------------------------------------------------

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, f"_STAGE_{stage}.json")

    def _data_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, f"stage_{stage}")

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(self._manifest_path(stage))

    def write_stage(
        self, stage: str, df: DataFrame, observe: dict | None = None
    ) -> DataFrame:
        """Materialize a stage: parquet write + completion manifest, then
        return the re-read DataFrame (cuts lineage like an Iceberg snapshot).

        ``observe`` maps names to aggregate columns, attached with
        ``DataFrame.observe`` directly above the write so their values
        arrive with the write job itself, or to plain values the stage's
        build already measured on a job of its own. Both land in the
        manifest under ``observed``.

        Per-partition lineage: (partition_id, rows) for every written part
        file, read from the parquet footers on the driver — the analogue of
        the reference's per-file accounting that downstream scripts re-read
        (code/dedup2.py:534-539). partition_id is the part number in the
        file name. No Spark job: the manifest's rows is the footers' sum.
        The list lands in the manifest itself, so one atomic rename records
        the stage, its counts and its partitions, and a write touches no
        file of another stage.

        The re-read takes the written DataFrame's schema (as a parquet
        read would report it, recorded in the manifest), so Spark runs no
        schema-inference job over the part files."""
        path = self._data_path(stage)
        observe = observe or {}
        cols = {k: c for k, c in observe.items() if isinstance(c, Column)}
        observed = {k: v for k, v in observe.items() if k not in cols}
        obs = None
        if cols:
            obs = Observation()
            df = df.observe(obs, *[c.alias(k) for k, c in cols.items()])
        df.write.mode("overwrite").parquet(path)
        per_part = _part_file_rows(path)
        schema = _nullable(df.schema)
        out = self.spark.read.schema(schema).parquet(path)
        manifest = {
            "stage": stage,
            "path": path,
            "rows": sum(per_part.values()),
            "n_partitions": len(per_part),
            "partitions": [
                {"partition_id": pid, "rows": rows}
                for pid, rows in sorted(per_part.items())
            ],
            "observed": {**observed, **(obs.get if obs is not None else {})},
            "schema": schema.json(),
            "completed_at_unix": time.time(),
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path(stage))  # atomic completion marker
        return out

    def read_stage(self, stage: str) -> DataFrame:
        """A completed stage's table, read with its manifest's schema."""
        schema = T.StructType.fromJson(json.loads(self.manifest(stage)["schema"]))
        return self.spark.read.schema(schema).parquet(self._data_path(stage))

    def manifest(self, stage: str) -> dict:
        """A completed stage's manifest: rows, partitions, observed values,
        schema."""
        with open(self._manifest_path(stage)) as f:
            return json.load(f)

    def stage(
        self, name: str, build, observe: dict[str, Column] | None = None
    ) -> tuple[DataFrame, dict]:
        """Run ``build()`` unless the stage is already complete (resume);
        returns the stage's table and its lineage record, ``{rows,
        **observed}`` from its manifest. ``build()`` returns the table, or
        ``(table, measured)`` with values it measured on a job of its own,
        recorded with the observed ones."""
        if self.is_complete(name):
            df = self.read_stage(name)
        else:
            df = build()
            if isinstance(df, tuple):
                df, measured = df
                observe = {**(observe or {}), **measured}
            df = self.write_stage(name, df, observe)
        m = self.manifest(name)
        return df, {"rows": m["rows"], **m["observed"]}

    # -- lineage metrics -----------------------------------------------------

    def write_metrics(self, report: list[dict]) -> None:
        """Write the run report (one row per metrics stage, built from the
        stage manifests) to metrics.jsonl in one atomic replace."""
        path = os.path.join(self.run_dir, "metrics.jsonl")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(json.dumps(row) + "\n" for row in report)
        os.replace(tmp, path)

    def read_metrics(self) -> list[dict]:
        path = os.path.join(self.run_dir, "metrics.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    # -- per-partition counters ------------------------------------------------

    def read_counters(self, stage: str | None = None) -> list[dict]:
        """Per-partition (stage, partition_id, rows) lineage rows of every
        completed stage, or of ``stage`` only, from the stage manifests."""
        stages = [stage] if stage is not None else sorted(
            m.group(1)
            for m in map(_MANIFEST.match, os.listdir(self.run_dir))
            if m
        )
        return [
            {"stage": name, **part}
            for name in stages
            if self.is_complete(name)
            for part in self.manifest(name)["partitions"]
        ]
