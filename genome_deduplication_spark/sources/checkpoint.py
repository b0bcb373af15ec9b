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
        self, stage: str, df: DataFrame, observe: dict[str, Column] | None = None
    ) -> DataFrame:
        """Materialize a stage: parquet write + completion manifest, then
        return the re-read DataFrame (cuts lineage like an Iceberg snapshot).

        ``observe`` maps names to aggregate columns. They are attached with
        ``DataFrame.observe`` directly above the write, so their values
        arrive with the write job itself and land in the manifest under
        ``observed``.

        Per-partition lineage: (partition_id, rows) for every written part
        file, read from the parquet footers on the driver — the analogue of
        the reference's per-file accounting that downstream scripts re-read
        (code/dedup2.py:534-539). partition_id is the part number in the
        file name. No Spark job: the manifest's rows is the footers' sum.

        The re-read takes the written DataFrame's schema (as a parquet
        read would report it, recorded in the manifest), so Spark runs no
        schema-inference job over the part files."""
        path = self._data_path(stage)
        obs = None
        if observe:
            obs = Observation()
            df = df.observe(obs, *[c.alias(k) for k, c in observe.items()])
        df.write.mode("overwrite").parquet(path)
        per_part = _part_file_rows(path)
        self._replace_stage_counters(
            stage,
            (
                {
                    "stage": stage,
                    "kind": "partition_rows",
                    "partition_id": pid,
                    "rows": rows,
                }
                for pid, rows in sorted(per_part.items())
            ),
        )
        schema = _nullable(df.schema)
        out = self.spark.read.schema(schema).parquet(path)
        manifest = {
            "stage": stage,
            "path": path,
            "rows": sum(per_part.values()),
            "n_partitions": len(per_part),
            "observed": obs.get if obs is not None else {},
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
        """A completed stage's manifest: rows, observed values, schema."""
        with open(self._manifest_path(stage)) as f:
            return json.load(f)

    def stage(
        self, name: str, build, observe: dict[str, Column] | None = None
    ) -> DataFrame:
        """Run ``build()`` unless the stage is already complete (resume)."""
        if self.is_complete(name):
            return self.read_stage(name)
        return self.write_stage(name, build(), observe)

    # -- lineage metrics -----------------------------------------------------

    def record_metrics(self, stage: str, metrics: dict[str, int | float]) -> None:
        """Record a stage's lineage metrics, replacing any earlier row for
        the same stage (atomic rewrite) so a redone stage cannot leave
        duplicate rows — the metrics.jsonl twin of _replace_stage_counters'
        exactly-once invariant."""
        path = os.path.join(self.run_dir, "metrics.jsonl")
        kept: list[str] = []
        if os.path.exists(path):
            with open(path) as f:
                kept = [
                    line
                    for line in f
                    if line.strip() and json.loads(line).get("stage") != stage
                ]
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(kept)
            f.write(json.dumps({"stage": stage, **metrics}) + "\n")
        os.replace(tmp, path)

    def read_metrics(self) -> list[dict]:
        path = os.path.join(self.run_dir, "metrics.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    # -- per-partition counters ------------------------------------------------

    def _counters_path(self) -> str:
        return os.path.join(self.run_dir, "counters.jsonl")

    def _replace_stage_counters(self, stage: str, rows) -> None:
        """Atomically replace this stage's counter rows (keep other stages').

        Counters land BEFORE the stage manifest; a crash between the two
        makes the resumed run redo the stage — a plain append would then
        leave two sets of rows and break the exactly-once invariant (sum ==
        manifest rows). Dropping the stage's old rows first makes the redo
        idempotent.

        Single-writer contract: a run_dir belongs to exactly one RunContext
        at a time (the config guard enforces same-config, not mutual
        exclusion) — this read-modify-write is unlocked by design, matching
        the reference's one-process-per-run checkpoint files
        (code/dedup2.py:290-296)."""
        path = self._counters_path()
        kept: list[str] = []
        if os.path.exists(path):
            with open(path) as f:
                kept = [
                    line
                    for line in f
                    if line.strip() and json.loads(line).get("stage") != stage
                ]
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(kept)
            for row in rows:
                f.write(json.dumps(row) + "\n")
        os.replace(tmp, path)

    def read_counters(self, stage: str | None = None) -> list[dict]:
        """Per-partition (stage, partition_id, rows) lineage rows; resumed
        runs skip completed stages so counters are written exactly once.
        Defensively dedupes by (stage, kind, partition_id), last write
        wins, in case an old-format file carries duplicates."""
        if not os.path.exists(self._counters_path()):
            return []
        with open(self._counters_path()) as f:
            out = [json.loads(line) for line in f if line.strip()]
        if stage is not None:
            out = [r for r in out if r["stage"] == stage]
        dedup: dict[tuple, dict] = {}
        for r in out:
            dedup[(r["stage"], r.get("kind"), r.get("partition_id"))] = r
        return list(dedup.values())
