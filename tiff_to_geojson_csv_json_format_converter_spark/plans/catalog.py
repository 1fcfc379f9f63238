"""Iceberg-style table layout on parquet with snapshots + resume lineage.

The north rule requires jobs to be resumable mid-run with per-partition
lineage + metrics checkpointed to the table layer. This module provides
that with or without an Iceberg runtime: if the Iceberg Spark runtime
jars are present (``spark.sql.catalog...`` configured), callers can
point the same API at Iceberg tables; otherwise this adapter maintains
an identical layout on plain parquet:

    <root>/
      data/part_key=<k>/...parquet      (idempotent overwrite per partition)
      _schema.json                      (the writer's schema — pinned on
                                         every read so partition-directory
                                         type inference can never re-type
                                         keys: string '00' must not come
                                         back as int 0)
      _progress/...parquet              (one row per completed partition:
                                         part_key, n_rows, checksum,
                                         wall_ms, snapshot_id)
      _snapshots/<id>.json              (manifest: parts, totals, parent)

Resume semantics: ``run_partitioned_job`` skips any part_key already in
_progress with a matching checksum column; killed runs re-do only the
missing partitions, and per-partition dynamic overwrite keeps re-done
work idempotent (no duplicate rows) — SURVEY.md §G.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PROGRESS_SCHEMA = "part_key string, n_rows long, checksum long, wall_ms long, snapshot_id string"


class ParquetCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        os.makedirs(f"{self.root}/_snapshots", exist_ok=True)

    # -- progress / lineage ------------------------------------------------

    def completed_parts(self) -> dict[str, int]:
        """part_key -> checksum for everything already durable."""
        path = f"{self.root}/_progress"
        try:
            rows = self.spark.read.parquet(path).collect()
        except Exception:
            return {}
        return {r["part_key"]: r["checksum"] for r in rows}

    def _append_progress(self, rows: list[tuple]) -> None:
        df = self.spark.createDataFrame(rows, PROGRESS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(f"{self.root}/_progress")

    def _write_snapshot(self, snapshot_id: str, parts: list[str], meta: dict) -> None:
        manifest = {
            "snapshot_id": snapshot_id,
            "parts": sorted(parts),
            **meta,
        }
        with open(f"{self.root}/_snapshots/{snapshot_id}.json", "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)

    def snapshots(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(f"{self.root}/_snapshots")):
            with open(f"{self.root}/_snapshots/{name}") as f:
                out.append(json.load(f))
        return out

    # -- resumable partitioned write ----------------------------------------

    def run_partitioned_job(
        self,
        df: DataFrame,
        part_col: str,
        snapshot_id: str,
        parts: list[str] | None = None,
        checkpoint_every: int = 64,
    ) -> dict:
        """Write ``df`` partitioned by ``part_col`` with resume.

        Pending partitions are written in CHUNKS of ``checkpoint_every``
        (one dynamic-overwrite job + one _progress append per chunk): at
        10^3+ partitions the driver runs O(parts/64) jobs instead of
        O(parts), while a kill mid-run still loses at most one chunk of
        progress — every completed chunk's partitions are durable in
        _progress and skipped on resume. Dynamic overwrite keeps re-done
        partitions idempotent (each replaces only its own directory).
        """
        # record the writer's schema so every read() pins it (partition
        # type inference would otherwise re-type keys from dir names)
        with open(f"{self.root}/_schema.json", "w") as f:
            json.dump(df.schema.jsonValue(), f)
        # progress keys use the ENGINE's string rendering (cast to string),
        # never Python str(): the two disagree for bool ('true' vs 'True'),
        # decimals, timestamps — a mismatched key made the pending filter
        # select nothing while lineage recorded the partition complete.
        render_cols = [
            F.col(part_col).alias("pk"),
            F.col(part_col).cast("string").alias("pks"),
        ]
        if parts is not None and any(p is None for p in parts):
            raise ValueError(
                f"NULL partition keys unsupported: parts list for "
                f"{part_col!r} contains None. Filter NULL-keyed rows or "
                f"fill a sentinel key before writing."
            )
        if parts is None:
            # discovery mode: one distinct scan is unavoidable
            rendered = {r["pk"]: r["pks"]
                        for r in df.select(*render_cols).distinct().collect()}
            if None in rendered:
                # a NULL key is unwritable downstream: the native isin()
                # pending filter never matches NULL, so its rows would be
                # silently excluded and the data-loss guard would raise a
                # misleading 're-queue on the next run' RuntimeError on
                # every run — fail up front with the real cause instead
                raise ValueError(
                    f"NULL partition keys unsupported: column {part_col!r} "
                    f"has rows with NULL keys. Filter them or fill a "
                    f"sentinel key before writing."
                )
            parts = list(rendered.keys())
            present: set | None = set(rendered.keys())
        else:
            # explicit parts: render the LITERALS through the engine (a
            # local one-column frame — no scan of df); whether a requested
            # partition actually has rows is resolved lazily in _write_bulk,
            # and only for partitions the read-back did not observe
            try:
                lit_df = self.spark.createDataFrame(
                    [(p,) for p in parts], df.select(part_col).schema
                )
                rendered = {r["pk"]: r["pks"]
                            for r in lit_df.select(*render_cols).collect()}
            except Exception:
                # loosely-typed parts (ints against a string column, ...):
                # the strict literal frame rejects them but isin() coerces,
                # so keep the historical str() rendering for these
                rendered = {p: str(p) for p in parts}
            present = None
        key_of = lambda p: rendered.get(p, str(p))  # noqa: E731  (str only for parts absent from df, which write 0 rows)
        done = self.completed_parts()
        todo = [p for p in parts if key_of(p) not in done]
        written: list[str] = []
        for i in range(0, len(todo), max(checkpoint_every, 1)):
            written += self._write_bulk(
                df, part_col, todo[i:i + max(checkpoint_every, 1)],
                snapshot_id, key_of, present,
            )
        self._write_snapshot(
            snapshot_id,
            sorted({*done.keys(), *written}),
            {"new_parts": written, "skipped_parts": sorted(done.keys())},
        )
        return {"written": written, "skipped": sorted(done.keys())}

    def _write_bulk(self, df: DataFrame, part_col: str, todo: list,
                    snapshot_id: str, key_of, present: set | None) -> list[str]:
        """All pending partitions in ONE dynamic-overwrite write + ONE
        verification aggregate.

        The per-partition loop this replaces launched O(parts) jobs and
        re-filtered the input each time — a driver bottleneck at 10^3+
        partitions. Dynamic partitionOverwriteMode keeps the resume
        contract: re-done partitions replace only their own directory,
        untouched ones stay durable. Per-partition lineage (row count +
        order-insensitive checksum) comes from one groupBy over the
        written data; wall_ms records the shared job wall-clock (the
        per-part split is a profile concern, not a resume-correctness
        one).
        """
        t0 = time.perf_counter()
        keys = {key_of(p): p for p in todo}
        # NATIVE-value pending filter: no string rendering in the data path
        pend = df.filter(F.col(part_col).isin(list(todo)))
        (
            pend.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(f"{self.root}/data")
        )
        try:
            # read-back pins df's OWN schema: partition-directory type
            # inference would otherwise re-type the partition column from
            # its directory names (a string '00' comes back as int 0) and
            # the rendered keys would spuriously mismatch, tripping the
            # data-loss guard below forever. With the explicit schema the
            # native-value filter also prunes to this job's directories.
            back = (
                self.spark.read.option("basePath", f"{self.root}/data")
                .schema(df.schema).parquet(f"{self.root}/data/*")
                .filter(F.col(part_col).isin([keys[k] for k in keys]))
            )
            cols = [c for c in back.columns if c != part_col]
            per_part = (
                back.groupBy(F.col(part_col).cast("string").alias("part_key"))
                .agg(
                    F.count("*").alias("n_rows"),
                    F.bit_xor(F.xxhash64(*cols)).alias("checksum"),
                )
                .collect()
            )
        except AnalysisException as e:
            # ONLY the first-write edge: every pending partition was empty,
            # dynamic overwrite wrote no files, data/ does not exist yet.
            # Anything else (executor loss, corrupt files) must propagate —
            # recording zero-row lineage for it would mark possibly-populated
            # partitions complete forever. Spark 4 raises error class
            # PATH_NOT_FOUND; older versions say 'Path does not exist'.
            ec = getattr(e, "getErrorClass", lambda: None)() or ""
            msg = str(e)
            if "PATH_NOT_FOUND" not in ec and "PATH_NOT_FOUND" not in msg \
                    and "Path does not exist" not in msg:
                raise
            per_part = []
        wall_ms = int((time.perf_counter() - t0) * 1000)
        found = {r["part_key"]: r for r in per_part}
        missing = [k for k in keys if k not in found]
        if missing and present is None:
            # explicit-parts mode deferred the has-rows question to here:
            # scan ONLY for the partitions the read-back did not observe
            # (common case: genuinely-empty requested partitions). Matched
            # on the RENDERED string, deliberately NOT the same native
            # isin() the pending write used: a value the write predicate
            # cannot match (NaN under SQL equality) must trip the guard
            # below loudly, not be recorded as genuinely-empty lineage.
            hit = {
                r["pks"]
                for r in df.filter(
                    F.col(part_col).cast("string").isin(list(missing)))
                .select(F.col(part_col).cast("string").alias("pks"))
                .distinct().collect()
            }
            present = {keys[k] for k in missing if k in hit}
        rows = []
        for k in sorted(keys):
            if k in found:
                rows.append((k, int(found[k]["n_rows"]),
                             int(found[k]["checksum"] or 0), wall_ms, snapshot_id))
            elif keys[k] in present:
                # the partition HAS rows in df but the verification read-back
                # did not observe it: recording lineage would be silent data
                # loss that resume never repairs — fail loudly, re-queue on
                # the next run (nothing is appended for it).
                raise RuntimeError(
                    f"partition {k!r} was pending with rows but absent from "
                    f"the post-write read-back; refusing to record lineage"
                )
            else:
                # caller-requested partition with no rows in df: genuinely
                # empty, record 0-row lineage so resume skips it
                rows.append((k, 0, 0, wall_ms, snapshot_id))
        self._append_progress(rows)
        return sorted(keys)

    def read(self) -> DataFrame:
        """Read the table with the WRITER's schema pinned (when recorded):
        without it, partition-directory type inference re-types the
        partition column from directory names — a string key '00' comes
        back as int 0, and distinct partitions '0'/'00' collide into one
        indistinguishable value."""
        reader = self.spark.read.option("basePath", f"{self.root}/data")
        schema_path = f"{self.root}/_schema.json"
        if os.path.exists(schema_path):
            from pyspark.sql.types import StructType

            with open(schema_path) as f:
                reader = reader.schema(StructType.fromJson(json.load(f)))
        return reader.parquet(f"{self.root}/data/*")
