"""Checkpoint + lineage + metrics — the resumability layer the north
rule requires ("per-partition lineage + row-count/cell-histogram
metrics checkpointed ... so any stage resumes exactly").

Design (SURVEY.md §4.2 last row): each pipeline stage writes its output
as a partitioned table plus a ``lineage`` record
``(stage, run_id, input_fingerprint, row_count, cell_histogram, status)``.
Resume = skip stages whose lineage row is COMPLETE with a matching
input fingerprint; partial re-run = anti-join completed partition keys.

Storage: parquet directories in this sandbox; ``format="iceberg"``
commits each stage as an Iceberg table via ``writeTo(...)`` when the
session has an Iceberg catalog configured (parquet fallback otherwise
— see ``StageStore._write``).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_frame


class StageStore:
    """Stage checkpoint store with lineage records.

    ``format="parquet"`` (default) checkpoints each stage as a parquet
    directory under ``root`` — the sandbox path. ``format="iceberg"``
    is the production path: each stage commits as an Iceberg table
    ``<catalog>.<namespace>.<stage>`` via the DataFrameWriterV2 API
    (``writeTo(...).createOrReplace()`` — snapshot-isolated commit, so
    the table IS the commit point and the JSON lineage record is
    auxiliary metrics). If the named catalog is not configured on the
    session (``spark.sql.catalog.<catalog>`` unset — e.g. this sandbox,
    which has no Iceberg runtime jar), the store falls back to parquet
    and records ``storage="parquet-fallback"`` in the lineage row, so
    callers can assert which path ran.
    """

    def __init__(
        self,
        root: str,
        format: str = "parquet",
        catalog: str = "spark_catalog",
        namespace: str = "pipeline",
    ):
        if format not in ("parquet", "iceberg"):
            raise ValueError(f"format must be 'parquet'|'iceberg', got {format!r}")
        self.root = root
        self.format = format
        self.catalog = catalog
        self.namespace = namespace
        os.makedirs(root, exist_ok=True)

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.root, f"stage={stage}")

    def _table_ident(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}"

    def _iceberg_available(self, spark: SparkSession) -> bool:
        if self.format != "iceberg":
            return False
        impl = spark.conf.get(f"spark.sql.catalog.{self.catalog}", None)
        return impl is not None and "iceberg" in impl.lower()

    def _write(self, df: DataFrame, stage: str) -> str:
        """Commit a stage's output; returns the storage kind used."""
        spark = df.sparkSession
        if self._iceberg_available(spark):
            # Snapshot commit: readers see either the old snapshot or
            # the new one, never a partial directory.
            df.writeTo(self._table_ident(stage)).using("iceberg").createOrReplace()
            return "iceberg"
        df.write.mode("overwrite").parquet(self._stage_path(stage))
        return "parquet-fallback" if self.format == "iceberg" else "parquet"

    def _read(self, spark: SparkSession, stage: str) -> DataFrame:
        if self._iceberg_available(spark) and spark.catalog.tableExists(
            self._table_ident(stage)
        ):
            return spark.read.table(self._table_ident(stage))
        return spark.read.parquet(self._stage_path(stage))

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.root, f"lineage_{stage}.json")

    def is_complete(self, stage: str, input_fingerprint: str) -> bool:
        p = self._lineage_path(stage)
        if not os.path.exists(p):
            return False
        with open(p) as f:
            rec = json.load(f)
        return rec.get("status") == "COMPLETE" and rec.get("input_fingerprint") == input_fingerprint

    def lineage(self, stage: str) -> Optional[dict]:
        p = self._lineage_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        input_fingerprint: str,
        compute: Callable[[], DataFrame],
        cell_col: Optional[str] = None,
        histogram_buckets: int = 64,
    ) -> DataFrame:
        """Run-or-resume a stage.

        If a COMPLETE lineage record with the same input fingerprint
        exists, the stage is *not* recomputed — its checkpointed output
        is read back (exact resume). Otherwise the stage runs, its
        output is checkpointed, per-partition metrics are collected,
        and the lineage record is written last (write-ordering makes
        the record the commit point, like an Iceberg snapshot commit).
        """
        if self.is_complete(stage, input_fingerprint):
            return self._read(spark, stage)

        t0 = time.time()
        df = compute()
        storage = self._write(df, stage)
        out = self._read(spark, stage)

        row_count = out.count()
        metrics: dict = {
            "stage": stage,
            "input_fingerprint": input_fingerprint,
            "row_count": row_count,
            "elapsed_s": round(time.time() - t0, 3),
            "storage": storage,
            "status": "COMPLETE",
        }
        if cell_col is not None and cell_col in out.columns:
            # coarse cell histogram: the skew signal that drives the
            # salting degree (SURVEY.md §4.2 skew row)
            hist = (
                out.groupBy(
                    F.pmod(F.hash(F.col(cell_col)), F.lit(histogram_buckets)).alias("bucket")
                )
                .count()
                .orderBy("bucket")
                .collect()
            )
            metrics["cell_histogram"] = {int(r["bucket"]): int(r["count"]) for r in hist}
            top = (
                out.groupBy(cell_col).count().orderBy(F.desc("count")).limit(5).collect()
            )
            metrics["hottest_cells"] = {str(r[cell_col]): int(r["count"]) for r in top}
        with open(self._lineage_path(stage), "w") as f:
            json.dump(metrics, f)
        return out


def salt_for_skew(
    df: DataFrame,
    key_col: str,
    hot_threshold: int,
    n_salts: int = 16,
    id_col: Optional[str] = None,
) -> DataFrame:
    """Explicit skew salting (north rule): append ``salt`` so that keys
    with observed count > hot_threshold spread over ``n_salts``
    sub-keys; cold keys get salt 0. Two-phase aggregation then runs
    groupBy(key, salt) -> groupBy(key).

    The hot-key set is computed from the data (one cheap count pass) —
    at scale this comes from the lineage histogram instead.
    """
    hot = (
        df.groupBy(key_col)
        .count()
        .where(F.col("count") > hot_threshold)
        .select(F.col(key_col).alias("_hot_key"))
    )
    salt_src = F.col(id_col) if id_col else F.monotonically_increasing_id()
    return (
        df.join(F.broadcast(hot), df[key_col] == F.col("_hot_key"), "left")
        .withColumn(
            "salt",
            F.when(
                F.col("_hot_key").isNotNull(), F.pmod(F.hash(salt_src), F.lit(n_salts))
            ).otherwise(F.lit(0)),
        )
        .drop("_hot_key")
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key_col: str,
    hot_threshold: int,
    n_salts: Optional[int] = None,
    id_col: Optional[str] = None,
    how: str = "inner",
    hot_keys: Optional[list] = None,
) -> DataFrame:
    """Skew-salted equi-join (north rule: "explicit salted
    repartitioning on hot H3 cells"): facts whose key is hot get
    ``salt = hash(id) % n_salts``; the matching dim rows are REPLICATED
    across all n_salts sub-keys (cold dim rows get salt 0), and the
    join runs on (key, salt) — the hot key's rows spread over n_salts
    reducers instead of funneling into one sort task.

    Exact for 1:N **inner/left** equi-joins: every fact row still meets
    exactly the dim rows of its key. ``how`` is restricted to those two
    — under right/full outer an UNMATCHED hot dim row would surface
    once per salt replica (ADVICE r3), so they raise.

    ``n_salts=None`` (default) adapts the salt degree to the runtime:
    ``clamp(defaultParallelism // n_hot_keys, 2, defaultParallelism)``
    — one reducer's worth of sub-keys per hot key. A constant degree
    over-salts small clusters (round-3 bench: n_salts=32 at local[2]
    cost 1.8x replication overhead and dragged the 2→8 efficiency to
    0.74) and under-salts big ones.

    ``hot_keys`` skips the detection count pass — the production path,
    where the hot-key set comes from the lineage histogram
    (StageStore.run_stage ``hottest_cells`` metrics) written when the
    facts were materialized. Without it, ONE count job detects keys
    above ``hot_threshold`` (the set is tiny by definition — it is
    collected and fed through the same path)."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: dim "
            "replication across salts is not exactness-preserving for "
            "right/full outer joins (unmatched hot dim rows would "
            "appear once per salt)"
        )
    spark = facts.sparkSession
    if hot_keys is None:
        hot_keys = [
            r[0]
            for r in facts.groupBy(key_col)
            .count()
            .where(F.col("count") > hot_threshold)
            .select(key_col)
            .collect()
        ]
    if not hot_keys:
        return facts.join(dim, key_col, how)
    if n_salts is None:
        par = max(2, spark.sparkContext.defaultParallelism)
        n_salts = min(par, max(2, par // len(hot_keys)))
    salt_src = F.col(id_col) if id_col else F.monotonically_increasing_id()
    salts = spark.range(n_salts).select(F.col("id").cast("int").alias("salt"))
    salt_expr = F.pmod(F.hash(salt_src), F.lit(n_salts))
    if len(hot_keys) <= 64:
        # small hot set (the common case — "hot" means a handful of
        # cells by definition): a literal IN predicate keeps the salt
        # projection inside the scan stage's WholeStageCodegen with NO
        # extra operator over facts — at 100 TB an additional
        # broadcast-probe traversal of the fact table is the dominant
        # avoidable cost. The broadcast-relation branch below guards
        # plan size for large hot sets (the round-2 literal-predicate
        # pathology starts at thousands of constants, not dozens).
        is_hot = F.col(key_col).isin(hot_keys)
        facts_s = facts.withColumn(
            "salt", F.when(is_hot, salt_expr).otherwise(F.lit(0))
        )
        dim_hot = dim.where(F.col(key_col).isin(hot_keys)).crossJoin(
            F.broadcast(salts)
        )
        dim_cold = dim.where(~F.col(key_col).isin(hot_keys)).withColumn(
            "salt", F.lit(0)
        )
    else:
        hot = local_frame(
            spark,
            [(k,) for k in hot_keys],
            f"_hot_key {facts.schema[key_col].dataType.simpleString()}",
        )
        facts_s = (
            facts.join(
                F.broadcast(hot), facts[key_col] == F.col("_hot_key"), "left"
            )
            .withColumn(
                "salt",
                F.when(F.col("_hot_key").isNotNull(), salt_expr).otherwise(
                    F.lit(0)
                ),
            )
            .drop("_hot_key")
        )
        dim_hot = (
            dim.join(F.broadcast(hot), dim[key_col] == F.col("_hot_key"), "inner")
            .drop("_hot_key")
            .crossJoin(F.broadcast(salts))
        )
        dim_cold = dim.join(
            F.broadcast(hot), dim[key_col] == F.col("_hot_key"), "left_anti"
        ).withColumn("salt", F.lit(0))
    dim_s = dim_hot.unionByName(dim_cold)
    return facts_s.join(dim_s, [key_col, "salt"], how)
