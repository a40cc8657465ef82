"""Resumable validation: a checkpoint manifest with per-partition lineage.

The north rule requires re-runs to skip already-validated partitions. The
manifest is a small table of per-partition validation records:

    (partition string, rules_hash string, input_rows bigint,
     n_violations bigint, verdict string, engine_version string,
     snapshot_id string, validated_at timestamp)

A partition is skipped when a manifest row exists with the same
(partition, rules_hash, snapshot_id): same data snapshot + same rule set ⇒
same verdict. `snapshot_id` is the input's lineage handle — on Iceberg it is
the table's snapshot id (exact, transaction-consistent); the parquet-backed
fallback here uses a caller-supplied token (e.g. an ETL batch id) or "-".

Storage is parquet-append via an abstract store so the Iceberg runtime
(absent in this container) can be swapped in: with Iceberg the manifest is
`catalog.db.validation_manifest` written with `writeTo(...).append()` and
reads are snapshot-isolated; the logic in this module is unchanged.

Partition pruning is real: skipped partitions are excluded with a pushed
filter on the partition column, so their files are never read (check
`PushedFilters`/partition pruning in the scan node).
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import ValidationEngine, ValidationResult
from ..rules.loader import RuleSet

MANIFEST_SCHEMA = (
    "partition string, rules_hash string, input_rows bigint, "
    "n_violations bigint, verdict string, engine_version string, "
    "snapshot_id string, validated_at timestamp"
)


def rules_fingerprint(rules_yaml: str) -> str:
    """Stable hash of the rule-set text — rule changes invalidate checkpoints."""
    return hashlib.sha256(rules_yaml.encode()).hexdigest()[:16]


class ParquetManifestStore:
    """Append-only parquet manifest (Iceberg-table stand-in)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        try:
            return self.spark.read.parquet(self.path)
        except Exception:  # noqa: BLE001 - first run: no manifest yet
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)

    def append(self, records: DataFrame) -> None:
        records.write.mode("append").parquet(self.path)


class ResumableValidator:
    """Partition-at-a-time validation with checkpoint/resume.

    The subject table is validated per value of `partition_col`; each
    completed partition lands in the manifest with its stats. A re-run
    prunes validated partitions *before the scan* (filter pushdown on the
    partition column), so already-validated data is never re-read —
    the resumability contract from SURVEY.md §2.9.
    """

    def __init__(
        self,
        engine: ValidationEngine,
        store: ParquetManifestStore,
        partition_col: str,
        engine_version: str = "0.1.0",
    ) -> None:
        self.engine = engine
        self.store = store
        self.partition_col = partition_col
        self.engine_version = engine_version

    def _part_col(self) -> F.Column:
        """Partition value as a string, nulls rendered '<null>': a null
        partition would crash sorted() (None vs str) and — worse — fall
        out of every isin() filter, leaving its rows permanently
        unvalidated."""
        return F.coalesce(
            F.col(self.partition_col).cast("string"), F.lit("<null>")
        )

    def pending_partitions(
        self, df: DataFrame, rules_yaml: str, snapshot_id: str = "-"
    ) -> list[str]:
        rh = rules_fingerprint(rules_yaml)
        all_parts = [
            r[0] for r in df.select(self._part_col()).distinct().collect()
        ]
        done = {
            r[0]
            for r in self.store.read()
            .filter(
                (F.col("rules_hash") == rh)
                & (F.col("snapshot_id") == snapshot_id)
            )
            .select("partition")
            .collect()
        }
        return sorted(p for p in all_parts if p not in done)

    def run(
        self,
        df: DataFrame,
        rules_yaml: str,
        tables: Mapping[str, DataFrame] | None = None,
        snapshot_id: str = "-",
    ) -> dict[str, dict]:
        """Validate ALL pending partitions in one pass; {partition: stats}.

        One validation covers the whole pending set — the pushed filter is
        an IN-list on the partition column, so already-validated
        partitions' files are still never read — and per-partition stats
        come from ONE aggregation job (row counts full-outer-joined with
        subject->partition violation counts), followed by ONE manifest
        append. The previous form looped partitions on the driver: one
        Spark job (+2 actions) per partition serializes 10^4-10^5 jobs at
        real partition counts.

        Table rules see the pending set as a whole, which is the stronger
        contract: cross-partition duplicate keys are now detected, and
        referential/completeness checks run once instead of per-slice.
        Every violation is counted EXACTLY ONCE: it is attributed to the
        minimum partition containing its subject (a subject normally lives
        in one partition; a subject spanning several — itself an anomaly —
        does not inflate the other partitions' counts, and the sum of
        per-partition n_violations always equals the total). Violations
        whose subject does not occur in the pending input
        (completeness-missing manifest keys) are recorded under the
        synthetic partition "(global)"."""
        rh = rules_fingerprint(rules_yaml)
        ruleset = RuleSet.from_yaml(rules_yaml)
        pending = self.pending_partitions(df, rules_yaml, snapshot_id)
        if not pending:
            return {}
        part = self._part_col()
        sub = df.filter(part.isin(pending))
        res: ValidationResult = self.engine.validate(sub, ruleset, tables)

        # Same '<null>' rendering the engine applies to violation subjects
        # (engine.py:89,108): a bare cast here would leave null-subject
        # violations unjoinable to their partition — misattributed to
        # '(global)', and a partition whose only violations have null
        # subjects would be recorded PASS.
        subj = F.coalesce(
            F.col(self.engine.subject_col).cast("string"), F.lit("<null>")
        )
        # (subject, partition) counts feed both the per-partition row
        # counts and the subject->partition attribution map — only those
        # two columns are read (column pruning), never the wide payload
        # columns the validation scan already paid for. Not cached: a
        # cache build is a job of its own and holds a row per subject,
        # where the second narrow scan of the two columns costs neither.
        base = (
            sub.select(subj.alias("subject"), part.alias("partition"))
            .groupBy("subject", "partition")
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )
        rows_by_part = base.groupBy("partition").agg(
            F.sum("n_rows").alias("input_rows")
        )
        subj_part = base.groupBy("subject").agg(
            F.min("partition").alias("partition")
        )
        viol_by_part = (
            res.violations.join(subj_part, "subject", "left")
            .select(
                F.coalesce("partition", F.lit("(global)")).alias("partition")
            )
            .groupBy("partition")
            .agg(F.count(F.lit(1)).alias("n_violations"))
        )
        stats = {
            r["partition"]: (
                r["input_rows"] or 0,
                r["n_violations"] or 0,
            )
            for r in rows_by_part.join(
                viol_by_part, "partition", "full_outer"
            ).collect()
        }
        res.release()

        now = datetime.now(timezone.utc)
        results: dict[str, dict] = {}
        for p in sorted(stats):
            n_rows, n_violations = stats[p]
            results[p] = {
                "partition": p,
                "rules_hash": rh,
                "input_rows": n_rows,
                "n_violations": n_violations,
                "verdict": "PASS" if n_violations == 0 else "FAIL",
                "engine_version": self.engine_version,
                "snapshot_id": snapshot_id,
                "validated_at": now,
            }
        self.store.append(
            self.store.spark.createDataFrame(
                [tuple(r.values()) for r in results.values()], MANIFEST_SCHEMA
            )
        )
        return results
