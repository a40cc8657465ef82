"""ValidationEngine — the public entry point of the validation engine.

Usage::

    engine = ValidationEngine(subject_col="doc_id")
    result = engine.validate(df, yaml_rules, tables={"dim_sources": dim})
    result.okay()                 # -> bool (reference: report.okay())
    result.violations             # canonical violations DataFrame
    result.sorted_violations()    # ordered by (subject, rule_seq)
    result.grouped_by_subject()   # reference: report.grouped_by_path()
    result.ok_subjects()          # reference: report.valid_paths
    result.summary("source")      # per-partition verdict counts
    result.release()              # free the run's persisted state

One copy per run: ``validate()`` only compiles (it runs no Spark job).
The canonical violations — the union of every rule's output — are built
on the first access to ``result.violations`` or to any report, and are
persisted (MEMORY_AND_DISK) on the result. The first action fills that
copy; every report above is a view of it, so the table rules, the
equality re-fetch and its Arrow kernel run once per result however many
reports read it. The result holds the copy, the fused projection and the
equality screen's bad-key cache until ``release()``; long-lived callers
(streaming batches, services, in-process CLI loops) call it after their
last report.

The verdict contract mirrors the reference CLI
(/root/reference/fs_schema_validator/__main__.py:76-96): exit 0 when no
violations, 1 otherwise, 127 for an invalid rule spec (RuleSetError).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .compiler.plan import CompiledPlan, ViolationPart
from .evaluator import Bindings
from .rules.loader import RuleSet, RuleSetError

__all__ = ["ValidationEngine", "ValidationResult", "RuleSet", "RuleSetError"]


class ValidationResult:
    """Distributed analog of the reference's ValidationReport (report.py:17-48).

    ``errors`` becomes a violations DataFrame; ``valid_paths`` becomes the
    ok-subjects DataFrame; ``merge`` (the reference's dead map/reduce seam)
    is Spark's union/aggregation, realized.
    """

    def __init__(self, plan: CompiledPlan, parts: list[ViolationPart]) -> None:
        self._plan = plan
        self._parts = parts  # CompiledPlan.violation_parts()
        self._violations: DataFrame | None = None

    @property
    def violations(self) -> DataFrame:
        """The run's one persisted copy of the canonical violations.

        Built on first access (the equality screen counts its bad keys
        here to pick a re-fetch tier), filled by the first action on it or
        on any report derived from it. The union is persisted unsorted:
        ``sorted_violations()`` sorts the copy, so the sort's sampling job
        reads it instead of evaluating every rule a second time."""
        if self._violations is None:
            self._violations = self._plan.violations(self._parts).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        return self._violations

    def okay(self) -> bool:
        return self.violations.isEmpty()

    def exit_code(self) -> int:
        return 0 if self.okay() else 1

    def sorted_violations(self) -> DataFrame:
        return self.violations.orderBy("subject", "rule_seq")

    def grouped_by_subject(self) -> DataFrame:
        """(subject, reasons array) — reasons in rule declaration order,
        subjects sorted (reference report.py:27-33 + __main__.py:82)."""
        return (
            self.violations.groupBy("subject")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rule_seq", "reason"))
                    ),
                    lambda s: s.getField("reason"),
                ).alias("reasons")
            )
            .orderBy("subject")
        )

    def scan_metrics(self) -> dict:
        """Metrics observed DURING the validation scan (no second pass):
        rows_scanned and rows_with_row_violations, via Spark's observe API.
        Delegates to CompiledPlan.observed_metrics(), which forces a full
        materialization so the latched metrics cover every row."""
        return self._plan.observed_metrics()

    def release(self) -> None:
        """Unpersist everything the result persisted: the violations copy,
        then the plan's equality bad-key caches and fused projection
        (dependents first, so Spark has no cached plan to re-compile).
        Long-lived sessions — streaming foreachBatch, services — call this
        after the batch's actions; a later report rebuilds the copy."""
        if self._violations is not None:
            self._violations.unpersist()
            self._violations = None
        self._plan.release()

    def ok_subjects(self) -> DataFrame:
        """Subjects with zero violations (reference: valid_paths). Null
        subjects render '<null>' like every violations surface, so a
        null-keyed violating row is never misreported as OK."""
        subjects = self._plan.df.select(
            F.coalesce(
                F.col(self._plan.subject_col).cast("string"), F.lit("<null>")
            ).alias("subject")
        ).distinct()
        return subjects.join(
            self.violations.select("subject").distinct(), "subject", "left_anti"
        ).orderBy("subject")

    def summary(self, group_col: str) -> DataFrame:
        """Per-group verdict: rows, violating rows, ok rows, verdict string.

        Each violation is counted EXACTLY ONCE, under the minimum group
        containing its subject (same contract as the checkpoint manifest):
        a subject spanning groups — itself an anomaly the engine detects —
        must not inflate every group's counts. Null subjects join through
        the '<null>' rendering; violations whose subject is absent from
        the input (completeness-missing keys) fall out of the left join
        with a null group and surface as their own summary row."""
        df = self._plan.df
        subj = F.coalesce(
            F.col(self._plan.subject_col).cast("string"), F.lit("<null>")
        )
        rows = df.groupBy(F.col(group_col).alias("grp")).agg(
            F.count(F.lit(1)).alias("rows")
        )
        # Map each violation back to ONE group through the subject key.
        subj_grp = (
            df.select(subj.alias("subject"), F.col(group_col).alias("grp"))
            .groupBy("subject")
            .agg(F.min("grp").alias("grp"))
        )
        viol = (
            self.violations.join(subj_grp, "subject", "left")
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("violations"),
                F.countDistinct("subject").alias("violating_subjects"),
            )
        )
        return (
            # full outer: orphan-subject violations (null grp) still get a
            # summary row instead of silently vanishing from the report
            rows.join(viol, "grp", "full_outer")
            .select(
                F.col("grp").alias(group_col),
                F.coalesce("rows", F.lit(0)).alias("rows"),
                F.coalesce("violations", F.lit(0)).alias("violations"),
                F.coalesce("violating_subjects", F.lit(0)).alias(
                    "violating_subjects"
                ),
                F.when(F.coalesce("violations", F.lit(0)) == 0, "PASS")
                .otherwise("FAIL")
                .alias("verdict"),
            )
            .orderBy(group_col)
        )


class ValidationEngine:
    def __init__(self, subject_col: str = "doc_id") -> None:
        self.subject_col = subject_col

    def compile(
        self,
        df: DataFrame,
        rules: RuleSet | str,
        tables: Mapping[str, DataFrame] | None = None,
        bindings: Bindings | None = None,
    ) -> CompiledPlan:
        ruleset = (
            rules
            if isinstance(rules, RuleSet)
            else RuleSet.from_yaml(rules, bindings)
        )
        return CompiledPlan(df, ruleset, self.subject_col, tables or {})

    def validate(
        self,
        df: DataFrame,
        rules: RuleSet | str,
        tables: Mapping[str, DataFrame] | None = None,
        bindings: Bindings | None = None,
    ) -> ValidationResult:
        plan = self.compile(df, rules, tables, bindings)
        return ValidationResult(plan, plan.violation_parts())
