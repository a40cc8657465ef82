"""Assemble rules into distributed violation plans.

Physical strategy (designed for the 10^12-row table, tested at sf*):

* All row rules fuse into ONE narrow projection over the scan — a single
  ``select`` building per-rule violation arrays, flattened and exploded.
  No shuffle; whole-stage codegen end to end; Parquet reader prunes to the
  columns the rules actually reference.
* Table rules each contribute a small violations DataFrame:
  - uniqueness: groupBy(keys) with map-side partial counts (2-phase agg —
    the realized version of the reference's dead map/reduce seam,
    report.py:44-48);
  - referential / completeness: ``left_anti`` joins with the small side
    **broadcast** so the big table never shuffles;
  - token-range: broadcast dim join + JVM-side higher-order functions
    (transform/filter) for the first out-of-range index — no Python;
  - array-equality: equi-join on the key then a zero-copy Arrow kernel
    (see functions/arrays.py) — Catalyst/AQE picks sort-merge vs shuffle
    hash for the big join;
  - drift: bucketed histogram aggregation + PSI against a reference
    distribution, all aggregations partial-then-final.
* Violation outputs union by name into the canonical schema
  ``(subject string, rule_id string, rule_seq int, reason string)``.

Ordering contract: consumers sort by ``(subject, rule_seq)`` — declaration
order within a subject, sorted across subjects (reference report.py:27-33).
"""

from __future__ import annotations

import functools
from typing import Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..rules import model as Mdl
from ..rules.loader import RuleSet, RuleSetError
from . import messages as M
from .columns import compile_checker, render_reason

VIOLATION_SCHEMA = "subject string, rule_id string, rule_seq int, reason string"

# One rule's violations, or a callable that builds them once a Spark job
# has decided how (see CompiledPlan.violation_parts()).
ViolationPart = DataFrame | Callable[[], DataFrame]

# Per-row violation element carried through the fused scan.
_ROW_ERR_TYPE = "array<struct<rule_seq:int,rule_id:string,reason:string>>"


def _rule_errs(rule: Mdl.RuleBase, reason: Column, cond: Column | None = None) -> Column:
    """One violation element (as a 1-element array) gated on `cond`."""
    elem = F.struct(
        F.lit(rule.seq).alias("rule_seq"),
        F.lit(rule.rule_id).alias("rule_id"),
        reason.alias("reason"),
    )
    arr = F.array(elem)
    if cond is None:
        return arr
    return F.when(cond, arr).otherwise(F.array().cast(_ROW_ERR_TYPE))


def _compile_row_rule(rule: Mdl.Rule, schema: T.StructType) -> Column:
    """Compile one row rule to an array<struct<rule_seq,rule_id,reason>>."""
    if isinstance(rule, Mdl.ColumnSpecRule):
        if rule.column not in schema.names:
            # Column absent from the table: every subject fails existence —
            # the reference's missing-file reason (report.py:24-25).
            return _rule_errs(rule, F.lit(f"`{rule.column}`: does not exist"))
        dtype = schema[rule.column].dataType
        checker = compile_checker(rule.spec, dtype)
        errs = checker(F.col(rule.column), F.lit(rule.column))
        return F.transform(
            errs,
            lambda e: F.struct(
                F.lit(rule.seq).alias("rule_seq"),
                F.lit(rule.rule_id).alias("rule_id"),
                render_reason(e.getField("path"), e.getField("msg")).alias("reason"),
            ),
        )
    if isinstance(rule, Mdl.JsonSpecRule):
        from .variant_json import json_column_violations

        if rule.column not in schema.names:
            return _rule_errs(rule, F.lit(f"`{rule.column}`: does not exist"))
        errs = json_column_violations(F.col(rule.column), rule.spec)
        return F.transform(
            errs,
            lambda e: F.struct(
                F.lit(rule.seq).alias("rule_seq"),
                F.lit(rule.rule_id).alias("rule_id"),
                render_reason(e.getField("path"), e.getField("msg")).alias("reason"),
            ),
        )
    if isinstance(rule, Mdl.RowSpecRule):
        checker = compile_checker(rule.spec, schema)
        errs = checker(F.struct(*[F.col(n) for n in schema.names]), F.lit(""))
        return F.transform(
            errs,
            lambda e: F.struct(
                F.lit(rule.seq).alias("rule_seq"),
                F.lit(rule.rule_id).alias("rule_id"),
                render_reason(e.getField("path"), e.getField("msg")).alias("reason"),
            ),
        )
    if isinstance(rule, Mdl.ExprRule):
        ok = F.expr(rule.assert_sql)
        # A null reason (its SQL hit a null input) falls back to a static
        # message; a null assertion result counts as a violation (three-
        # valued logic must not let nulls slip through a validator).
        reason = F.coalesce(
            F.expr(rule.reason_sql).cast("string"),
            F.lit(f"assertion failed: {rule.rule_id}"),
        )
        return _rule_errs(rule, reason, ~F.coalesce(ok, F.lit(False)))
    if isinstance(rule, Mdl.NotEmptyRule):
        if rule.allow_empty:
            return F.array().cast(_ROW_ERR_TYPE)
        if rule.column not in schema.names:
            # graceful missing-column violation, same contract as
            # ColumnSpecRule above (a typo'd column must not crash the run)
            return _rule_errs(rule, F.lit(f"`{rule.column}`: does not exist"))
        col = F.col(rule.column)
        dtype = schema[rule.column].dataType
        if isinstance(dtype, (T.ArrayType, T.MapType)):
            is_empty = F.size(col) == 0
        else:
            is_empty = F.length(col) == 0
        reason = F.lit(f"`{rule.column}`: cannot be empty")
        return _rule_errs(rule, reason, col.isNotNull() & is_empty)
    raise RuleSetError(f"not a row rule: {rule}")


class CompiledPlan:
    """A rule set bound to a subject DataFrame and auxiliary tables."""

    def __init__(
        self,
        df: DataFrame,
        ruleset: RuleSet,
        subject_col: str,
        tables: Mapping[str, DataFrame],
    ) -> None:
        if "subject" in df.columns and subject_col != "subject":
            # "subject" is the engine's reserved output alias for the cast
            # subject key; a DIFFERENT data column by that name would be
            # silently shadowed in the fused projection (table rules over
            # it would validate the subject key instead) — fail loud.
            raise RuleSetError(
                "the input has a column named `subject` that is not the "
                "subject key; rename it (e.g. withColumnRenamed) — "
                "`subject` is the engine's reserved violations alias"
            )
        self.df = df
        self.ruleset = ruleset
        self.subject_col = subject_col
        self.tables = dict(tables)
        self.spark = df.sparkSession
        self._fused: DataFrame | None = None
        self._observation = None  # created lazily in fused_projection
        self._bad_keys: list[DataFrame] = []  # equality screens, cached

    # -- fused projection ---------------------------------------------------
    #
    # THE scan-count lever. The wide token/array columns dominate scan cost
    # (parquet decode of the tokens column saturates local memory bandwidth
    # long before CPUs do), so the plan touches them exactly ONCE:
    #
    #   * every row rule's violation array,
    #   * token-range rules LIFTED into the row pass (vocab broadcast-joined
    #     onto the scan instead of a separate join job),
    #   * the equality rules' screen hashes xxhash64(arr)/size(arr),
    #   * the scalar columns the remaining table rules group/join on,
    #
    # all computed in one projection over one scan, persisted as a NARROW
    # table (subject + a few scalars + mostly-empty violation arrays —
    # ~1/20th of the input width). Every table rule then reads the cached
    # projection; the only second touch of an array column is the equality
    # diagnosis re-fetch, which reads only hash-mismatched keys.

    def _token_range_rules(self) -> list[Mdl.TokenRangeRule]:
        return [r for r in self.ruleset.table_rules if isinstance(r, Mdl.TokenRangeRule)]

    def _equality_rules(self) -> list[Mdl.ArrayEqualityRule]:
        return [
            r for r in self.ruleset.table_rules if isinstance(r, Mdl.ArrayEqualityRule)
        ]

    def _scalar_cols_needed(self) -> list[str]:
        cols: set[str] = {self.subject_col}
        for r in self.ruleset.table_rules:
            if isinstance(r, Mdl.UniqueRule):
                cols.update(r.keys)
            elif isinstance(r, Mdl.ReferentialRule):
                cols.add(r.column)
            elif isinstance(r, (Mdl.DriftRule, Mdl.StatsThresholdRule)):
                cols.update((r.column, r.group_col))
            elif isinstance(r, Mdl.ArrayEqualityRule):
                cols.add(r.key)
        # "subject" is the reserved alias of the cast subject key
        cols.discard("subject")
        return sorted(c for c in cols if c in self.df.columns)

    def _lifted_token_range(self, rule: Mdl.TokenRangeRule) -> Column:
        """Token-range check as a row-scan violation array (vocab column is
        broadcast-joined onto the scan as _vocab_{seq}).

        Screen-then-detail: the native array_min/array_max bounds test (no
        interpreted lambda, ~7x cheaper) decides whether the row can violate
        at all; the index-bearing transform runs only on flagged rows. An
        empty array or an unknown group (null vocab) screens to null —
        nothing in range to violate — matching the join-based semantics."""
        vocab = f"_vocab_{rule.seq}"
        screen = F.coalesce(
            (F.array_min(F.col(rule.column)) < 0)
            | (F.array_max(F.col(rule.column)) >= F.col(vocab)),
            F.lit(False),
        )
        bad_idx = F.expr(
            f"array_min(filter(transform({rule.column}, (x, i) -> "
            f"IF(x < 0 OR x >= {vocab}, i, NULL)), v -> v IS NOT NULL))"
        )
        reason = F.format_string(
            "token out of range for %s at index %d",
            F.col(rule.group_col),
            bad_idx,
        )
        return F.when(screen, _rule_errs(rule, reason, bad_idx.isNotNull())).otherwise(
            F.array().cast(_ROW_ERR_TYPE)
        )

    def fused_projection(self) -> DataFrame:
        if self._fused is not None:
            return self._fused
        from pyspark.storagelevel import StorageLevel

        base = self.df
        for rule in self._token_range_rules():
            # one vocab per key, enforced: a dim with duplicate keys (a
            # versioned dim, a bad export) would MULTIPLY every matching
            # base row through the left join, double-emitting violations
            # and corrupting every other rule's counts (ReferentialRule
            # guards with .distinct(); here the max vocab wins,
            # deterministically)
            dim = (
                self._aux(rule.dim)
                .groupBy(F.col(rule.dim_key).alias(rule.group_col))
                .agg(F.max(rule.vocab_col).alias(f"_vocab_{rule.seq}"))
            )
            base = base.join(F.broadcast(dim), on=rule.group_col, how="left")

        arrays = [_compile_row_rule(r, self.df.schema) for r in self.ruleset.row_rules]
        arrays.extend(self._lifted_token_range(r) for r in self._token_range_rules())
        viols = (
            F.flatten(F.array(*arrays)) if arrays else F.array().cast(_ROW_ERR_TYPE)
        )

        cols = [
            F.coalesce(F.col(self.subject_col).cast("string"), F.lit("<null>")).alias(
                "subject"
            ),
            *[F.col(c) for c in self._scalar_cols_needed()],
            viols.alias("_viols"),
        ]
        for rule in self._equality_rules():
            cols.append(F.xxhash64(F.col(rule.column)).alias(f"_th_{rule.seq}"))
            cols.append(F.size(F.col(rule.column)).alias(f"_ts_{rule.seq}"))
        # Observation metrics piggyback on the (single) materialization of
        # the fused pass — rows scanned and row-rule-violating rows come
        # back with the job, no second scan (Spark's data-quality observe
        # API; streaming surfaces the same metrics per micro-batch).
        from pyspark.sql import Observation

        self._observation = Observation()
        fused = (
            base.select(*cols)
            .observe(
                self._observation,
                F.count(F.lit(1)).alias("rows_scanned"),
                F.sum((F.size("_viols") > 0).cast("long")).alias(
                    "rows_with_row_violations"
                ),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self._fused = fused
        return fused

    def release(self) -> None:
        """Unpersist the equality bad-key caches, then the fused
        projection they read."""
        from ..functions import cache

        cache.release(*self._bad_keys)
        self._bad_keys = []
        if self._fused is not None:
            self._fused.unpersist()
            self._fused = None

    def observed_metrics(self) -> dict:
        """Metrics latched by the fused pass's materialization (observe API).

        Spark's Observation latches the metrics of the FIRST job that runs
        the observed plan, so this accessor forces a full `count()` before
        reading — if nothing has materialized the fused projection yet, the
        count IS the first (full) job, and the metrics are exact. Callers
        must not run partial actions (limit/show) on derivatives of the
        fused projection before the first full materialization; metrics
        latched by a partial job cannot be refreshed."""
        if self._observation is None and self._fused is None:
            self.fused_projection()
        if self._observation is None:
            return {}
        self.fused_projection().count()  # no-op if already materialized
        return dict(self._observation.get)

    # -- row rules: one fused scan ----------------------------------------

    def row_violations(self) -> DataFrame:
        """Row-rule violations, exploded from the fused projection — the
        SAME observed/persisted pass every other consumer reads, so
        scan_metrics() after a row-only validation does not trigger a
        second scan of the wide table."""
        if not self.ruleset.row_rules and not self._token_range_rules():
            return self.spark.createDataFrame([], VIOLATION_SCHEMA)
        return (
            self.fused_projection()
            .select("subject", F.explode("_viols").alias("v"))
            .select(
                "subject",
                F.col("v.rule_id").alias("rule_id"),
                F.col("v.rule_seq").alias("rule_seq"),
                F.col("v.reason").alias("reason"),
            )
        )

    # -- per-row ok flags (for summaries / ok-subject extraction) ---------

    def row_ok_flags(self) -> DataFrame:
        """(subject, ok) for row rules only — single pass, no shuffle.
        Null subjects render '<null>' like every other violations surface,
        so flags join cleanly against violations."""
        rules = self.ruleset.row_rules
        subject = F.coalesce(
            F.col(self.subject_col).cast("string"), F.lit("<null>")
        ).alias("subject")
        if not rules:
            return self.df.select(subject, F.lit(True).alias("ok"))
        arrays = [_compile_row_rule(r, self.df.schema) for r in rules]
        return self.df.select(
            subject, (F.size(F.flatten(F.array(*arrays))) == 0).alias("ok")
        )

    # -- table rules ------------------------------------------------------

    def _aux(self, name: str) -> DataFrame:
        if name not in self.tables:
            raise RuleSetError(f"rule references unknown table `{name}`")
        return self.tables[name]

    def _table_violations(self, rule: Mdl.Rule) -> ViolationPart:
        # All scalar-column table rules read the cached narrow projection —
        # never the wide base scan (see fused_projection()).
        fused = self.fused_projection()

        if isinstance(rule, Mdl.UniqueRule):
            keys = [F.col(k) for k in rule.keys]
            dupes = (
                fused.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
            )
            return dupes.select(
                F.concat_ws("|", *[c.cast("string") for c in keys]).alias("subject"),
                F.lit(rule.rule_id).alias("rule_id"),
                F.lit(rule.seq).alias("rule_seq"),
                F.lit("duplicate key").alias("reason"),
            )

        if isinstance(rule, Mdl.ReferentialRule):
            dim = self._aux(rule.dim).select(
                F.col(rule.dim_key).alias(rule.column)
            ).distinct()
            missing = fused.join(F.broadcast(dim), on=rule.column, how="left_anti")
            return missing.select(
                "subject",
                F.lit(rule.rule_id).alias("rule_id"),
                F.lit(rule.seq).alias("rule_seq"),
                F.lit(f"unknown {rule.column}").alias("reason"),
            )

        if isinstance(rule, Mdl.CompletenessRule):
            manifest = self._aux(rule.manifest).select(rule.key).distinct()
            present = fused.select(
                F.col(self.subject_col).alias(rule.key)
            ).distinct()
            # The manifest is the small side; the big side is reduced to its
            # distinct keys first so the anti-join shuffles keys, not rows.
            missing = manifest.join(present, on=rule.key, how="left_anti")
            return missing.select(
                F.col(rule.key).cast("string").alias("subject"),
                F.lit(rule.rule_id).alias("rule_id"),
                F.lit(rule.seq).alias("rule_seq"),
                F.lit("does not exist").alias("reason"),
            )

        if isinstance(rule, Mdl.ArrayEqualityRule):
            # Hash-screen join: shuffle (key, xxhash64(array)) — 16 bytes a
            # row — instead of the arrays themselves; re-join the arrays only
            # for keys whose hashes disagree (rare corruption). A hash match
            # on unequal arrays (p ~ 2^-64) would miss a violation; a hash
            # mismatch is always a real difference, so no false positives.
            # size() disambiguates null vs empty (xxhash64 maps both a null
            # array and some inputs to seed-derived values; size(null) is
            # null so eqNullSafe catches null-vs-empty). The subject-side
            # hashes come from the cached projection (computed in the one
            # pass over the arrays).
            lh = fused.select(
                F.col(rule.key),
                F.col(f"_th_{rule.seq}").alias("_ha"),
                F.col(f"_ts_{rule.seq}").alias("_sa"),
            )
            rh = self._aux(rule.reference).select(
                F.col(rule.key),
                F.xxhash64(F.col(rule.ref_column)).alias("_hb"),
                F.size(F.col(rule.ref_column)).alias("_sb"),
            )
            from ..functions.cache import track

            bad_keys = track(
                lh.join(rh, on=rule.key, how="inner")
                .filter(
                    ~F.col("_ha").eqNullSafe(F.col("_hb"))
                    | ~F.col("_sa").eqNullSafe(F.col("_sb"))
                )
                .select(rule.key)
                .distinct()
                .cache()
            )
            self._bad_keys.append(bad_keys)
            ref = self._aux(rule.reference).select(
                F.col(rule.key),
                F.col(rule.ref_column).alias("_ref_arr"),
            )
            return lambda: self._equality_diagnosis(rule, bad_keys, ref)

        if isinstance(rule, Mdl.DriftRule):
            return self._drift_violations(rule)

        if isinstance(rule, Mdl.StatsThresholdRule):
            col = F.col(rule.column)
            stats = fused.groupBy(rule.group_col).agg(
                F.count(col).alias("n"),
                F.min(col).alias("min"),
                F.max(col).alias("max"),
                F.avg(col).alias("avg"),
                F.stddev_pop(col).alias("stddev"),
                F.approx_count_distinct(col).alias("approx_distinct"),
            )
            bad = stats.filter(~F.coalesce(F.expr(rule.assert_sql), F.lit(False)))
            return bad.select(
                F.col(rule.group_col).cast("string").alias("subject"),
                F.lit(rule.rule_id).alias("rule_id"),
                F.lit(rule.seq).alias("rule_seq"),
                F.lit(f"stats assertion failed: {rule.assert_sql}").alias("reason"),
            )

        raise RuleSetError(f"unknown table rule: {rule}")

    def _equality_diagnosis(
        self, rule: Mdl.ArrayEqualityRule, bad_keys: DataFrame, ref: DataFrame
    ) -> DataFrame:
        """Re-fetch the arrays of the keys that failed the hash screen and
        find each first mismatch in the Arrow kernel. Counting the bad
        keys (to pick a tier) is a Spark job, so this runs when the
        violations are first needed, not at compile time."""
        from ..functions.arrays import first_mismatch_index

        n_bad = bad_keys.count()
        if n_bad == 0:
            # clean partition fast path: no array ever leaves the scan
            return self.spark.createDataFrame([], VIOLATION_SCHEMA)
        # Tiered by CORRUPTION VOLUME. The dangerous broadcast is the
        # array-bearing survivors side (keys alone are ~8B/row; arrays
        # are KBs/row — 5M array rows would blow past driver/broadcast
        # limits and turn a recoverable burst into a hard failure), so
        # arrays broadcast only below a much smaller key count.
        if n_bad <= 100_000:
            # rare corruption: both probe sides broadcast, neither big
            # table shuffles — two streaming scans total
            survivors = self.df.select(
                F.col(rule.key), F.col(rule.column)
            ).join(F.broadcast(bad_keys), on=rule.key, how="inner")
            joined = ref.join(F.broadcast(survivors), on=rule.key, how="inner")
        elif n_bad <= 5_000_000:
            # burst corruption: broadcast the KEY SET into both scans
            # (bounded: keys only), then shuffle-join the two filtered
            # sides — each carries only n_bad array rows
            survivors = self.df.select(
                F.col(rule.key), F.col(rule.column)
            ).join(F.broadcast(bad_keys), on=rule.key, how="inner")
            ref_flt = ref.join(F.broadcast(bad_keys), on=rule.key, how="inner")
            joined = survivors.join(ref_flt, on=rule.key, how="inner")
        else:  # pathological corruption: fall back to shuffled joins
            joined = (
                self.df.select(F.col(rule.key), F.col(rule.column))
                .join(bad_keys, on=rule.key, how="inner")
                .join(ref, on=rule.key, how="inner")
            )
        mism = first_mismatch_index(joined, rule.column, "_ref_arr", key=rule.key)
        # mismatch_idx == -1 here means the screen flagged a null-vs-
        # empty pair (hash/size differ) that the diagnosis kernel — and
        # the DuckDB oracle's index arithmetic — deliberately treat as
        # EQUAL (null ≡ empty for the array invariant; nullness itself
        # is the spec/required rules' job). Dropping them is the
        # contract, not a leak.
        return mism.filter(F.col("mismatch_idx") >= 0).select(
            F.col(rule.key).cast("string").alias("subject"),
            F.lit(rule.rule_id).alias("rule_id"),
            F.lit(rule.seq).alias("rule_seq"),
            F.format_string(
                "token mismatch at index %d", F.col("mismatch_idx")
            ).alias("reason"),
        )

    def _drift_violations(self, rule: Mdl.DriftRule) -> DataFrame:
        from ..functions.sketches import bucketize, ks_statistic

        hist = (
            self.fused_projection().groupBy(
                F.col(rule.group_col).alias("grp"),
                bucketize(F.col(rule.column), rule.lo, rule.hi, rule.buckets).alias(
                    "bucket"
                ),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        ref = self._aux(rule.ref).select(
            F.col(rule.group_col).alias("grp"), F.col("bucket"), F.col("p")
        )
        if rule.metric == "ks":
            stat = ks_statistic(hist, ref).select("grp", F.col("ks_d").alias("stat"))
            label = "KS"
        else:
            eps = 1e-6
            totals = hist.groupBy("grp").agg(F.sum("cnt").alias("total"))
            q = hist.join(totals, "grp").select(
                "grp", "bucket", (F.col("cnt") / F.col("total")).alias("q")
            )
            joined = q.join(ref, ["grp", "bucket"], "full_outer").select(
                "grp",
                F.coalesce(F.col("q"), F.lit(0.0)).alias("q"),
                F.coalesce(F.col("p"), F.lit(0.0)).alias("p"),
            )
            qc = F.greatest(F.col("q"), F.lit(eps))
            pc = F.greatest(F.col("p"), F.lit(eps))
            stat = joined.groupBy("grp").agg(
                F.sum((qc - pc) * F.log(qc / pc)).alias("stat")
            )
            label = "PSI"
        return stat.filter(F.col("stat") > rule.threshold).select(
            F.col("grp").cast("string").alias("subject"),
            F.lit(rule.rule_id).alias("rule_id"),
            F.lit(rule.seq).alias("rule_seq"),
            F.format_string(
                f"distribution drift: {label} %.4f > %s",
                F.col("stat"),
                F.lit(M.fmt_num(rule.threshold)),
            ).alias("reason"),
        )

    # -- full plan --------------------------------------------------------

    def violation_parts(self) -> list[ViolationPart]:
        """Every rule's violations, built with no Spark job: a DataFrame
        per rule, except that an equality rule contributes a callable —
        its re-fetch tier depends on how many keys fail the hash screen,
        and counting them is a job. Building the parts resolves every
        table and column, so an invalid spec still fails here."""
        parts: list[ViolationPart] = [self.row_violations()]
        parts.extend(
            self._table_violations(r)
            for r in self.ruleset.table_rules
            if not isinstance(r, Mdl.TokenRangeRule)  # lifted into the scan
        )
        return parts

    def violations(self, parts: list[ViolationPart] | None = None) -> DataFrame:
        """Canonical violations DataFrame from ONE pass over the wide scan.

        Row rules + lifted token-range rules explode out of the cached
        fused projection; every other table rule aggregates/joins the same
        cached projection. Only the equality diagnosis re-fetch touches an
        array column a second time, and only for hash-mismatched keys.
        Unions ``parts`` (default: ``violation_parts()``), running each
        equality rule's bad-key count."""
        if parts is None:
            parts = self.violation_parts()
        frames = [p() if callable(p) else p for p in parts]
        return functools.reduce(DataFrame.unionByName, frames)
