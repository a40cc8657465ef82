"""The benchmark's workloads: one end-to-end run each, its output check,
and the extra calls its traced run makes.

validate_burst — the user's CLI, ``plans.cli.main(["validate", ...])``, in
    process with stdout captured, over the synth.py sequences with dense
    corruption (cadence 13: every corruption mode, four of the seven
    changing the token hash). The equality re-fetch, the Arrow
    first-mismatch kernel and the violation write / summary / grouped
    report carry a large share of the run next to the fused scan.
curate_pack — curate → rewrite → pack over a seeded token corpus:
    ``operators.dedup.token_ngram_dedup`` writes the rewritten corpus, then
    ``operators.sampling.pack_offsets`` packs its cleaned lengths per source
    and writes the placements. The only workload for ``operators``; 90% of
    documents sit in source ``cc``, so one group holds most of the packing
    window.
"""

from __future__ import annotations

import contextlib
import io
import json
import statistics
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

import inputs
from spans import TABLE_RULES, Tracer

HERE = Path(__file__).resolve().parent


def _parquet(path: Path) -> str:
    return f"read_parquet('{path}/*.parquet')"


SEQ_COLUMNS = ["doc_id", "tokens", "n_tok", "source"]


def _check_table(path: Path, columns: list[str] | None, rows: int | None) -> None:
    """The input is whole: every file's footer reads, with the expected
    columns and row total (parquet metadata only; no Spark job)."""
    metas = [pq.read_metadata(f) for f in sorted(path.glob("*.parquet"))]
    if not metas:
        raise RuntimeError(f"input {path} has no parquet files")
    if columns is not None and any(m.schema.to_arrow_schema().names != columns for m in metas):
        raise RuntimeError(f"input {path} does not have columns {columns}")
    if rows is not None and sum(m.num_rows for m in metas) != rows:
        raise RuntimeError(f"input {path} does not hold {rows} rows")


def release(spark) -> None:
    from fs_schema_validator_spark.functions import cache

    cache.release_all()
    spark.catalog.clearCache()


class ValidateWorkload:
    rows_per_seed = 4_000
    warm_runs = 2
    every = 13
    subject_table = "sequences"

    def __init__(self, name: str, work: Path, seed: int, rows: int | None = None) -> None:
        self.name = name
        self.inputs = inputs.sequences(work, seed, rows or self.rows_per_seed, self.every)
        self.expected = json.loads((self.inputs / "expected.json").read_text())
        self.rows = self.expected["rows"]
        self.tokens = self.expected["tokens"]
        self.out = work / "out" / f"{name}-s{seed}"

    def input_check(self) -> None:
        _check_table(self.inputs / "sequences", SEQ_COLUMNS, self.rows)
        for aux in ("reference_tokens", "dim_sources", "ref_distribution"):
            _check_table(self.inputs / aux, None, None)

    def argv(self) -> list[str]:
        p = self.inputs
        return ["validate", "--rules", str(HERE / "rules.yaml"), "--table", str(p / "sequences"),
                "--aux", f"dim_sources={p / 'dim_sources'}",
                "--aux", f"reference_tokens={p / 'reference_tokens'}",
                "--aux", f"ref_distribution={p / 'ref_distribution'}",
                "--output", str(self.out / "violations"), "--group", "source"]

    def run(self, spark, tracer: Tracer | None = None) -> int:
        from fs_schema_validator_spark.plans import cli

        span = tracer.span("plans.cli") if tracer else contextlib.nullcontext()
        with span, contextlib.redirect_stdout(io.StringIO()):
            return cli.main(self.argv())

    def rule_counts(self) -> dict[str, int]:
        """Violations per rule in the run's --output parquet."""
        return dict(duckdb.sql(
            f"SELECT rule_id, count(*) FROM {_parquet(self.out / 'violations')} GROUP BY 1"
        ).fetchall())

    def check(self, rc: int) -> list[str]:
        """Mismatches between this run's output and the DuckDB
        expectation: exit code 1, and the per-rule counts (which fix the
        total rows)."""
        errors = [] if rc == 1 else [f"exit code {rc}, expected 1"]
        got = self.rule_counts()
        if got != self.expected["per_rule"]:
            errors.append(f"per-rule counts {got} != {self.expected['per_rule']}")
        return errors

    def layer_metrics(self, log, tracer: Tracer, n_bad: int) -> dict[str, float]:
        """Equality screen and output numbers of the traced CLI run;
        ``n_bad`` counts the keys the equality hash screen flagged."""
        n_viol = self.rule_counts()
        return {
            "equality.bad_keys": n_bad,
            # the re-fetch tiers of compiler/plan.py: broadcast, key-set, shuffle
            "equality.tier": 1 if n_bad <= 100_000 else 2 if n_bad <= 5_000_000 else 3,
            "equality.useful_ratio": n_viol.get("tokens_match_reference", 0) / max(n_bad, 1),
            "engine.output_write.rows": sum(n_viol.values()),
        }

    def traced_extras(self, spark, tracer: Tracer) -> None:
        """One isolated single-rule plan per table rule, each materialized
        under its own span."""
        import yaml

        from fs_schema_validator_spark.engine import ValidationEngine

        spec = yaml.safe_load((HERE / "rules.yaml").read_text())
        p = self.inputs
        df = spark.read.parquet(str(p / "sequences"))
        tables = {n: spark.read.parquet(str(p / n))
                  for n in ("dim_sources", "reference_tokens", "ref_distribution")}
        for rule_id in TABLE_RULES:
            one = {"schema": [r for r in spec["schema"] if r["id"] == rule_id]}
            with tracer.span(f"table_rule.{rule_id}", absorb=True):
                ValidationEngine(subject_col="doc_id").validate(
                    df, yaml.safe_dump(one), tables).violations.count()
            release(spark)


class CuratePackWorkload:
    rows_per_seed = 8_000
    warm_runs = 2
    subject_table = "corpus"

    def __init__(self, name: str, work: Path, seed: int, rows: int | None = None) -> None:
        self.name = name
        self.inputs = inputs.corpus(work, seed, rows or self.rows_per_seed)
        self.expected = json.loads((self.inputs / "expected.json").read_text())
        self.rows = self.expected["rows"]
        self.tokens = self.expected["tokens"]
        self.out = work / "out" / f"{name}-s{seed}"

    def input_check(self) -> None:
        _check_table(self.inputs / "corpus", SEQ_COLUMNS, self.rows)

    def run(self, spark, tracer: Tracer | None = None) -> int:
        from pyspark.sql import functions as F

        from fs_schema_validator_spark.operators import dedup, sampling

        span = tracer.span if tracer else (lambda _name: contextlib.nullcontext())
        corpus = spark.read.parquet(str(self.inputs / "corpus"))
        with span("operators.ngram_dedup"):
            cleaned = dedup.token_ngram_dedup(corpus, k=inputs.NGRAM_K, passthrough=["source"])
            cleaned.write.mode("overwrite").parquet(str(self.out / "cleaned"))
        with span("operators.pack"):
            lens = spark.read.parquet(str(self.out / "cleaned")).select(
                "doc_id", "source",
                F.coalesce(F.size("tokens_clean"), F.lit(0)).cast("bigint").alias("n_clean"))
            sampling.pack_offsets(
                lens, "n_clean", capacity=inputs.PACK_CAPACITY, group_cols=["source"], order_col="doc_id"
            ).write.mode("overwrite").parquet(str(self.out / "packed"))
        return 0

    def check(self, rc: int) -> list[str]:
        """Every doc keeps n_clean + n_removed = its input tokens, the
        removed total matches set-up, and placements are contiguous
        within each source."""
        con = duckdb.connect()
        con.sql(f"CREATE VIEW c AS SELECT * FROM {_parquet(self.inputs / 'corpus')}")
        con.sql(f"CREATE VIEW o AS SELECT * FROM {_parquet(self.out / 'cleaned')}")
        con.sql(f"CREATE VIEW p AS SELECT * FROM {_parquet(self.out / 'packed')}")
        errors = []
        n_out, bad_len, removed = con.sql(
            "SELECT count(*), count(*) FILTER (WHERE len(o.tokens_clean) + o.n_removed <> c.n_tok), "
            "sum(o.n_removed) FROM o JOIN c USING (doc_id)").fetchone()
        if n_out != self.rows or con.sql("SELECT count(*) FROM o").fetchone()[0] != self.rows:
            errors.append(f"cleaned rows {n_out} != {self.rows}")
        if bad_len:
            errors.append(f"{bad_len} docs with n_clean + n_removed != n_tok")
        if removed != self.expected["removed"]:
            errors.append(f"removed tokens {removed} != {self.expected['removed']}")
        n_packed, bad_place = con.sql(f"""
            SELECT count(*), count(*) FILTER (WHERE
                start_bin * {inputs.PACK_CAPACITY} + start_offset <> pre
                OR end_bin <> floor((pre + n_clean - 1) / {inputs.PACK_CAPACITY}))
            FROM (SELECT *, coalesce(sum(n_clean) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre FROM p)""").fetchone()
        if n_packed != self.rows:
            errors.append(f"packed rows {n_packed} != {self.rows}")
        if bad_place:
            errors.append(f"{bad_place} placements not contiguous")
        con.close()
        return errors

    def layer_metrics(self, log, tracer: Tracer, n_bad: int) -> dict[str, float]:
        """Curation work counts from set-up and the packing window's skew:
        the slowest task of the pack span and its stage's median task."""
        pack = log.span_counts(tracer.group("operators.pack"))
        stage_times = [log.task_times([s]) for s in pack["stages"]]
        worst = max(stage_times, key=max)
        return {
            "operators.ngram_dedup.windows": self.expected["windows"],
            "operators.ngram_dedup.dup_window_share": self.expected["dup_window_share"],
            "operators.pack.max_task_s": max(worst),
            "operators.pack.task_skew": max(worst) / max(statistics.median(worst), 1e-3),
        }

    def traced_extras(self, spark, tracer: Tracer) -> None:
        pass


WORKLOADS = {"validate_burst": ValidateWorkload, "curate_pack": CuratePackWorkload}
