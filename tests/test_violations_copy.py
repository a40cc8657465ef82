"""One persisted violations copy per validation run.

``validate()`` only compiles; the first report action fills the result's
persisted copy of the canonical violations, every later report reads that
copy, and ``release()`` frees everything the result persisted."""

from __future__ import annotations

import re

import pytest

from fs_schema_validator_spark.engine import ValidationEngine
from fs_schema_validator_spark.sources import synth

AUX = ("dim_sources", "reference_tokens", "ref_distribution")

RULES = r"""
schema:
  - type: not_empty
    id: tokens_not_empty
    column: tokens
  - {type: unique, id: doc_id_unique, keys: [doc_id]}
  - type: referential
    id: source_known
    column: source
    dim: dim_sources
    dim_key: source
  - type: array_equality
    id: tokens_match_reference
    column: tokens
    reference: reference_tokens
    key: doc_id
  - type: drift_psi
    id: ntok_drift
    column: n_tok
    group_col: source
    ref: ref_distribution
    buckets: 16
    lo: 0
    hi: 512
    threshold: 0.25
"""


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """Parquet sequences (every corruption mode, plus duplicates) and the
    three aux tables, so query plans name the files they scan."""
    root = tmp_path_factory.mktemp("copy")
    n = 120
    frames = {
        "sequences": synth.with_duplicates(
            synth.corrupt_sequences(synth.gen_sequences(spark, n), every=13),
            every=29,
        ),
        "dim_sources": synth.gen_dim_sources(spark),
        "reference_tokens": synth.gen_reference_tokens(spark, n),
        "ref_distribution": synth.gen_ref_distribution(spark),
    }
    for name, df in frames.items():
        df.write.parquet(str(root / name))
    return root


def _read(spark, root):
    """The subject table and the aux tables (reading a parquet schema is
    itself a Spark job)."""
    df = spark.read.parquet(str(root / "sequences"))
    return df, {name: spark.read.parquet(str(root / name)) for name in AUX}


def _validate(spark, root):
    df, tables = _read(spark, root)
    return ValidationEngine(subject_col="doc_id").validate(df, RULES, tables)


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _leaves(df) -> list[str]:
    """One-line descriptions of the leaves of the planned physical query
    (before adaptive execution wraps it). A cached scan is described by
    its whole relation; the relation's own plan is not a leaf."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "InMemoryTableScan":
            leaf = leaf.relation()
        out.append(leaf.simpleString(100))
    return out


def test_validate_runs_no_spark_job(spark, inputs):
    df, tables = _read(spark, inputs)
    sc = spark.sparkContext
    sc.setJobGroup("validate-compile", "compile only")
    try:
        res = ValidationEngine(subject_col="doc_id").validate(df, RULES, tables)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("validate-compile") == []
    assert res.exit_code() == 1
    res.release()


def test_reports_read_the_persisted_copy(spark, inputs):
    res = _validate(spark, inputs)
    try:
        assert not res.okay()  # the first action
        copy_cols = re.compile(
            r"^InMemoryRelation \[subject#\d+, rule_id#\d+, rule_seq#\d+, reason#\d+\]"
        )
        for report in (res.summary("source"), res.grouped_by_subject()):
            leaves = _leaves(report)
            assert sum(bool(copy_cols.match(leaf)) for leaf in leaves) == 1, leaves
            for name in AUX:
                assert not any(f"/{name}" in leaf for leaf in leaves), (name, leaves)
    finally:
        res.release()


def test_release_frees_everything_the_result_persisted(spark, inputs):
    before = _persisted_rdds(spark)
    res = _validate(spark, inputs)
    res.sorted_violations().collect()
    res.summary("source").collect()
    res.grouped_by_subject().collect()
    # the copy, the fused projection and the equality bad-key frame
    assert len(_persisted_rdds(spark) - before) == 3
    res.release()
    assert _persisted_rdds(spark) - before == set()


def test_cli_output_equals_sorted_violations(spark, inputs, tmp_path, capsys):
    from fs_schema_validator_spark.plans.cli import main

    out = str(tmp_path / "violations")
    argv = ["validate", "--rules", str(tmp_path / "rules.yaml"),
            "--table", str(inputs / "sequences"), "--output", out, "--group", "source"]
    (tmp_path / "rules.yaml").write_text(RULES)
    for name in AUX:
        argv += ["--aux", f"{name}={inputs / name}"]
    assert main(argv) == 1
    capsys.readouterr()

    res = _validate(spark, inputs)
    try:
        expected = [tuple(r) for r in res.sorted_violations().collect()]
    finally:
        res.release()
    written = spark.read.parquet(out)
    assert written.columns == ["subject", "rule_id", "rule_seq", "reason"]
    assert sorted(tuple(r) for r in written.collect()) == sorted(expected)
    assert {r[1] for r in expected} >= {
        "tokens_not_empty", "doc_id_unique", "tokens_match_reference"}
