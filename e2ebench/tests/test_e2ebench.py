"""Self-tests of the benchmark (not part of the package's test suite).

    python3 -m pytest e2ebench/tests -q -p no:cacheprovider

Each test starts Spark; the traced-run tests run ``run.py`` as a
subprocess on a small input, in a temporary working directory.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(1, str(ROOT))

import inputs  # noqa: E402
import spans  # noqa: E402

SMALL_ROWS = 2000


def test_sequence_replica_matches_synth(tmp_path):
    """inputs.sequence_tables reproduces sources/synth.py row for row
    (seed 0 starts at ordinal 0, where synth's own generator starts)."""
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    from fs_schema_validator_spark.session import get_spark
    from fs_schema_validator_spark.sources import synth

    spark = get_spark(master="local[2]", app_name="e2ebench-selftest", extra_conf={
        "spark.sql.warehouse.dir": str(tmp_path / "wh")})
    try:
        n, every = 1200, 13
        want = synth.with_duplicates(synth.corrupt_sequences(
            synth.gen_sequences(spark, n, partitions=2), every=every)).collect()
        ref_want = synth.gen_sequences(spark, n, partitions=2).select("doc_id", "tokens").collect()
    finally:
        spark.stop()
    got = inputs.sequence_tables(0, n, every)

    def rows(table):
        return sorted(tuple(json.dumps(v) for v in r.values()) for r in table.to_pylist())

    def spark_rows(rs):
        return sorted(tuple(json.dumps(v) for v in r.asDict().values()) for r in rs)

    assert rows(got["sequences"]) == spark_rows(want)
    assert rows(got["reference_tokens"]) == spark_rows(ref_want)


def test_cache_is_atomic(tmp_path):
    """A failed build leaves no input set behind; a finished one is reused."""
    def broken(tmp):
        (tmp / "half").write_text("x")
        raise RuntimeError("interrupted")

    with pytest.raises(RuntimeError):
        inputs.cached(tmp_path, "t", 1, 10, broken)
    assert [p.name for p in (tmp_path / "inputs").iterdir()] == []

    built = []

    def build(tmp):
        built.append(tmp)
        (tmp / "expected.json").write_text("{}")

    first = inputs.cached(tmp_path, "t", 1, 10, build)
    second = inputs.cached(tmp_path, "t", 1, 10, build)
    assert first == second and len(built) == 1


def test_corpus_duplicated_window_share_in_band(tmp_path):
    path = inputs.corpus(tmp_path, 3, SMALL_ROWS)
    exp = json.loads((path / "expected.json").read_text())
    lo, hi = inputs.DUP_WINDOW_BAND
    assert lo <= exp["dup_window_share"] <= hi
    assert 0 < exp["removed"] < exp["tokens"]


def _traced(tmp_path_factory, workload: str) -> dict:
    cwd = tmp_path_factory.mktemp(workload)
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", "1", "--rows", str(SMALL_ROWS)],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(spans.PER_LAYER)
    (report,) = (cwd / ".bench_work" / "reports").glob(f"{workload}-s5-t1-*.json")
    return json.loads(report.read_text())


@pytest.fixture(scope="module")
def validate_trace(tmp_path_factory):
    return _traced(tmp_path_factory, "validate_burst")


def test_compile_runs_jobs_today(validate_trace):
    """Compiling the plan runs Spark jobs today (the eager equality
    screen count); a plan that compiles without jobs moves this to 0."""
    m = validate_trace["metrics"]
    assert m["compiler.compile.jobs"]["value"] >= 1


def test_table_rules_rerun_per_report_action(validate_trace):
    """Today every engine report action (output write, summary, grouped
    report) evaluates the table rules again: each re-reads the aux tables
    of the referential, equality and drift rules. Materializing the table
    rules once turns these counts to 0."""
    scans = validate_trace["trace_details"]["scans"]
    for action in ("engine.output_write", "engine.summary", "engine.grouped_report"):
        for table in ("dim_sources", "reference_tokens", "ref_distribution"):
            assert scans[action][table] >= 1, (action, table, scans[action])


def test_spans_agree_with_untraced_run(validate_trace):
    """The traced spans' total differs from the untraced run_s by no more
    than the reported tracing overhead (plus timer slack)."""
    spans_total = validate_trace["trace_details"]["span_total_s"]
    untraced = validate_trace["run_s_quartiles"]["median"]
    overhead = validate_trace["metrics"]["trace.overhead_s"]["value"]
    assert abs(spans_total - untraced) <= abs(overhead) + 0.05 + 0.02 * untraced


def test_curate_pack_trace(tmp_path_factory):
    report = _traced(tmp_path_factory, "curate_pack")
    m = {k: v["value"] for k, v in report["metrics"].items()}
    assert m["operators.ngram_dedup.jobs"] >= 1 and m["operators.pack.jobs"] >= 1
    assert m["compiler.compile.jobs"] == 0  # the validate layers are idle
    assert m["arrow.rows_to_python"] > 0


def test_benchmark_json_lists_every_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["per_layer"]] == list(spans.PER_LAYER)
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "cold_run_s", "run_s", "rows_per_s", "tokens_per_s"}
    assert {w["name"] for w in spec["workloads"]} == {"validate_burst", "curate_pack"}
