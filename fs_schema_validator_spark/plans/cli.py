"""CLI: validate a table against a YAML rule spec.

The spark-submit entry point (reference analog: validate_schema CLI,
/root/reference/fs_schema_validator/__main__.py:25-96):

    spark-submit --py-files fs_schema_validator_spark.zip \
        -m fs_schema_validator_spark validate \
        --rules rules.yaml --table /data/sequences \
        --aux dim_sources=/data/dims --aux reference_tokens=/data/ref \
        -b idx=0..3 --subject doc_id --output /out/violations

Exit codes keep the reference contract: 0 = all rules pass, 1 = violations
found, 127 = the rule spec itself is invalid.
"""

from __future__ import annotations

import argparse
import os
import sys

from ..engine import ValidationEngine, ValidationResult
from ..evaluator import ParseError, parse_assignment
from ..rules.loader import RuleSetError
from ..session import get_spark


class UsageError(Exception):
    """Bad invocation (exit 2, distinct from validation failure's exit 1)."""


def _parse_aux(values: list[str]) -> dict[str, str]:
    out = {}
    for v in values:
        if "=" not in v:
            raise UsageError(f"--aux expects name=path, got {v!r}")
        name, path = v.split("=", 1)
        out[name] = path
    return out


def build_parser() -> argparse.ArgumentParser:
    """CLI matching the reference contract
    (/root/reference/fs_schema_validator/__main__.py:25-96): rule spec and
    subject default from $VALIDATION_SCHEMA_PATH / $VALIDATION_ROOT_DIR,
    --verbose echoes the inputs + inspected count, valid subjects print as
    sorted ✅ lines (behind --show-valid here: at 10^12 subjects the
    reference's unconditional print is not a sane default)."""
    p = argparse.ArgumentParser(prog="fs_schema_validator_spark")
    sub = p.add_subparsers(dest="command", required=True)
    v = sub.add_parser("validate", help="validate a table against a rule spec")
    v.add_argument(
        "--rules",
        default=os.environ.get("VALIDATION_SCHEMA_PATH"),
        help="YAML rule-spec path (default: $VALIDATION_SCHEMA_PATH)",
    )
    v.add_argument(
        "--table",
        default=os.environ.get("VALIDATION_ROOT_DIR"),
        help="subject table path (default: $VALIDATION_ROOT_DIR)",
    )
    v.add_argument(
        "--show-valid",
        action="store_true",
        help="print sorted ✅ lines for subjects with zero violations "
        "(limited by --max-print; reference prints these unconditionally)",
    )
    v.add_argument("--aux", action="append", default=[], help="name=path auxiliary table")
    v.add_argument("-b", "--binding", action="append", default=[],
                   help="binding override, e.g. -b idx=0..3 (repeatable)")
    v.add_argument("--subject", default="doc_id", help="subject key column")
    v.add_argument("--output", default=None, help="write violations parquet here")
    v.add_argument("--group", default=None, help="print per-group summary on this column")
    v.add_argument("--verbose", "-v", action="store_true")
    v.add_argument("--max-print", type=int, default=50,
                   help="max violation subjects to print")
    pr = sub.add_parser("profile", help="one-pass column profile of a table")
    pr.add_argument(
        "--table",
        default=os.environ.get("VALIDATION_ROOT_DIR"),
        help="table path (default: $VALIDATION_ROOT_DIR)",
    )
    pr.add_argument("--columns", default=None,
                    help="comma-separated columns (default: all)")
    pr.add_argument("--exact", action="store_true",
                    help="exact distinct counts (default: HLL approx)")
    return p


def cmd_validate(args: argparse.Namespace) -> int:
    if not args.rules or not args.table:
        print(
            "missing --rules/--table (or $VALIDATION_SCHEMA_PATH/"
            "$VALIDATION_ROOT_DIR)",
            file=sys.stderr,
        )
        return 2
    try:
        aux = _parse_aux(args.aux)
    except UsageError as e:
        print(str(e), file=sys.stderr)
        return 2

    try:
        bindings = dict(parse_assignment(b) for b in args.binding)
    except ParseError as e:
        print(f"binding cannot be parsed: {e}", file=sys.stderr)
        return 127

    if args.verbose:
        print(f"Schema path: {args.rules}")
        print(f"Root dir: {args.table}")
        if bindings:
            print("⚠️  Overriding the following bindings:")
            for k, v in bindings.items():
                print(f"  {k} = {v}")
        print()

    try:
        with open(args.rules) as f:
            rules_yaml = f.read()
    except OSError as e:
        print(f"cannot read rule spec: {e}", file=sys.stderr)
        return 127

    spark = get_spark(app_name="fsv-validate")
    spark.sparkContext.setLogLevel("WARN")
    df = spark.read.parquet(args.table)
    tables = {name: spark.read.parquet(path) for name, path in aux.items()}

    engine = ValidationEngine(subject_col=args.subject)
    try:
        result = engine.validate(df, rules_yaml, tables, bindings)
    except (RuleSetError, ParseError) as e:
        print("❗️ The provided schema is invalid!", file=sys.stderr)
        print(str(e), file=sys.stderr)
        return 127
    try:
        return _report(args, result)
    finally:
        result.release()


def _report(args: argparse.Namespace, result: ValidationResult) -> int:
    """Write, summarize and print one result. Every report reads the
    result's one persisted violations copy; the first action fills it."""
    if args.output:
        result.sorted_violations().write.mode("overwrite").parquet(args.output)

    if args.group:
        result.summary(args.group).show(truncate=False)

    if args.verbose:
        metrics = result.scan_metrics()
        if metrics:
            print(f"Inspected {metrics.get('rows_scanned', 0)} rows.")
            print()

    if args.show_valid:
        for row in result.ok_subjects().limit(args.max_print).collect():
            print(f"✅ {row.subject}")

    grouped = result.grouped_by_subject().limit(args.max_print).collect()
    if not grouped:
        if args.verbose:
            print("all rules passed")
        return 0
    print()
    for row in grouped:
        print(f"❗️ {row.subject}")
        for reason in row.reasons:
            print(f"     - {reason}")
    return 1


def cmd_profile(args: argparse.Namespace) -> int:
    if not args.table:
        print("missing --table (or $VALIDATION_ROOT_DIR)", file=sys.stderr)
        return 2
    from ..operators.profile import table_profile
    from ..sources.tables import load_table

    spark = get_spark(app_name="fsv-profile")
    spark.sparkContext.setLogLevel("WARN")
    ref = args.table
    # a bare relative directory name would dispatch to the session catalog
    # in load_table; an existing local path is always a path
    if os.path.exists(ref) and "/" not in ref:
        ref = f"./{ref}"
    df = load_table(spark, ref)
    cols = args.columns.split(",") if args.columns else None
    for row in table_profile(df, cols, exact=args.exact).collect():
        print(
            f"{row.col_name}: rows={row.n_rows} nulls={row.n_nulls} "
            f"distinct={row.n_distinct} min={row.min_value} max={row.max_value}"
        )
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.command == "validate":
        return cmd_validate(args)
    if args.command == "profile":
        return cmd_profile(args)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
