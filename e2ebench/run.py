#!/usr/bin/env python3
"""End-to-end benchmark of fs_schema_validator_spark, with a traced run
that splits each workload into the package's layers.

    python3 e2ebench/run.py --workload validate_burst --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout; it writes only under ``./.bench_work``.
One closed-loop client on ``local[<nproc>]``. Every run's output is
checked. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics. The lines
before it list every run with its wall time and host steal share. See
README.md for what each metric means and which layer should move it.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(ROOT))

import spans  # noqa: E402
import workloads  # noqa: E402

DRIVER_MEMORY = "2g"


def read_cpu() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


class Host:
    """Steal share over a measured interval."""

    def __enter__(self):
        self.cpu0 = read_cpu()
        return self

    def __exit__(self, *exc):
        tot1, st1 = read_cpu()
        self.steal_pct = 100.0 * (st1 - self.cpu0[1]) / max(tot1 - self.cpu0[0], 1)


def prepare_env(work: Path, cores: int) -> None:
    """Point Spark, its Python workers and temp files at the checkout."""
    for d in ("spark-local", "tmp", "eventlog", "warehouse", "reports"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)


def launch_jvm(work: Path) -> None:
    from pyspark import SparkConf, SparkContext

    conf = SparkConf().set("spark.driver.memory", DRIVER_MEMORY).set(
        "spark.driver.extraJavaOptions",
        # no hsperfdata file in the system temp dir: the run writes only
        # inside its working directory
        f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'} -XX:-UsePerfData")
    SparkContext._ensure_initialized(conf=conf)


def start_session(work: Path, workload: str, trace: bool):
    from fs_schema_validator_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=f"e2ebench-{workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be closing
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Times, checks and records every end-to-end run of one workload."""

    def __init__(self, spark, wl) -> None:
        self.spark = spark
        self.wl = wl
        self.runs: list[dict] = []

    def once(self, kind: str, tracer=None) -> dict:
        shutil.rmtree(self.wl.out, ignore_errors=True)
        # start every run from a collected heap, so a GC pause left over
        # from the previous run does not land in this one
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        rec = {"kind": kind}
        with Host() as host:
            t0 = time.perf_counter()
            try:
                rc = self.wl.run(self.spark, tracer) if tracer else self.wl.run(self.spark)
                rec["s"] = time.perf_counter() - t0
            except Exception as ex:  # noqa: BLE001 - a failed run is counted, not fatal
                rec.update(s=time.perf_counter() - t0, errors=[f"{type(ex).__name__}: {ex}"])
                traceback.print_exc()
        rec["steal_pct"] = host.steal_pct
        rec["cached_bytes"] = spans.storage_bytes(self.spark)
        workloads.release(self.spark)
        if "errors" not in rec:
            try:
                rec["errors"] = self.wl.check(rc)
            except Exception as ex:  # noqa: BLE001 - an unreadable output is a wrong output
                rec["errors"] = [f"check: {type(ex).__name__}: {ex}"]
        rec["ok"] = not rec["errors"]
        self.runs.append(rec)
        status = "ok" if rec["ok"] else "FAILED " + "; ".join(rec["errors"])
        print(f"  run {len(self.runs):2d} {kind:8s} {rec['s']:8.3f} s  steal {rec['steal_pct']:5.2f}%  {status}",
              flush=True)
        return rec

    def ok_times(self, kind: str) -> list[float]:
        return [r["s"] for r in self.runs if r["kind"] == kind and r["ok"]]


def quantiles(values: list[float]) -> dict[str, float]:
    """Median, quartiles and count of a sample (the quartiles of one
    value are that value)."""
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def trace_metrics(spark, wl, runner: Runner, tracer, work: Path, cores: int,
                  n_bad: int) -> tuple[dict[str, float], dict]:
    """The traced run's per-layer metrics, and details for the report:
    per span, the stages that read each input table. Stops the session
    first, so the event log is complete when it is read."""
    app_id = spark.sparkContext.applicationId
    rss = jvm_peak_rss_mb()
    shutdown(spark)
    log = spans.EventLog(work / "eventlog" / app_id)
    m = dict.fromkeys(spans.PER_LAYER, 0.0)  # a layer idle in this workload reads 0
    m.update(spans.span_metrics(tracer, log, cores))

    in_run = [s for s in tracer.spans if not s.name.startswith("table_rule.")]
    run_jobs = [j for j, info in log.jobs.items()
                if info["group"] in {tracer.group(s.name) for s in in_run}]
    run_stages = log.job_stages(run_jobs)
    arrow = log.arrow(run_stages)
    traced = next(r for r in runner.runs if r["kind"] == "traced")
    m.update({
        "compiler.fused_scan.input_bytes": log.files_read_bytes(
            log.group_jobs(tracer.group("compiler.fused_scan"))),
        "compiler.fused_scan.cached_bytes": tracer.fused_cached_bytes,
        "arrow.bytes_to_python": arrow.get("data sent to Python workers", 0.0),
        "arrow.bytes_from_python": arrow.get("data returned from Python workers", 0.0),
        "arrow.rows_to_python": arrow.get("rows to Python", 0.0),
        "arrow.python_run_s": arrow.get("time to run Python workers", 0.0) / 1e3,
        "run.jobs": len(run_jobs),
        "run.seq_scans": log.stages_reading(run_stages, wl.subject_table),
        "run.ref_scans": log.stages_reading(run_stages, "reference_tokens"),
        "run.cached_mb": traced["cached_bytes"] / 1e6,
        "trace.overhead_s": traced["s"] - statistics.median(runner.ok_times("warm")),
        "jvm.peak_rss_mb": rss,
        "host.steal_pct": statistics.mean(r["steal_pct"] for r in runner.runs),
    })
    m.update(wl.layer_metrics(log, tracer, n_bad))
    tables = [p.name for p in sorted(wl.inputs.iterdir()) if p.is_dir()]
    details = {
        "span_total_s": sum(s.end - s.start for s in in_run if s.parent is None),
        "scans": {s.name: {t: log.stages_reading(log.job_stages(log.group_jobs(tracer.group(s.name))),
                                                 f"/{t}")
                           for t in tables}
                  for s in tracer.spans},
    }
    return m, details


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="input size instead of the workload's own (for the self-tests)")
    args = ap.parse_args()

    work = Path.cwd() / ".bench_work"
    cores = len(os.sched_getaffinity(0))
    prepare_env(work, cores)
    import fs_schema_validator_spark  # noqa: F401 - import time is set-up

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    import_s = time.perf_counter() - PROCESS_START

    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.workload, work, args.seed, args.rows)
    generate_s = time.perf_counter() - t0

    # set-up: JVM launch, session start, input check (the cold run is the
    # only warm-up, so it stays what a one-shot spark-submit pays)
    t0 = time.perf_counter()
    launch_jvm(work)
    t1 = time.perf_counter()
    spark = start_session(work, args.workload, bool(args.trace))
    t2 = time.perf_counter()
    wl.input_check()
    t3 = time.perf_counter()
    jvm_s, session_s, check_s = t1 - t0, t2 - t1, t3 - t2
    setup_s = import_s + jvm_s + session_s + check_s

    print(f"{args.workload} seed={args.seed} nproc={cores} rows={wl.rows} tokens={wl.tokens} "
          f"trace={args.trace}", flush=True)
    runner = Runner(spark, wl)
    try:
        runner.once("cold")
        t_measure = time.perf_counter()
        if args.trace:
            tracer = spans.Tracer(spark, args.workload)
            runner.once("warm")
            with tracer.patched():
                runner.once("traced", tracer)
                n_bad = sum(df.count() for df in tracer.tracked)
                wl.traced_extras(spark, tracer)
            # untraced runs on both sides of the traced one, so JIT
            # warm-up between runs does not read as negative overhead
            runner.once("warm")
        else:
            # a fixed count of warm runs puts every process at the same point
            # of the JIT tiering curve; --seconds only ever adds runs. Failed
            # runs are retried, at most twice as many times as needed.
            for _ in range(2 * wl.warm_runs + 2):
                if (len(runner.ok_times("warm")) >= wl.warm_runs
                        and time.perf_counter() - t_measure >= args.seconds):
                    break
                runner.once("warm")
        failed = sum(not r["ok"] for r in runner.runs)
        if not runner.ok_times("warm") or not runner.ok_times("cold"):
            print("no successful cold and warm run; no result", file=sys.stderr)
            return 1
        if args.trace:
            layer, details = trace_metrics(spark, wl, runner, tracer, work, cores, n_bad)
            spark = None
    finally:
        shutdown(spark)

    warm = runner.ok_times("warm")
    q = quantiles(warm)
    run_s = q["median"]
    report = {
        "workload": args.workload, "seed": args.seed, "nproc": cores, "trace": args.trace,
        "rows": wl.rows, "tokens": wl.tokens, "runs": runner.runs,
        "setup": {"import_s": import_s, "jvm_s": jvm_s, "session_s": session_s,
                  "input_check_s": check_s, "setup_s": setup_s, "generate_s": generate_s},
        "run_s_quartiles": q,
        "error_rate": failed / len(runner.runs),
    }
    if args.trace:
        layer.update({"setup.session_s": session_s, "setup.generate_s": generate_s})
        report["trace_details"] = details
        out = {k: {"value": float(layer[k]), "unit": unit} for k, (unit, _) in spans.PER_LAYER.items()}
        tracer.dump(work / "reports" / f"spans-{args.workload}-s{args.seed}-{os.getpid()}.json")
    else:
        cold = runner.ok_times("cold")[0]
        out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_run_s": {"value": cold, "unit": "s"},
            "run_s": {"value": run_s, "unit": "s"},
            "rows_per_s": {"value": wl.rows / run_s, "unit": "rows/s"},
            "tokens_per_s": {"value": wl.tokens / run_s, "unit": "tokens/s"},
        }
    report["metrics"] = out
    (work / "reports" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json").write_text(
        json.dumps(report, indent=1))
    print(f"  warm run_s median {q['median']:.3f} s  q1 {q['q1']:.3f}  q3 {q['q3']:.3f}  n={q['n']}")
    print(f"  error_rate {report['error_rate']:.4f} ratio ({failed} of {len(runner.runs)} runs)")
    for k, v in out.items():
        print(f"  {k:48s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(runner.runs), "failed": failed,
                      "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
