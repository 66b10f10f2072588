"""Paper-path benchmark for the fragmentation engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One client process drives a Spark
session built by the package's own ``session.get_spark`` on
``local[<cores>]``; the workload's inputs are generated from the seed
under ``.perfbench/`` and removed at the end. Every op's result is
checked against DuckDB outside the timed interval.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1`` (spans and the
Spark event log on). The line before it holds the per-kind detail
(medians, tails with their percentile and sample count, error rate).
Both, plus the spans of a traced run, are also written to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
#: rows of the generated ratings text (~2.9 MB)
RATINGS_ROWS = 100_000
#: a run that is not done by then stops without a result
DEADLINE_S = 175
#: session settings recorded with each result, beside spark.sql.*
SESSION_KEYS = ("spark.master", "spark.driver.memory", "spark.ui.enabled")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=RATINGS_ROWS,
                   help="ratings rows of the fragment workloads")
    p.add_argument("--plant-wrong-row", action="store_true",
                   help="self-test (queries): add a row behind the oracle's back")
    return p.parse_args(argv)


def _environment(work: Path, trace: bool) -> None:
    """Keep every file the run writes inside ``work``; set the core
    count the package's session builder reads; in a traced run turn on
    the uncompressed event log (the only session setting changed)."""
    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    submit = []
    if trace:
        submit = [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{work / 'eventlog'}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _plant_wrong_row(spark, warehouse: str) -> None:
    """Append one row rated 0.5 to range fragment 0 without telling the
    oracle: every wide range reads it."""
    from pyspark.sql import functions as F

    spark.createDataFrame([(1, 1, 0.5)], "userid int, movieid int, rating double") \
        .withColumn("fragment_id", F.lit(0)).write.mode("append") \
        .partitionBy("fragment_id").parquet(os.path.join(warehouse, "ratings_range"))


def run(args, work: Path, names: list[str]) -> tuple[dict, dict, object]:
    """One run; ``names``: the per-layer metrics a traced run reports."""
    import ledger
    import report
    import spans
    import workloads
    from database_fragmentation_and_query_processor_spark import session

    bench = workloads.Bench(args.seed, str(work), args.rows,
                            spans.Tracer() if args.trace else None)
    workload = workloads.WORKLOADS[args.workload](bench)  # inputs + oracle, untimed

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        bench.detail["session_s"] = time.perf_counter() - t0
        bench.detail["session_conf"] = {
            k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
            if k.startswith(("spark.sql.", "spark.eventLog.")) or k in SESSION_KEYS
        }
        bench.attach(spark)
        workload.setup()
        setup_s = time.perf_counter() - t0
        if args.plant_wrong_row:
            _plant_wrong_row(spark, workload.wh)

        if bench.tracer:
            bench.tracer.install()
        bench.measuring = True
        try:
            workload.measure(args.seconds)
        finally:
            bench.measuring = False
            if bench.tracer:
                bench.tracer.restore()
        t1 = time.perf_counter()
        workload.finish()
        bench.detail["finish_s"] = time.perf_counter() - t1
    finally:
        t1 = time.perf_counter()
        _stop(spark)
        bench.detail["stop_s"] = time.perf_counter() - t1

    detail = report.detail(bench, args.workload)
    units = workload.units_ms
    if not args.trace:
        return report.end_to_end(bench, setup_s, units), detail, bench
    logs = list((work / "eventlog").iterdir())
    folded = ledger.fold(str(logs[0])) if len(logs) == 1 else {}
    metrics = report.per_layer(bench, bench.tracer.self_times(), folded, names, units)
    detail["tracing"] = {"op_ms_p50": metrics["trace.op_ms_p50"], "event_log_files": len(logs)}
    return metrics, detail, bench


def main(argv=None) -> int:
    args = _args(argv)
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        print("perfbench: run from the repository root (BENCHMARK.json not found)",
              file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _environment(work, bool(args.trace))
    try:
        return _measure(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, spec: dict, work: Path) -> int:
    sys.path[1:1] = [str(ROOT)]  # the package lives at the repository root
    try:
        import database_fragmentation_and_query_processor_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable here: {exc}", file=sys.stderr)
        return 2

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    os.chdir(work)  # stray files (spark-warehouse, derby.log) land in work/
    try:
        metrics, detail, bench = run(args, work, [m["name"] for m in spec["per_layer"]])
    finally:
        signal.alarm(0)
        os.chdir(ROOT)
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    inputs = f"{args.workload}-seed{args.seed}-rows{args.rows}" + (
        "-planted" if args.plant_wrong_row else "")
    stem = results / f"{inputs}-trace{args.trace}"
    if bench.tracer:
        bench.tracer.write(f"{stem}.spans.jsonl")
        # tracing overhead: traced minus untraced op median, same inputs
        untraced = results / f"{inputs}-trace0.json"
        base = json.loads(untraced.read_text())["result"] if untraced.is_file() else {}
        if base.get("correct"):
            base_ms = base["metrics"]["op_ms_p50"]["value"]
            extra = metrics["trace.op_ms_p50"] - base_ms
            detail["tracing"].update(overhead_ms=extra, overhead_pct=100 * extra / base_ms)

    attempted, failed = bench.tally()
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    out = {
        "correct": failed == 0 and units.keys() <= metrics.keys(),
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items() if n in metrics},
    }
    log = [[op.kind, op.ms, op.ok, op.parts] for op in bench.setup_ops + bench.ops]
    Path(f"{stem}.json").write_text(
        json.dumps({"result": out, "detail": detail, "setup_ops_then_ops": log}, indent=1))
    print(json.dumps({"detail": detail}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
