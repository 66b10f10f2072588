"""Metrics of one run: end-to-end (untraced), per-layer (traced) and the
per-kind detail the end-to-end set summarises."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

READS = ("point", "range", "lookup")
SCHEMES = ("base", "range", "rr", "hash")


def tail(values: list[float]) -> dict | None:
    """Highest whole percentile with at least ten samples beyond it
    (nearest rank), or None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    pct = math.floor(100 * (n - 10) / n)
    k = math.ceil(pct / 100 * n)
    return {"pct": pct, "value": sorted(values)[k - 1], "n": n, "beyond": n - k}


def _good(ops) -> list:
    return [op for op in ops if op.ok and op.ms is not None]


def end_to_end(bench, setup_s: float, units_ms: list[float]) -> dict[str, float]:
    """``units_ms``: latencies of the workload's unit of work (an ingest
    cycle, a fragment read), whose median is ``op_ms_p50``;
    ``ops_per_s`` counts every good measured op."""
    ops = [op.ms for op in _good(bench.ops)]
    if not units_ms or not ops:
        return {}
    return {
        "setup_s": setup_s,
        "op_ms_p50": statistics.median(units_ms),
        "ops_per_s": len(ops) / (sum(ops) / 1e3),
    }


def detail(bench, workload: str) -> dict:
    """Per-kind latencies with sample counts, error rate and sizes."""
    attempted, failed = bench.tally()
    out: dict = {"workload": workload, "error_rate": failed / max(attempted, 1),
                 "ops_run_twice": sum(op.parts.get("attempts", 1) > 1 for op in bench.ops)}
    by_kind: dict[str, list[float]] = defaultdict(list)
    for op in _good(bench.ops):
        by_kind[op.kind].append(op.ms)
    for kind, ms in sorted(by_kind.items()):
        out[f"{kind}_ms_p50"] = statistics.median(ms)
        out[f"{kind}_ms_tail"] = tail(ms) or {"pct": None, "n": len(ms)}
    if "ingest" in by_kind:
        out["ingest_rows_per_s"] = bench.rows / (statistics.median(by_kind["ingest"]) / 1e3)
        for step in ("load_s", "range_s", "rr_s", "hash_s"):
            out[f"ingest_{step}"] = statistics.median(
                op.parts[step] for op in _good(bench.ops) if op.kind == "ingest")
    out.update(bench.detail)
    return out


def per_layer(bench, spans: list[tuple], ledger: dict, names: list[str],
              units_ms: list[float]) -> dict[str, float]:
    """Every per-layer metric in ``names``; 0 where the layer did no work
    in the measured phase. ``units_ms`` as for :func:`end_to_end`."""
    ops = bench.ops
    # a read run twice (see Bench.op) left spans and Spark jobs twice
    n_ops = max(sum(op.parts.get("attempts", 1) for op in ops), 1)
    by_name: dict[str, list[tuple]] = defaultdict(list)
    for op, name, parent, dur, self_s in spans:
        if op is not None:
            by_name[name].append((parent, dur, self_s))

    def mean_dur(name: str) -> float:
        d = [s[1] for s in by_name.get(name, [])]
        return statistics.fmean(d) if d else 0.0

    def total_ms(pred) -> float:
        return sum(s[1] for name, v in by_name.items() if pred(name) for s in v) * 1e3

    def mean(values) -> float:
        values = list(values)
        return statistics.fmean(values) if values else 0.0

    m: dict[str, float] = {
        "sources.load_s": mean_dur("api.load_ratings"),
        "operators.fragmentation.range_s": mean_dur("api.range_partition"),
        "operators.fragmentation.rr_s": mean_dur("api.round_robin_partition"),
        "operators.fragmentation.hash_s": mean_dur("api.hash_partition"),
        "operators.fragmentation.write_s": mean_dur("operators.fragmentation.write_fragmented"),
        "operators.scaling.row_number_s": mean_dur("operators.scaling.stable_row_number"),
    }
    reads = [op for op in ops if op.kind in READS]
    m["operators.query.build_ms"] = mean(op.parts.get("build_ms", 0) for op in reads)
    m["operators.query.exec_ms"] = mean(op.parts.get("exec_ms", 0) for op in reads)
    scanned = sum(
        v.get("rows", 0) / op.parts.get("attempts", 1) for op in reads
        for v in getattr(ledger.get(f"op-{op.index}"), "scans", {}).values()
    )
    returned = sum(op.parts.get("rows") or 0 for op in reads)
    m["operators.query.rows_returned_per_row_read"] = returned / scanned if scanned else 0.0

    # reads that route a query or insert; reads inside an update are
    # part of catalog.update_ms
    catalog_reads = [
        s[1] for name, v in by_name.items()
        if name.startswith("catalog.") and name.endswith("_meta")
        for s in v if not (s[0] or "").startswith("catalog.update_")
    ]
    m["catalog.read_ms"] = sum(catalog_reads) * 1e3 / n_ops
    m["catalog.update_ms"] = total_ms(lambda n: n.startswith("catalog.update_")) / n_ops
    m["fs.lock_ms"] = total_ms(lambda n: n == "fs.acquire_writer_lock") / n_ops
    m["fs.json_write_ms"] = total_ms(lambda n: n == "fs.write_json_atomic") / n_ops
    inserts = [s for n, v in by_name.items() if n.startswith("api.") and n.endswith("_insert")
               for s in v]
    m["api.insert_ms"] = mean(s[1] * 1e3 for s in inserts)
    m["api.insert_write_ms"] = mean(s[2] * 1e3 for s in inserts)

    for scheme in SCHEMES:
        deltas = [d[scheme] for d in bench.fs_delta.values()]
        m[f"fs.files_written.{scheme}"] = sum(d[0] for d in deltas) / n_ops
        m[f"fs.bytes_written.{scheme}"] = sum(d[1] for d in deltas) / n_ops
    m["fs.files_per_fragment"] = bench.detail.get("files_per_fragment", 0.0)
    m["fs.bytes_written_per_inserted_row"] = bench.detail.get(
        "bytes_written_per_inserted_row", 0.0)

    totals = [ledger.get(f"op-{op.index}") for op in ops]
    totals = [t for t in totals if t is not None]

    def per_op(fn) -> float:
        return sum(fn(t) for t in totals) / n_ops

    m["spark.jobs_per_op"] = per_op(lambda t: t.jobs)
    m["spark.tasks_per_op"] = per_op(lambda t: t.tasks)
    m["spark.executor_run_ms"] = per_op(lambda t: t.run_ms)
    m["spark.executor_cpu_ms"] = per_op(lambda t: t.cpu_ms)
    m["spark.shuffle_bytes"] = per_op(lambda t: t.shuffle_bytes)
    for metric in ("partitions", "files", "bytes"):
        m[f"spark.{metric}_read"] = per_op(
            lambda t: sum(v.get(metric, 0) for v in t.scans.values()))
    points = [(ledger.get(f"op-{op.index}"), op.parts.get("attempts", 1))
              for op in ops if op.kind == "point"]
    for scheme in ("range", "rr"):
        m[f"spark.point.{scheme}_partitions_read"] = mean(
            t.scans.get(scheme, {}).get("partitions", 0) / n for t, n in points if t)

    for q in {op.parts.get("name") for op in ops} - {None}:
        qops = [op for op in ops if op.parts.get("name") == q]
        m[f"queries.{q}.build_s"] = mean(op.parts["build_ms"] / 1e3 for op in qops)
        m[f"queries.{q}.exec_s"] = mean(op.parts["exec_ms"] / 1e3 for op in qops)
        m[f"queries.{q}.jobs"] = mean(
            getattr(ledger.get(f"op-{op.index}"), "jobs", 0) / op.parts.get("attempts", 1)
            for op in qops)

    m["trace.op_ms_p50"] = statistics.median(units_ms) if units_ms else 0.0
    m["trace.spans_per_op"] = sum(1 for s in spans if s[0] is not None) / n_ops
    return {name: float(m.get(name, 0.0)) for name in names}
