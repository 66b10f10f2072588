"""Fast self-test of the benchmark at a small size (~sf0.001).

    python3 perfbench/selftest.py

Run from the repository root. Checks, with short runs on 6,000 ratings:

* every workload exits 0 and prints exactly the end-to-end metrics of
  BENCHMARK.json, each with its unit, and the oracle agrees (no
  failures);
* a traced run prints every per-layer metric with its unit, and its
  ledger shows a point query reading 1 of 5 range partitions and 5 of
  5 round-robin partitions;
* a row planted behind the oracle's back makes checks fail and raises
  the error rate;
* in a directory holding only BENCHMARK.json and perfbench/ the
  benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
ROWS = "6000"


def bench(*args: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1", "--rows", ROWS, *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p.returncode, p.stdout.strip().splitlines()


def check(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures: list[str] = []

    def metrics_match(result: dict, kind: str) -> bool:
        want = {m["name"]: m["unit"] for m in spec[kind]}
        got = result.get("metrics", {})
        return got.keys() == want.keys() and all(
            got[n]["unit"] == u and isinstance(got[n]["value"], float) for n, u in want.items()
        )

    for w in (w["name"] for w in spec["workloads"]):
        rc, out = bench("--workload", w, "--seed", "7", "--trace", "0")
        result = json.loads(out[-1]) if rc == 0 and out else {}
        check(metrics_match(result, "end_to_end"), f"{w}: end-to-end metrics and units", failures)
        check(result.get("correct") is True and result.get("failed") == 0
              and result.get("attempted", 0) >= 1, f"{w}: oracle agrees", failures)

    rc, out = bench("--workload", "queries", "--seed", "7", "--trace", "1")
    result = json.loads(out[-1]) if rc == 0 and out else {}
    check(metrics_match(result, "per_layer"), "traced: per-layer metrics and units", failures)
    m = {k: v["value"] for k, v in result.get("metrics", {}).items()}
    check(m.get("spark.point.range_partitions_read") == 1.0
          and m.get("spark.point.rr_partitions_read") == 5.0,
          "traced: point query reads 1/5 range and 5/5 round-robin partitions", failures)
    detail = json.loads(out[-2])["detail"] if len(out) > 1 else {}
    check("overhead_ms" in detail.get("tracing", {}), "traced: tracing overhead stated", failures)

    # every measured read mix holds a wide range, which reads the planted row
    rc, out = bench("--workload", "queries", "--seed", "7", "--trace", "0",
                    "--plant-wrong-row")
    result = json.loads(out[-1]) if rc == 0 and out else {}
    detail = json.loads(out[-2])["detail"] if len(out) > 1 else {}
    check(result.get("failed", 0) > 0 and result.get("correct") is False
          and detail.get("error_rate", 0) > 0, "planted wrong row raises error_rate", failures)

    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = bench("--workload", "ingest", "--seed", "7", "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and not any(line.startswith('{"correct"') for line in out),
          "without the package: non-zero exit, no result", failures)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
