"""Self-test of the benchmark, at tiny sizes.

    python3 perfbench/selftest.py

Checks that the same seed gives byte-identical inputs (and another
seed different ones), that BENCHMARK.json names exactly the metrics the
benchmark prints, and runs every workload twice with tracing on,
requiring correct outputs, a span for every layer the workload is
meant to exercise, and Spark job counts that repeat exactly.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import gen, metrics, run  # noqa: E402
from perfbench.workloads import TINY, WORKLOADS  # noqa: E402


def snapshot(directory: Path) -> dict[str, bytes]:
    return {str(p.relative_to(directory)): p.read_bytes()
            for p in sorted(directory.rglob("*")) if p.is_file()}


def generate(directory: Path, seed: int) -> dict[str, bytes]:
    known = set(gen.history_keys(TINY.history_rows))
    gen.backfill(directory / "landing", seed, TINY.history_rows)
    gen.landing_burst(directory / "landing", seed, 1, TINY.burst_rows)
    gen.daily_file(directory / "landing", seed, 1, TINY.day_rows, TINY.history_rows, known)
    gen.catalog_tables(directory / "catalog", seed, TINY.orders, TINY.docs)
    return snapshot(directory)


def check_inputs() -> None:
    tmp = Path(tempfile.mkdtemp(dir=ROOT / ".perfbench_work"))
    try:
        a, b, c = (generate(tmp / name, seed) for name, seed in (("a", 7), ("b", 7), ("c", 8)))
        assert a == b, "same seed, different inputs"
        assert a.keys() == c.keys() and all(a[k] != c[k] for k in a if a[k]), \
            "another seed should change every non-empty input"
    finally:
        shutil.rmtree(tmp)
    print("inputs: same seed gives byte-identical files")


def check_benchmark_json() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e, layers = metrics.benchmark_lists()
    assert [m["name"] for m in spec["end_to_end"]] == [m["name"] for m in e2e]
    assert spec["per_layer"] == layers, "BENCHMARK.json per_layer differs from metrics.py"
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    print("BENCHMARK.json: metric lists match")


def check_runs() -> None:
    for name in WORKLOADS:
        results = [run.measure(name, 3, 1, trace=True, sizes=TINY) for _ in range(2)]
        for r in results:
            assert r["correct"] and r["failed"] == 0, f"{name}: {r}"
        spans = run.ROOT / ".perfbench_work" / f"spans-{name}-3.jsonl"
        seen = {json.loads(line)["name"] for line in spans.read_text().splitlines()}
        want = {span for span, fields, _, workloads in metrics.LAYERS
                if name in workloads and span not in ("spark", "", "trace")}
        assert want <= seen, f"{name}: no span for {sorted(want - seen)}"
        jobs = [{k: v["value"] for k, v in r["metrics"].items() if k.endswith(".jobs")}
                for r in results]
        assert jobs[0] == jobs[1], f"{name}: job counts differ: {jobs}"
        print(f"{name}: correct twice, {jobs[0]['spark.jobs']:g} Spark jobs per pass both times")


if __name__ == "__main__":
    (ROOT / ".perfbench_work").mkdir(exist_ok=True)
    check_inputs()
    check_benchmark_json()
    check_runs()
