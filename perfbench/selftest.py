"""Self-tests for the benchmark (each case is one small run):

- every workload in BENCHMARK.json, at a tiny size, untraced and traced,
  prints every named metric with its unit, all jobs correct, exit 0;
- a corrupted span text (resume_commit) and a wrong query result
  (analytics_sf0.01) each make ``failed`` > 0 and the exit code non-zero;
- a directory holding only BENCHMARK.json and the benchmark's files
  exits non-zero without printing a result.

    python3 perfbench/selftest.py

Runs take about five minutes in all. The exit code is the number of
failed cases.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"resume_commit": {"docs": 120}, "analytics_sf0.01": {"sf": 0.004}}


def _child(fault: str, argv: list[str]) -> int:
    """Run the benchmark in this process at the tiny sizes, with the
    program's output deliberately broken when ``fault`` says so."""
    sys.path.insert(0, ROOT)
    import pyspark.sql.functions as F

    import __spark_entry__
    from davar_lab_ocr_spark.operators import decode_sql
    from perfbench import run

    for name, sizes in TINY.items():
        run.WORKLOADS[name].update(sizes)
    run.N_SETUPS, run.LAYER_REPS, run.PROBE_REPS = 2, 1, 1
    if fault == "span":
        good = decode_sql.text_decode_col
        decode_sql.text_decode_col = lambda mode, ids: F.concat(good(mode, ids), F.lit("x"))
    elif fault == "query":
        good_queries = __spark_entry__.queries

        def queries():
            q = good_queries()
            good = q["pricing_summary"]
            q["pricing_summary"] = lambda spark, sf: good(spark, sf).withColumn(
                "count_order", F.col("count_order") + 1)
            return q

        __spark_entry__.queries = queries
    return run.main(argv)


def _run(cmd: list[str], cwd: str) -> tuple[int, dict | None, str]:
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr[-2000:]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = 0

    def case(name: str, ok: bool, detail: str = "") -> None:
        nonlocal failures
        failures += not ok
        print(f"{'PASS' if ok else 'FAIL'} {name}" + (f"\n{detail}" if not ok and detail else ""), flush=True)

    def bench(workload: str, trace: int, fault: str = "none"):
        return _run([sys.executable, os.path.join(HERE, "selftest.py"), "--child", fault,
                     "--workload", workload, "--seed", "5", "--seconds", "1",
                     "--trace", str(trace)], ROOT)

    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = bench(wl, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in (res or {}).get("metrics", {}).items()}
            case(f"{wl} trace={trace} emits every metric with its unit, all correct",
                 code == 0 and res is not None and res["correct"] and res["failed"] == 0
                 and got == want, f"exit {code}, result {res}\n{err}")

    code, res, err = bench("resume_commit", 0, fault="span")
    case("corrupted span text fails the run",
         code != 0 and res is not None and res["failed"] > 0 and not res["correct"], err)
    code, res, err = bench("analytics_sf0.01", 0, fault="query")
    case("wrong query result fails the run",
         code != 0 and res is not None and res["failed"] > 0 and not res["correct"], err)

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, res, err = _run(spec["command"] + ["--workload", spec["workloads"][0]["name"],
                                             "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    shutil.rmtree(bare)
    case("without the program the run exits non-zero and prints no result",
         code != 0 and res is None, err)
    return failures


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        sys.exit(_child(sys.argv[2], sys.argv[3:]))
    sys.exit(main())
