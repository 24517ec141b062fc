"""Self-test of the benchmark at small sizes (sf0.001 tables, a few
hundred documents).

    python3 perfbench/selftest.py

Run from the repository root. For every workload in BENCHMARK.json it
checks that an untraced run prints every end-to-end metric, and a
traced run every per-layer metric, by name with its unit, with all
results correct; and that a run checked against a deliberately wrong
expected result reports a failure, so the correctness check cannot pass
vacuously. Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def run(workload: str, *flags: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--small", *flags]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"FAIL {' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return {"result": json.loads(proc.stdout.strip().splitlines()[-1]),
            "lines": proc.stdout.strip().splitlines()[:-1]}


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL {what}")
    print(f"ok   {what}")


def main() -> None:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        name = w["name"]
        for trace, group in (("0", "end_to_end"), ("1", "per_layer")):
            out = run(name, "--trace", trace)
            res, lines = out["result"], out["lines"]
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{name} trace {trace}: result keys")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{name} trace {trace}: every result correct")
            for m in spec[group]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float)),
                       f"{name} trace {trace}: {m['name']} [{m['unit']}] in the JSON line")
                expect(any(ln.split()[0] == m["name"] and ln.split()[-1] == m["unit"] for ln in lines),
                       f"{name} trace {trace}: {m['name']} printed with its unit")
            expect(set(res["metrics"]) == {m["name"] for m in spec[group]},
                   f"{name} trace {trace}: no metric outside BENCHMARK.json")
        bad = run(name, "--trace", "0", "--corrupt-expected")["result"]
        expect(bad["failed"] > 0 and not bad["correct"],
               f"{name}: a wrong expected checksum makes failed_frac > 0 ({bad['failed']}/{bad['attempted']})")
    # a directory without the program: the benchmark must refuse to run
    proc = subprocess.run([sys.executable, os.path.abspath("perfbench/run.py"), "--workload",
                           spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                           "--trace", "0"], cwd=os.path.join("perfbench"), capture_output=True,
                          text=True, timeout=180)
    expect(proc.returncode != 0 and not proc.stdout.strip(), "no daft_spark/: non-zero exit, no result")


if __name__ == "__main__":
    main()
