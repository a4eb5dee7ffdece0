#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload once at a tiny size, plain
and traced. Asserts that each run prints every metric of BENCHMARK.json
with its unit, that the correctness gate passes, and that the schema the
schema guard expects is the fixture's.

Usage (from the repository root): python3 perfbench/smoke_test.py
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run as runner  # noqa: E402


def expected_fields():
    src = open(os.path.join(BENCH, "src", "main", "scala", "perfbench",
                            "Inputs.scala")).read()
    block = src.split("val FixtureEventFields: Seq[String] = Seq(", 1)[1]
    block = block.split(")\n", 1)[0] + ")"
    return [s.split('"')[1] for s in block.split(",\n") if '"' in s]


def fixture_fields():
    import pyarrow.parquet as pq
    schema = pq.ParquetFile(
        os.path.join(runner.fixture_dir(), "events.parquet")).schema
    out = []
    for i in range(len(schema)):
        c = schema.column(i)
        logical = str(c.logical_type)
        phys = c.physical_type.lower().replace("byte_array", "binary")
        rep = "optional" if c.max_definition_level > 0 else "required"
        ann = {"String": " (STRING)"}.get(logical, "")
        if logical.startswith("Timestamp"):
            utc = "true" if "isAdjustedToUTC=true" in logical else "false"
            unit = "MICROS" if "microseconds" in logical else logical
            ann = f" (TIMESTAMP({unit},{utc}))"
        out.append(f"{rep} {phys} {c.name}{ann}")
    return out


def run(workload, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--tiny"]
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                       timeout=900)
    assert p.returncode == 0, f"{workload}/{trace}: exit {p.returncode}\n{p.stderr}"
    return p.stdout.strip().splitlines()


def main():
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    assert expected_fields() == fixture_fields(), (
        f"schema guard expects {expected_fields()}, "
        f"fixture has {fixture_fields()}")
    problems = []
    # slider is not in BENCHMARK.json (time budget) but stays runnable
    for w in [x["name"] for x in spec["workloads"]] + ["slider"]:
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            lines = run(w, trace)
            res = json.loads(lines[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w}/trace={trace}: metrics differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w}/trace={trace}: gate failed: "
                                + " | ".join(l for l in lines
                                             if l.startswith("FAILED")))
            print(f"{w} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} ops, correct={res['correct']}")
    if problems:
        print("\n".join(problems))
        sys.exit(1)
    print("smoke test passed")


if __name__ == "__main__":
    main()
