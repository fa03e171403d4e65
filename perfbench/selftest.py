#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale. Run from the repository root:

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs run.py on tiny inputs with
tracing off and on, and asserts that the run is correct and that the result
line carries exactly the metrics BENCHMARK.json names, each with its unit.
It then plants a perturbed rank, a relabelled vertex and a triangle count off
by one, and asserts each is caught (error rate above 0). Last, it asserts
run.py fails without printing a result in a directory that holds only
BENCHMARK.json and the benchmark's files.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def build_outputs(d, names):
    """Names under `d` that sbt creates (what .gitignore lists)."""
    return [n for n in names if n in ("target", ".bsp")
            or (n == "project" and os.path.basename(d) == "project")]


def run(workload, trace, plant="", cwd=ROOT, run_py=None):
    cmd = [sys.executable, run_py or os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny", "--plant", plant]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


def result(workload, trace, plant=""):
    rc, lines = run(workload, trace, plant)
    assert rc == 0, f"{workload} trace={trace} plant={plant}: exit {rc}"
    res = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    return res, detail


def main():
    for w in SPEC["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, detail = result(name, trace)
            assert res["correct"] and res["failed"] == 0, (name, trace, detail["failures"])
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{name} trace={trace}: metrics {got} != {want}"
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), (name, k, v)
            print(f"ok   {name} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} checks passed")

    res, detail = result("graph-hub", 0, "rank,label,triangle")
    assert res["failed"] > 0 and not res["correct"]
    for check in ("pagerank", "lp", "triangles"):
        assert detail["failures"].get(check), (check, detail["failures"])
    print(f"ok   planted faults caught: {sorted(detail['failures'])}, "
          f"error rate {detail['error_rate']:.3f}")

    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=build_outputs)
    rc, lines = run("graph-hub", 0, cwd=bare,
                    run_py=os.path.join(bare, "perfbench", "run.py"))
    shutil.rmtree(bare)
    assert rc != 0 and not any(l.startswith("{") for l in lines), (rc, lines)
    print(f"ok   without the engine's sources run.py exits {rc} and prints no result")


if __name__ == "__main__":
    main()
