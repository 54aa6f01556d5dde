#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. BENCHMARK.json: keys, name and unit syntax, bounds, setup_s.
2. The Scala self-test (src/SelfTest.scala): generator determinism, exact
   expected counts, the p90 rule.
3. The one command, on every workload with --seconds 1: it prints every
   end-to-end metric with its unit untraced, every per-layer metric
   traced, reports query.p90_s only with ten samples beyond it, and its
   output checks pass (error_rate 0).
4. In a directory that holds only BENCHMARK.json and perfbench/, the
   command exits non-zero without printing a result.

Takes about eight minutes on 4 cores. Writes only under .bench_build/.
"""
import json
import os
import pathlib
import re
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
failures = []


def check(name, ok):
    print(f"{'ok  ' if ok else 'FAIL'} {name}")
    if not ok:
        failures.append(name)


def last_json(stdout):
    lines = [x for x in stdout.splitlines() if x.strip()]
    return json.loads(lines[-1]) if lines else None


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check("BENCHMARK.json has exactly the six benchmark keys", set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
    names = [w["name"] for w in spec["workloads"]] + [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    check("every name matches [A-Za-z0-9_.-]+ and is used once",
          all(NAME.match(n) for n in names) and len(names) == len(set(names)))
    check("every unit is well formed", all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"]))
    check("workloads match run.py", [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    check("bounds are in (0, 0.25] and setup_s has the largest",
          all(0 < b <= 0.25 for b in bounds.values()) and bounds.get("setup_s") == max(bounds.values()))

    classes = build.build()
    jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    work = build.BUILD / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", f"-Djava.io.tmpdir={work / 'tmp'}"] + run.ADD_OPENS +
                       ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "graft.perfbench.SelfTest", str(work)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    shutil.rmtree(work, ignore_errors=True)
    print(r.stdout, end="")
    check("Scala self-test", r.returncode == 0)

    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in run.WORKLOADS:
        for trace, want in ((0, e2e), (1, per_layer)):
            p = subprocess.run(spec["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                                  "--trace", str(trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            res = last_json(p.stdout) if p.returncode == 0 else None
            ok = res is not None and set(res) == {"correct", "attempted", "failed", "metrics"}
            check(f"{w} trace={trace}: exit 0 and a result line", ok)
            if not ok:
                print(p.stderr[-2000:])
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(f"{w} trace={trace}: prints exactly its metric set with units", got == want)
            check(f"{w} trace={trace}: outputs correct, error_rate 0",
                  res["correct"] and res["failed"] == 0 and res["attempted"] >= 1)
            if trace:
                m = res["metrics"]
                check(f"{w}: query.p90_s only with 10 samples beyond it",
                      m["query.p90_s"]["value"] == 0 or m["query.p90_beyond"]["value"] >= 10)

    bare = build.BUILD / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(spec["command"] + ["--workload", run.WORKLOADS[0], "--seed", "1", "--seconds", "1",
                                          "--trace", "0"],
                       cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    check("without the program's sources: non-zero exit, no result", p.returncode != 0 and not p.stdout.strip())

    print("selftest: all passed" if not failures else f"selftest: {len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
