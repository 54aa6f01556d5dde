#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program from source on
first use (see build.py), starts one JVM that writes the seeded inputs,
sets up, measures and checks outputs (see src/Main.scala), and prints one
JSON object: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end set of BENCHMARK.json, with
`--trace 1` the per-layer set. Host context (nproc, loadavg at start and
end, steal over the run) is printed on the line before and kept, with
the raw walls, spans and input properties, in
`.bench_build/results/<workload>-seed<n>-trace<t>.json`.
Everything it writes stays under `.bench_build/` in the checkout.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("sparkify_elt", "star_analytics")
# Hard stop for the JVM, so a run ends within the 180 s a run may take.
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_times():
    """(total, steal) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7] if len(v) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def metric_sets():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    e2e, per_layer = metric_sets()
    want = per_layer if a.trace else e2e

    host = {"nproc": os.cpu_count(), "loadavg_start": loadavg()}
    cpu0 = cpu_times()
    work = build.BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    cmd = (["java", "-XX:-UsePerfData", "-Xms1g", "-Xmx1g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + str(work)] + ADD_OPENS +
           ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work),
            "--fingerprints", str(HERE / "fingerprints.json"),
            "--per-layer", ",".join(f"{k}={u}" for k, u in per_layer.items())])
    log = build.BUILD / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s; log in {log}", file=sys.stderr)
            return 3
        finally:
            shutil.rmtree(work, ignore_errors=True)
    cpu1 = cpu_times()
    host["loadavg_end"] = loadavg()
    dt = cpu1[0] - cpu0[0]
    host["steal_pct"] = 100.0 * (cpu1[1] - cpu0[1]) / dt if dt > 0 else 0.0

    line = next((x for x in reversed(out.splitlines()) if x.startswith("PERFBENCH ")), None)
    if p.returncode != 0 or line is None:
        print(f"perfbench: JVM exited {p.returncode} without a result; log in {log}", file=sys.stderr)
        return 4
    res = json.loads(line[len("PERFBENCH "):])
    missing = [k for k, u in want.items() if res["metrics"].get(k, {}).get("unit") != u]
    if missing:
        print(f"perfbench: metrics missing from the run or with another unit: {missing}", file=sys.stderr)
        return 5
    res["host"] = host
    results = build.BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(res, indent=1))
    for e in res["detail"].get("errors", []):
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": res["metrics"][k]["value"], "unit": u} for k, u in want.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
