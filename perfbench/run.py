#!/usr/bin/env python3
"""graft's benchmark: one workload per invocation, one JVM per run.

    python3 perfbench/run.py --workload ref-findsim --seed 1 --seconds 12 --trace 0

Builds graft from source (perfbench/build.py), starts one JVM on the Spark
distribution's jars with `java -cp`, and prints, as the last line of
stdout, one JSON object with the keys correct, attempted, failed and
metrics. --trace 0 gives the end-to-end metrics, --trace 1 the per-layer
ones from a separate traced run. The line before it describes the run
(host, versions, sample counts); the full detail, and the spans of a traced
run, are written under .bench_build/out/.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ref-findsim", "crud-mix", "sf01-queries")
JVM_TIMEOUT_S = 165

# ref-findsim runs a closed loop for a fixed time, and the C2 compiler
# keeps speeding its request path up for over a minute (throughput rose
# 15 -> 17 -> 18 q/s across three 20 s rounds), so a timed window lands
# somewhere on that curve: five seeds spread 0.19-0.21 on every latency
# metric. With C1 only, throughput is flat after a few seconds and the same
# five seeds spread 0.05. The other workloads do fixed work and keep C2:
# in five-seed trials C1 was not clearly steadier on them, and it made the
# queries 1.6x slower.
JIT_FLAGS = {
    "ref-findsim": ["-XX:TieredStopAtLevel=1"],
    "crud-mix": [],
    "sf01-queries": [],
}

# JDK 17 opens Spark needs when it runs outside spark-submit; the same set
# as graft's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_commit(root):
    try:
        res = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
        return res.stdout.strip() if res.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def conform(result, trace):
    """Holds the result's metrics to BENCHMARK.json: with --trace 0 exactly
    its end_to_end metrics, each above 0; with --trace 1 exactly its
    per_layer ones, where a layer the workload never calls reads 0. Metrics
    come out in the manifest's order. Returns what is wrong, or None.
    """
    manifest = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in manifest["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    problems = [f"{k} is not in the manifest" for k in got if k not in want]
    problems += [f"{k} in {got[k]['unit']}, manifest says {u}"
                 for k, u in want.items() if k in got and got[k]["unit"] != u]
    for k, m in got.items():
        v = m["value"]
        if not isinstance(v, (int, float)) or not math.isfinite(v) or (not trace and v <= 0):
            problems.append(f"{k} = {v}")
    if not trace:
        problems += [f"{k} missing" for k in want if k not in got]
    result["metrics"] = {k: got.get(k, {"value": 0.0, "unit": u}) for k, u in want.items()}
    return "; ".join(problems) or None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", help=argparse.SUPPRESS)
    a = ap.parse_args()

    classes, source_digest = build.build()
    jars = build.spark_jars()
    out = build.BUILD / "out"
    out.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    scratch = build.BUILD / "scratch" / stem
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    files = {k: out / f"{stem}.{k}" for k in ("result", "details", "spans", "log")}
    for f in files.values():
        f.unlink(missing_ok=True)

    load_start = os.getloadavg()
    steal_start = steal_s()
    launched = time.time()
    cmd = [build.java(), "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={scratch / 'tmp'}"] + JIT_FLAGS[a.workload]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", str(build.ROOT), "--launched", repr(launched),
            "--scratch", str(scratch), "--out", str(files["result"]),
            "--details", str(files["details"]), "--spans", str(files["spans"])]
    if a.record_expected:
        cmd += ["--record-expected", str(Path(a.record_expected).resolve())]
    with open(files["log"], "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=scratch)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0:
        tail = files["log"].read_text(errors="replace")[-4000:]
        sys.stderr.write(tail + f"\nbenchmark JVM {'timed out' if rc is None else f'exited {rc}'}"
                         f"; log: {files['log']}\n")
        return 1
    if a.record_expected:
        return 0

    details = json.loads(files["details"].read_text())
    context = {
        "context": {
            "nproc": os.cpu_count(), "local_cores": details["local_cores"],
            "loadavg_start": list(load_start), "loadavg_end": list(os.getloadavg()),
            "cpu_steal_s": round(steal_s() - steal_start, 2),
            "git_commit": git_commit(build.ROOT), "source_digest": source_digest,
            "java": details["java"], "spark": details["spark"],
        },
        "run": {k: v for k, v in details.items()
                if k not in ("java", "spark", "local_cores", "loadavg_start", "loadavg_end")},
        "details_file": str(files["details"].relative_to(build.ROOT)),
    }
    result = json.loads(files["result"].read_text())
    problem = conform(result, a.trace)
    if problem:
        sys.stderr.write(f"result does not match BENCHMARK.json: {problem}\n")
        return 1
    print(json.dumps(context, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
