#!/usr/bin/env python3
"""graft's benchmark: one command builds, generates the inputs from the
seed, runs one workload in a closed loop, checks its outputs and prints
the metrics as one JSON line (the last line of stdout).

    python3 perfbench/run.py --workload weekly_credit --seed 1 \
        --seconds 20 --trace 0

--trace 0 prints the end-to-end metrics of BENCHMARK.json, measured
with tracing off. --trace 1 prints its per-layer metrics, from the
traced half of the run. See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import check  # noqa: E402
import gen    # noqa: E402

GENERATE_REPS = 2
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def generate(workload, seed, in_dir):
    """Generate the inputs GENERATE_REPS times; report the median."""
    times = []
    for _ in range(GENERATE_REPS):
        shutil.rmtree(in_dir, ignore_errors=True)
        t0 = time.perf_counter()
        gen.GENERATORS[workload](seed, str(in_dir))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run_jvm(classes, args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] +
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", f"{classes}{os.pathsep}{build.SPARK_JARS / '*'}",
            "graftbench.Main"] + args)
    with open(work / "jvm.log", "w") as log:
        code = build.run_child(cmd, JVM_TIMEOUT_S, cwd=work, stdout=log,
                               stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        raise SystemExit(f"benchmark JVM failed with code {code}")
    return json.loads((work / "result.json").read_text())


def end_to_end(r, setup_s):
    p = r["phase"]
    lat = p["latencies_s"]
    if not lat:
        raise SystemExit("no operation completed in the measured time")
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "op_p50_s": (statistics.median(lat), "s"),
        "items_per_s": (p["items"] / p["wall_s"], "1/s"),
    }


def main():
    # a terminated benchmark still stops and reaps its JVM (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build.build()
    work = build.BUILD_DIR / "run" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    in_dir = work / "in"
    generate_s = generate(a.workload, a.seed, in_dir)

    r = run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--cores", str(cores()), "--in", str(in_dir),
                          "--work", str(work)], work)
    checks = check.CHECKS[a.workload](str(in_dir), r)
    for name, ok, detail in checks:
        if not ok:
            print(f"CHECK FAILED: {name}: {detail}", file=sys.stderr)
    mismatches = sum(1 for _, ok, _ in checks if not ok)
    attempted = r["phase"]["ops"] + len(checks)
    failed = r["phase"]["failed"] + mismatches

    if a.trace:
        layers = dict(r["layers"], **{"setup.session_s": r["session_s"],
                                      "setup.generate_s": generate_s})
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        metrics = {n: {"value": layers[n], "unit": u} for n, u in units.items()}
    else:
        setup_s = (generate_s + r["session_s"] + r.get("install_s", 0.0)
                   + r.get("warmup_s", 0.0))
        e2e = end_to_end(r, setup_s)
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
