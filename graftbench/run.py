"""Run one graftbench workload from the repository root.

    python3 graftbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Builds graft and the benchmark from source when they changed (build.py),
then runs graftbench.Main in one JVM with Spark in local mode on every core.
It asks Main for the metrics BENCHMARK.json lists for the mode (end-to-end
untraced, per-layer traced), with their units; metrics.json must describe
the same metrics.
Its stdout -- a metric table, then one JSON line -- is passed through; the
table, all metrics and (traced) the span dump are also written under
.bench_build/graftbench/results/<workload>-s<seed>-t<trace>/.
Exits non-zero without a result when the sources are missing, the build
fails, the run fails, or it does not finish in time.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
# JVM flags from the repo's build.sbt (Spark on JDK 17 outside spark-submit)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(root, "graftbench", "metrics.json")) as f:
        catalogue = json.load(f)
    for kind in ("end_to_end", "per_layer"):
        if [m["name"] for m in bench[kind]] != [m["name"] for m in catalogue[kind]]:
            raise SystemExit(f"graftbench: metrics.json and BENCHMARK.json list different {kind} metrics")
    wanted = bench["per_layer" if a.trace == "1" else "end_to_end"]
    classes, jars = build.build(root)
    base = os.path.join(root, build.BUILD_DIR)
    out = os.path.join(base, "results", f"{a.workload}-s{a.seed}-t{a.trace}")
    work = os.path.join(base, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    cmd = ["java", "-Xmx2g", "-Xss4m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(root, 'graftbench', 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--out", out, "--work", work,
            "--metrics", ",".join(f"{m['name']}={m['unit']}" for m in wanted)]
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"graftbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stderr.write(stdout)
        print(f"graftbench: run failed with exit code {proc.returncode}", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write(stdout)
        print("graftbench: the run printed no result line", file=sys.stderr)
        return 1
    print("\n".join(lines[:-1]))
    print(f"  # run wall (JVM included) {time.time() - t0:.1f} s; outputs in {out}")
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
