#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload, print its metrics.

    python3 perfbench/run.py --workload bootcamp|curation|stream \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --check-drain
    python3 perfbench/run.py --dump-oracle   # rewrites perfbench/oracle.json

Run from the repository root. The first call compiles the engine
sources (src/main/scala) together with the benchmark (perfbench/src)
with sbt, offline, into .bench_build/; later calls reuse the build
until a source file changes. Everything a run writes stays under
.bench_build/perfbench: the JVM's log, the detail file of each run
(results/) and the spans of traced runs (spans/).

The last line of stdout is one JSON object: correct, attempted, failed
and metrics, the metrics being BENCHMARK.json's end_to_end list
(--trace 0) or its per_layer list (--trace 1). The exit code is 0 only
when that line was printed.
"""
import argparse
import hashlib
import json
import math
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = ROOT / ".bench_build" / "perfbench-target" / "scala-2.13" / "classes"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# JDK 17 module opens Spark needs outside spark-submit (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        fail("no Spark installation: set SPARK_HOME")
    return home


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not (engine / "graft").is_dir():
        fail(f"no engine sources under {engine}: run from a full checkout")
    files = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def build():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = OUT / "build.stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and CLASSES.is_dir():
        return
    OUT.mkdir(parents=True, exist_ok=True)
    sbt_opts = ["-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
                "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline",
               SBT_OPTS=" ".join(sbt_opts))
    with open(OUT / "build.log", "w") as log:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed, see {OUT / 'build.log'}")
    stamp.write_text(h.hexdigest())


def java(args, log_name):
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    (OUT / "logs").mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # a fixed heap size, so G1 does not resize it between passes
        "-Xms4g", "-Xmx4g", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={OUT / 'tmp'}",
        f"-Dspark.local.dir={OUT / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={OUT / 'warehouse'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main",
        "--data", str(HERE / "data"), "--expected", str(HERE / "expected.json"),
        "--out", str(OUT)] + args
    with open(OUT / "logs" / f"{log_name}.log", "w") as err:
        p = subprocess.Popen(cmd, cwd=OUT, stdout=subprocess.PIPE,
                             stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run timed out after {RUN_TIMEOUT_S} s")
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if p.returncode != 0 or not lines:
        fail(f"JVM exited {p.returncode}, see {OUT / 'logs' / (log_name + '.log')}")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["bootcamp", "curation", "stream"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--check-drain", action="store_true")
    ap.add_argument("--dump-oracle", action="store_true")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    build()
    if a.check_drain:
        print(java(["--check-drain"], "check-drain"))
        return
    if a.dump_oracle:
        java(["--dump-oracle", str(HERE / "oracle.json")], "dump-oracle")
        return
    if not a.workload:
        fail("--workload is required")
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    res = json.loads(java(["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace)],
                          run_id))
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = res["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            fail(f"{run_id}: metric {m['name']} missing or not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"[perfbench] {run_id} {m['name']} = {v} {m['unit']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
