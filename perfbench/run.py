"""Runs one benchmark workload and prints its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload flagship --seed 1 --seconds 12 --trace 0

Builds the engine and the harness (perfbench/build.py), generates the
seeded inputs into a cache under the build directory, runs the workload in
one JVM and prints, as the last stdout line, one JSON object with the keys
correct, attempted, failed and metrics (the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer ones with --trace 1). The
line before it describes the host. A traced run also writes its spans to
<build dir>/traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 175
# the first run in a checkout also compiles and renders the image universe
FIRST_RUN_TIMEOUT_S = 880
# hot-entity rows of the asof_skew input and of the traced runs' layer input
SKEW_HOT_ROWS = 12000
PROBE_HOT_ROWS = 8000
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="record the digests the checks compare to, instead of measuring")
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not a.record and a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    started = time.time()
    base = build.build_dir()
    fixtures = os.path.join(base, "fixtures")
    first = not os.path.isdir(fixtures)
    classes, jars, compiled = build.build()
    gen_s = 0.0

    def inputs(*args):
        """Makes a numeric input with inputs.py unless the cache has it."""
        nonlocal gen_s
        out_dir = os.path.join(fixtures, "-".join(map(str, args)))
        if not os.path.exists(os.path.join(out_dir, "_DONE")):
            t0 = time.time()
            shutil.rmtree(out_dir, ignore_errors=True)
            subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"), args[0], out_dir]
                           + [str(x) for x in args[1:]], check=True)
            gen_s += time.time() - t0
        return out_dir

    # the query suite's tables: a copy of the engine's sf0.01 test tables
    extra = ["--tables", os.path.join(HERE, "tables", "sf0.01")]
    if a.workload == "asof_skew":
        extra += ["--skew", inputs("skew", a.seed, SKEW_HOT_ROWS)]
    if a.trace:
        extra += ["--probe-skew", inputs("skew", a.seed, PROBE_HOT_ROWS)]
    work = os.path.join(base, f"work-{os.getpid()}")
    out = os.path.join(base, "traces")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write its perf counters to
    # the system temp directory, outside the checkout
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--fixtures", fixtures, "--work", work,
              "--expected", os.path.join(HERE, "expected"), "--out", out]
           + extra + (["--record"] if a.record else []))
    limit = FIRST_RUN_TIMEOUT_S if first or compiled else TIMEOUT_S
    budget = None if a.record else limit - (time.time() - started)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, cwd=work,
                            env=env)
    try:
        stdout, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"{a.workload}: timed out after {budget:.0f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    if a.record:
        print("\n".join(lines[-1:]))
        sys.exit(proc.returncode)
    res = [l for l in lines if l.startswith("RESULT ")]
    if proc.returncode != 0 or not res:
        sys.exit(f"{a.workload}: the harness exited with {proc.returncode} and no result")
    r = json.loads(res[-1][len("RESULT "):])
    missing = [m["name"] for m in wanted if r["metrics"].get(m["name"]) is None]
    if missing:
        sys.exit(f"{a.workload}: no value for {missing}")
    host = dict(r["host"], inputs_s=round(gen_s, 3), failures=r["failures"])
    print("HOST " + json.dumps(host))
    print(json.dumps({
        "correct": r["failed"] == 0 and r["attempted"] > 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {m["name"]: {"value": r["metrics"][m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
