#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source,
runs one workload in a fresh JVM, and prints one JSON result line.

    python3 perfbench/run.py --workload tail_cow --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest      # the correctness gate must reject corrupted tables

Run from the root of a checkout. Everything the run writes stays under
`.bench_build/` (compiled classes) and `.bench_run/` (per-run work
directories, deleted when the run ends). The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json, with `--trace 1`
its per-layer metrics. The exit code is non-zero when the run fails or a
correctness gate does not hold.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import uuid

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def run_jvm(classes, work, jvm_args):
    env = dict(os.environ)
    env["GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    env.pop("GRAFT_MASTER", None)
    env.pop("GRAFT_EXTRA_CONF", None)
    # no hsperfdata file: the JVM would write it outside the checkout.
    # C1 only: on 4 shared cores, C2's compile work slows the first five or
    # so tailer batches of a fresh JVM by up to a third, and a run is too
    # short to leave that behind it
    cmd = (["java", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}",
              "perfbench.Main", "--work", work] + jvm_args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM's stderr (its log and phase stamps) goes straight to ours;
    # the result is read from its stdout
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    try:
        out = proc.stdout.read()
        _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    # ru_maxrss is in KiB on Linux
    return proc.returncode, out.splitlines(), usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    bench = spec()
    if not a.selftest:
        names = [w["name"] for w in bench["workloads"]]
        if a.workload not in names:
            fail(f"--workload must be one of {names}")
        if a.seed is None or a.seconds is None or a.seconds < 1:
            fail("--seed and --seconds (>= 1) are required")
    classes = build.build()

    work = os.path.join(ROOT, ".bench_run", uuid.uuid4().hex[:12])
    os.makedirs(work)
    jvm_args = (["--selftest"] if a.selftest else
                ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)])
    try:
        code, lines, rss_mb = run_jvm(classes, work, jvm_args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass

    results = [ln for ln in lines if ln.startswith("{\"correct\"")]
    records = [ln for ln in lines if ln.startswith("{\"record\"")]
    if not results:
        fail(f"the benchmark JVM exited with {code} and printed no result")
    res = json.loads(results[-1])
    if records:
        rec = json.loads(records[-1])["record"]
        rec["peak_rss_mb"] = rss_mb
        print(json.dumps({"record": rec}, sort_keys=True))
    if a.selftest:
        print(json.dumps(res))
        sys.exit(0 if code == 0 and res["correct"] else 1)

    declared = bench["per_layer"] if a.trace else bench["end_to_end"]
    measured = dict(res["metrics"])
    if not a.trace:
        measured["peak_rss_mb"] = rss_mb
    metrics = {}
    for m in declared:
        v = measured.get(m["name"])
        if not isinstance(v, (int, float)):
            res["correct"] = False
            print(f"perfbench: metric {m['name']} was not measured", file=sys.stderr)
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    out = {"correct": bool(res["correct"]) and code == 0, "attempted": int(res["attempted"]),
           "failed": int(res["failed"]), "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
