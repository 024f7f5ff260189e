"""One benchmark run: build, generate the inputs from the seed, run one
workload in a fresh JVM, check its outputs, print one JSON line.

    python3 perfbench/run.py --workload stream_scoreboard --seed 1 \
        --seconds 15 --trace 0

The last line of standard output is
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}` with
every end-to-end metric of BENCHMARK.json (`--trace 0`) or every per-layer
metric (`--trace 1`). Run it from the root of a checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen    # noqa: E402

JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, workload, in_dir, work, seconds, trace):
    os.makedirs(os.path.join(work, "tmp"))
    jvm = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-Dspark.local.dir=" + os.path.join(work, "local"),
           "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    launch_ms = int(time.time() * 1000)
    cmd = jvm + ["-cp", classes + os.pathsep + build.spark_jars(), "perfbench.Main",
                 "--workload", workload, "--in", in_dir, "--work", work,
                 "--seconds", str(seconds), "--trace", str(trace),
                 "--cores", str(cores()), "--launch-ms", str(launch_ms)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        # never leave the JVM behind: timed out, interrupted or terminated
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit("perfbench: the %s run failed (%s)" % (workload, rc))
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    # a terminated run still reaps its JVM (the finally in run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep inputs, outputs and the JVM log in perfbench/.run")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build()

    base = os.path.join(HERE, ".run", a.workload)
    shutil.rmtree(base, ignore_errors=True)
    in_dir, work = os.path.join(base, "in"), os.path.join(base, "work")
    t0 = time.time()
    gen.GENERATORS[a.workload](a.seed, in_dir)
    t1 = time.time()
    res = run_jvm(classes, a.workload, in_dir, work, a.seconds, a.trace)
    t2 = time.time()
    verdict = check.CHECKERS[a.workload](in_dir, res)
    sys.stderr.write("perfbench: inputs %.1f s, jvm %.1f s, check %.1f s; %s\n" % (
        t1 - t0, t2 - t1, time.time() - t2, json.dumps(verdict["detail"])))

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics = {}
    for m in names:
        n = m["name"]
        if n not in got and a.trace:
            # a module this workload never calls did no work
            metrics[n] = {"value": 0.0, "unit": m["unit"]}
        elif n not in got:
            sys.exit("perfbench: the run did not measure %s" % n)
        elif got[n]["value"] is None:
            # NaN or infinite: the measurement itself broke
            sys.exit("perfbench: %s has no finite value" % n)
        else:
            metrics[n] = {"value": got[n]["value"], "unit": m["unit"]}
    if not a.keep:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"correct": verdict["correct"], "attempted": verdict["attempted"],
                      "failed": verdict["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
