"""Steadiness of the benchmark: two sets of ten runs of one workload on the
same code, each run with its own seed, compared the way the bounds in
BENCHMARK.json are meant to be read.

    python3 perfbench/steady.py --workload rag_lifecycle

For every end-to-end metric it prints each set's median and quartiles
(`statistics.quantiles(values, n=4)`), the spread (q3 - q1) / median, and
whether the sets agree: each set's spread within the bound, and the two
medians apart by at most the bound (|m2 - m1| / m1), in either direction.
setup_s is held to the agreement of the medians only. It is one JVM launch
per run, a cost paid once per process that cannot be repeated within a run
and medianed there, and on a shared host its run-to-run spread follows the
host's steal time (stream_scoreboard's spread 7 % in one set and 24 % in
the next while steal rose).
It also compares the share of failed operations. Set 1 uses seeds 1..10,
set 2 seeds 101..110. Exit code 0 iff everything agrees.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS, RUNS = 2, 10


def one_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit("steady: run with seed %d failed" % seed)
    return json.loads(p.stdout.strip().splitlines()[-1])


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sets = []
    for s in range(SETS):
        runs = []
        for i in range(RUNS):
            r = one_run(a.workload, 100 * s + i + 1, spec["run_seconds"])
            runs.append(r)
            sys.stderr.write("set %d run %d: %s\n" % (s + 1, i + 1, json.dumps(r)))
        sets.append(runs)
    ok = True
    print("%-14s %5s %12s %12s %12s %8s %6s" % ("metric", "set", "median", "q1", "q3",
                                                "spread", "bound"))
    for m in spec["end_to_end"]:
        n, bound = m["name"], m["bound"]
        sums = [summary([r["metrics"][n]["value"] for r in runs]) for runs in sets]
        for i, s in enumerate(sums):
            print("%-14s %5d %12.4f %12.4f %12.4f %8.4f %6.2f" % (
                n, i + 1, s["median"], s["q1"], s["q3"], s["spread"], bound))
            if n != "setup_s" and s["spread"] > bound:
                ok = False
                print("  spread of %s exceeds its bound" % n)
        m1, m2 = sums[0]["median"], sums[1]["median"]
        agree = abs(m2 - m1) / m1 <= bound
        ok &= agree
        print("  %s: second median %+.2f%% vs the first (bound %.0f%%): %s" % (
            n, 100 * (m2 - m1) / m1, 100 * bound, "agree" if agree else "DISAGREE"))
    shares = [sorted({r["failed"] / r["attempted"] for r in runs}) for runs in sets]
    print("failed share per set: %s" % shares)
    if any(len(s) != 1 for s in shares) or len({s[0] for s in shares}) != 1:
        ok = False
        print("  the share of failed operations differs between runs")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
