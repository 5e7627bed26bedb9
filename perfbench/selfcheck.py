#!/usr/bin/env python3
"""Steadiness self-check: run each workload several times, one seed per
run, and print every end-to-end metric's spread against its bound in
BENCHMARK.json.

    python3 perfbench/selfcheck.py                       # 10 runs per workload
    python3 perfbench/selfcheck.py --runs 5 --workloads trickle

Spread is (Q3 - Q1) / median of the runs' values, with quartiles from
statistics.quantiles(values, n=4). Every metric, setup_s included, fails
when its spread reaches its bound; a spread over a third of the bound is
flagged as a warning. Exits 1 if a run fails, a check fails, the share of
failed operations differs between runs, or a spread reaches its bound.
"""
import argparse
import fractions
import json
import os
import re
import statistics
import subprocess
import sys

# an end-to-end figure on a report line: two spaces, name, value, unit
REPORT_LINE = re.compile(r"^  ([a-z0-9_]+) +(-?[0-9.]+) \S+$")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args()

    spec = json.load(open("BENCHMARK.json"))
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    bad = False
    for w in workloads:
        values = {}
        printed = {}
        shares = set()
        for k in range(args.runs):
            seed = args.first_seed + k
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
            last = r.stdout.decode().strip().splitlines()[-1:] or [""]
            try:
                res = json.loads(last[0])
            except ValueError:
                print("%s seed %d: no result (exit %d)\n%s" % (w, seed, r.returncode,
                                                              r.stderr.decode()[-2000:]))
                bad = True
                continue
            if not res["correct"]:
                bad = True
                print("%s seed %d: output check failed\n%s" % (w, seed, r.stderr.decode()[-2000:]))
            shares.add(fractions.Fraction(res["failed"], res["attempted"]))
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            for line in r.stdout.decode().splitlines():
                rep = REPORT_LINE.match(line)
                if rep and rep.group(1) not in res["metrics"]:
                    printed.setdefault(rep.group(1), []).append(float(rep.group(2)))
            print("%s seed %d: %s" % (w, seed, " ".join(
                "%s=%.4g" % (n, m["value"]) for n, m in res["metrics"].items())), flush=True)
        print("%s: failed share %s" % (w, " ".join(str(x) for x in sorted(shares))))
        if len(shares) > 1:
            bad = True
        for m in spec["end_to_end"]:
            vs = values.get(m["name"], [])
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            verdict = "ok" if spread < m["bound"] / 3 else (
                "over a third of bound" if spread < m["bound"] else "OVER BOUND")
            if spread >= m["bound"]:
                bad = True
            print("  %-18s median %12.4f %-5s spread %6.3f bound %.2f  %s" % (
                m["name"], med, m["unit"], spread, m["bound"], verdict))
        for name, vs in printed.items():
            if len(vs) >= 2:
                q1, med, q3 = statistics.quantiles(vs, n=4)
                print("  %-18s median %12.4f       spread %6.3f (printed, not gated)" % (
                    name, med, (q3 - q1) / med))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
