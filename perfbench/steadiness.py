#!/usr/bin/env python3
"""Steadiness of the benchmark on one commit: two sets of runs, each run
with another seed. For every end-to-end metric it prints each set's
median, quartiles and spread (quartile distance / median) and how much
worse the second median is than the first; the same for the figures
printed beside the metrics (wall-clock figures, the unscaled CPU cost) and
the calibration kernel's time, which have no bound.

    python3 perfbench/steadiness.py [--runs 10] [--seed0 100] [--workloads a,b]

Run from the root of a checkout. Each workload ends with a verdict: it is
steady when every spread (setup_s excepted) is within its metric's bound,
no second median is worse than the first by more than the bound, and the
share of failed operations is the same in both sets.
"""
import argparse
import json
import statistics
import subprocess
import sys

SETS = 2


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    if p.returncode:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    side = {ln.split(" ", 1)[0]: json.loads(ln.split(" ", 1)[1])
            for ln in lines[:-1] if ln.startswith(("beside ", "noise "))}
    side["beside"]["calibration_ms"] = side["noise"]["calibration_ms"]
    return json.loads(lines[-1]), side


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--workloads")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    names = (a.workloads.split(",") if a.workloads
             else [w["name"] for w in spec["workloads"]])
    for w in names:
        sets = []
        for s in range(SETS):
            runs = []
            for i in range(a.runs):
                seed = a.seed0 + s * a.runs + i
                res, side = run(w, seed, spec["run_seconds"])
                runs.append((res, side))
                print(f"{w} set {s + 1} seed {seed}: correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} "
                      + " ".join(f"{k}={v['value']:.4g}"
                                 for k, v in res["metrics"].items())
                      + "".join(f" {k}={v:.4g}" for k, v in
                                side["beside"].items())
                      + f" steal={side['noise']['steal_share']:.3f}",
                      flush=True)
            sets.append(runs)
        beside = [{"name": k, "bound": None,
                   "better": "higher" if k.endswith("_per_s") else "lower"}
                  for k in sets[0][0][1]["beside"]]
        steady = True
        for m in spec["end_to_end"] + beside:
            st = []
            for runs in sets:
                xs = [r["metrics"][m["name"]]["value"] if m["bound"]
                      else side["beside"][m["name"]] for r, side in runs]
                q1, q2, q3 = statistics.quantiles(xs, n=4)
                st.append({"median": q2, "q1": q1, "q3": q3,
                           "spread": (q3 - q1) / q2})
            worse = ((st[1]["median"] - st[0]["median"]) / st[0]["median"]
                     * (1 if m["better"] == "lower" else -1))
            if m["bound"]:
                steady &= worse <= m["bound"] and (
                    m["name"] == "setup_s"
                    or all(x["spread"] <= m["bound"] for x in st))
            print(f"{w} {m['name']:<24} " + "  ".join(
                f"med={x['median']:.4g} q1={x['q1']:.4g} q3={x['q3']:.4g} "
                f"spread={x['spread']:.3f}" for x in st)
                + f"  second worse by {worse:+.3f} (bound {m['bound']})"
                + ("" if m["bound"] else "  [beside the metrics]"),
                flush=True)
        shares = [(sum(r["failed"] for r, _ in runs),
                   sum(r["attempted"] for r, _ in runs)) for runs in sets]
        same_share = shares[0][0] * shares[1][1] == shares[1][0] * shares[0][1]
        correct = all(r["correct"] for runs in sets for r, _ in runs)
        print(f"{w} failed/attempted per set: {shares}; all correct: "
              f"{correct}; verdict: "
              + ("steady" if steady and same_share and correct
                 else "NOT steady"), flush=True)


if __name__ == "__main__":
    main()
