#!/usr/bin/env python3
"""Cross-round per-query bench regression flagger.

Usage: tools/bench_diff.py <prior_bench.json> <current_bench.json>
                           [--flag 1.5] [--floor 0.15]

Both inputs are graft.Bench full-JSON lines (bench_perquery_rN.json /
bench_perquery_latest.json — the first line of SPARK_GRAFT_BENCH_OUT also
works). Compares per-query minima and prints:

Attribution note (r16): Bench per-query times are now OWN cost — the
interval-union of shared builds completing inside a query's window is
subtracted and attributed to the `shared_builds` tags instead, so the
query whose window the concurrent prewarm builds land in no longer
false-flags here when build cost moves between consumers. Rep totals
("runs"/"value") remain RAW (builds included). Comparing a pre-r16 (raw)
file against an r16+ (netted) file shows the old group-head queries
(e.g. cdc_sink_upsert, which once built all three standing pipelines) as
large improvements — expected, and never flagged.

  - REGRESSED: queries whose current min > flag x prior min (default 1.5x),
    with both times floored at `floor` seconds (default 0.15 s — below that
    per-query fixed overhead dominates and a 0.05->0.12 s "2.4x" is
    scheduling noise, not a regression);
  - shared-build tags with the same flag rule (first-touch cost moved);
  - NEW / REMOVED queries and shared-build tags (surface changes and
    renamed or split tags, informational);
  - `fixture:` tags (test-input synthesis, built once per JVM) apart from
    the graded builds, per tag prior -> current, never flagged: a fixture
    is not a graded operator, and what its one build costs depends on
    how the harness stages test input, not on the engine;
  - the total-time ratio.

Exit code 1 iff any query regressed past the flag on a comparable host
(probe-noise ratio <= 1.3); otherwise 0. Host comparability uses the min
"noise" probe of each run — if the current host was >1.3x noisier than the
prior run's, regressions are reported but the exit stays 0 (rerun on a
quiet host before acting).
"""
import json
import sys


def load(path):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            d = json.loads(line)
            if "queries" in d and d["queries"]:
                return d
    raise SystemExit(f"{path}: no bench line with a queries map")


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = dict(a.lstrip("-").split("=", 1) if "=" in a else (a.lstrip("-"), None)
                for a in sys.argv[1:] if a.startswith("--"))
    if "flag" in opts and opts["flag"] is None:
        # --flag 1.5 style (space-separated) — rebuild from positional tail
        raise SystemExit("use --flag=1.5 / --floor=0.15")
    flag = float(opts.get("flag") or 1.5)
    floor = float(opts.get("floor") or 0.15)
    prior, cur = load(args[0]), load(args[1])
    pq = {k: v for k, v in prior["queries"].items() if v is not None}
    cq = {k: v for k, v in cur["queries"].items() if v is not None}

    noise_ok = True
    if prior.get("noise") and cur.get("noise"):
        np, nc = min(prior["noise"]), min(cur["noise"])
        noise_ok = nc <= 1.3 * np
        print(f"host probes: prior min {np:.2f} s, current min {nc:.2f} s"
              + ("" if noise_ok else "  [current host NOISIER — advisory only]"))

    regressed = []
    for name in sorted(set(pq) & set(cq)):
        a, b = max(pq[name], floor), max(cq[name], floor)
        if b > flag * a:
            regressed.append((b / a, name, pq[name], cq[name]))
    regressed.sort(reverse=True)
    if regressed:
        print(f"\nREGRESSED (> {flag}x prior min, floor {floor}s):")
        for r, name, a, b in regressed:
            print(f"  {name:32s} {a:7.3f} -> {b:7.3f} s  ({r:.2f}x)")
    else:
        print(f"\nno per-query regression past {flag}x")

    sp = prior.get("shared_builds") or {}
    sc = cur.get("shared_builds") or {}
    # tags carry the sf-dir suffix; normalize so runs at the same SF compare
    sp = {k.split(":/")[0]: v for k, v in sp.items()}
    sc = {k.split(":/")[0]: v for k, v in sc.items()}
    fp = {k: sp.pop(k) for k in list(sp) if k.startswith("fixture:")}
    fc = {k: sc.pop(k) for k in list(sc) if k.startswith("fixture:")}
    # displayed ratio uses the SAME floored operands as the flag condition,
    # so sub-floor tags never print a ratio that disagrees with the rule
    breg = [(max(sc[t], floor) / max(sp[t], floor), t, sp[t], sc[t])
            for t in sorted(set(sp) & set(sc))
            if max(sc[t], floor) > flag * max(sp[t], floor)]
    if breg:
        print(f"\nshared-build tags past {flag}x:")
        for r, t, a, b in sorted(breg, reverse=True):
            print(f"  {t:32s} {a:7.3f} -> {b:7.3f} s  ({r:.2f}x)")

    for kind, p, c in (("", pq, cq), (" shared-build tags", sp, sc)):
        new = sorted(set(c) - set(p))
        gone = sorted(set(p) - set(c))
        if new:
            print(f"\nNEW{kind} ({len(new)}): " + ", ".join(
                f"{n}={c[n]:.2f}s" for n in new))
        if gone:
            print(f"REMOVED{kind} ({len(gone)}): " + ", ".join(gone))

    if fp or fc:
        print(f"\nfixture tags (test input, never flagged): "
              f"{sum(fp.values()):.1f} -> {sum(fc.values()):.1f} s "
              f"over {len(fp)} -> {len(fc)} tags")
        for t in sorted(set(fp) | set(fc)):
            a = f"{fp[t]:7.3f}" if t in fp else "      -"
            b = f"{fc[t]:7.3f}" if t in fc else "      -"
            print(f"  {t:32s} {a} -> {b} s")

    tp, tc = prior.get("value"), cur.get("value")
    if tp and tc:
        print(f"\ntotal: {tp:.1f} -> {tc:.1f} s ({tc / tp:.2f}x) over "
              f"{len(pq)} -> {len(cq)} queries")
    sys.exit(1 if (regressed and noise_ok) else 0)


if __name__ == "__main__":
    main()
