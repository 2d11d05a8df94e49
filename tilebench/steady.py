"""Steadiness check: two sets of runs of one tree, compared per workload
and end-to-end metric against the bounds BENCHMARK.json fixes.

    python3 tilebench/steady.py --runs 10 [--workload image_tiles ...]

Run from the checkout root. It makes two sets of runs; set i uses seeds
i*1000+1 .. i*1000+runs. For each workload x metric it prints both
medians, both quartile spreads (Q3 - Q1 over the median, Python's
statistics.quantiles n=4) and whether they agree: every spread but
setup_s's within the bound, the two medians apart by at most the bound
(as a share of the first, in either direction), and the same share of
failed operations in both sets. Exits 1 if anything disagrees.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    args = [*cmd, "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"run failed: {' '.join(args)} (exit {proc.returncode})")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    # run.py's diagnostics line: "tilebench: <workload> seed <n>: {...}"
    tag = f"tilebench: {workload} seed {seed}: "
    result["setup"] = next(json.loads(ln[len(tag):]) for ln in proc.stderr.splitlines()
                           if ln.startswith(tag))
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    results: dict[str, list[list[dict]]] = {}
    for w in workloads:
        results[w] = []
        for s in range(2):
            runs = []
            for r in range(args.runs):
                seed = (s + 1) * 1000 + r + 1
                runs.append(run_once(bench["command"], w, seed, bench["run_seconds"]))
                diag = runs[-1]["setup"]
                print(f"{w} set {s + 1} seed {seed}: "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in runs[-1]["metrics"].items())
                      + " passes=" + ",".join(f"{p:.2f}" for p in diag["pass_walls"])
                      + f" host_steal_s={diag['host_steal_s']:.1f}",
                      file=sys.stderr, flush=True)
            results[w].append(runs)
    ok = True
    print(f"{'workload':14s} {'metric':24s} {'median1':>11s} {'median2':>11s} "
          f"{'spread1':>8s} {'spread2':>8s} {'bound':>6s}  verdict")
    for w, sets in results.items():
        shares = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs)
                  for runs in sets]
        if not all(r["correct"] for runs in sets for r in runs):
            ok = False
            print(f"{w}: a run reported correct=false")
        if len(set(shares)) > 1:
            ok = False
            print(f"{w}: failed shares differ: {shares}")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            vals = [[r["metrics"][name]["value"] for r in runs] for runs in sets]
            meds = [statistics.median(v) for v in vals]
            sps = [spread(v) for v in vals]
            good = (name == "setup_s" or all(sp <= bound for sp in sps)) and (
                abs(meds[1] - meds[0]) / meds[0] <= bound
            )
            ok = ok and good
            print(f"{w:14s} {name:24s} {meds[0]:11.4g} {meds[1]:11.4g} {sps[0]:8.3f} "
                  f"{sps[1]:8.3f} {bound:6.2f}  {'ok' if good else 'DISAGREE'}")
        print(f"{w:14s} failed share {shares}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
