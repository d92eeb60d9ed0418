"""Steadiness check: two alternating sets of benchmark runs.

Usage (from the repository root):
    python3 replaybench/steady.py --runs 10                 # both sets, all workloads
    python3 replaybench/steady.py --runs 5 --workloads tail_mor
    python3 replaybench/steady.py --report .bench_work/steady-XXXX.json   # reprint

Set A uses seeds ``seed_a .. seed_a+runs-1`` and set B ``seed_b ..``; the
runs alternate A/B (which set goes first flips every pair), so host drift
lands on both sets alike. For every workload and end-to-end metric it
prints each set's median and quartiles, the spread (interquartile distance
over the median) and whether the sets agree within the metric's bound in
BENCHMARK.json: both spreads within the bound and set B's median no worse
than set A's by more than the bound. Every run is passed ``--seconds``
equal to ``run_seconds`` in BENCHMARK.json, the length of record. It also
prints the share of failed operations per set and each run's host-speed
probe, a diagnostic that separates host drift from a change.
Every run's result and diagnostics are saved as JSON for ``--report``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    diag = next((json.loads(ln.split(" ", 1)[1]) for ln in lines
                 if ln.startswith("replaybench-diag ")), None)
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "rc": proc.returncode,
            "wall_s": time.perf_counter() - t, "result": result, "diag": diag,
            "stderr_tail": proc.stderr[-2000:] if proc.returncode else ""}


def report(runs: list[dict], bench: dict) -> bool:
    ok_all = True
    for wl in sorted({r["workload"] for r in runs}):
        print(f"\n== {wl}")
        sets = {}
        for name in ("A", "B"):
            rs = [r for r in runs if r["workload"] == wl and r["set"] == name]
            good = [r for r in rs if r["result"]]
            sets[name] = good
            att = sum(r["result"]["attempted"] for r in good)
            fail = sum(r["result"]["failed"] for r in good)
            shares = sorted({(r["result"]["failed"], r["result"]["attempted"]) for r in good})
            probes = [round(p) for r in good for p in r["diag"]["probe_ms"]]
            print(f"set {name}: {len(good)}/{len(rs)} runs ok, "
                  f"correct={all(r['result']['correct'] for r in good)}, "
                  f"failed/attempted={fail}/{att} per-run={shares}, "
                  f"wall_s med={statistics.median([r['wall_s'] for r in rs]):.1f} "
                  f"max={max(r['wall_s'] for r in rs):.1f}, probe_ms={probes}")
            if len(good) < len(rs):
                ok_all = False
        shares = {(r["result"]["failed"], r["result"]["attempted"])
                  for r in sets["A"] + sets["B"]}
        if len(shares) > 1:
            ok_all = False
            print(f"failed share differs between runs: {sorted(shares)}")
        print(f"{'metric':14s} {'set':3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>7s} {'bound':>6s}  verdict")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            med = {}
            spreads = {}
            for s in ("A", "B"):
                xs = [r["result"]["metrics"][name]["value"] for r in sets[s]]
                if not xs:
                    continue
                q1, q2, q3 = quartiles(xs)
                med[s] = q2
                spreads[s] = (q3 - q1) / q2 if q2 else float("inf")
                print(f"{name:14s} {s:3s} {q2:12.4f} {q1:12.4f} {q3:12.4f} "
                      f"{spreads[s]:7.3f} {bound:6.2f}")
            if len(med) < 2:
                continue
            worse = (med["B"] - med["A"]) / med["A"]
            if m["better"] == "higher":
                worse = -worse
            ok = all(v <= bound for v in spreads.values()) and worse <= bound
            ok_all &= ok
            third = all(v <= bound / 3 for v in spreads.values())
            print(f"{'':14s} B vs A worse by {worse:+.3f}: "
                  f"{'AGREE' if ok else 'DISAGREE'}"
                  f"{'; spreads < bound/3' if third else '; spread >= bound/3'}")
    return ok_all


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed-a", type=int, default=1)
    ap.add_argument("--seed-b", type=int, default=101)
    ap.add_argument("--out", default=None)
    ap.add_argument("--report", default=None, help="reprint a saved result file")
    args = ap.parse_args(argv)

    if args.report:
        with open(args.report) as f:
            runs = json.load(f)["runs"]
        return 0 if report(runs, bench) else 1

    out = args.out or os.path.join(ROOT, ".bench_work", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    runs: list[dict] = []
    for i in range(args.runs):
        for wl in args.workloads:
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            for s in order:
                seed = (args.seed_a if s == "A" else args.seed_b) + i
                r = one_run(wl, seed, bench["run_seconds"])
                r["set"] = s
                runs.append(r)
                res = r["result"]
                print(f"[{time.strftime('%H:%M:%S')}] {wl} set {s} seed {seed}: rc={r['rc']} "
                      f"wall={r['wall_s']:.1f}s "
                      + (json.dumps({k: round(v["value"], 4) for k, v in res["metrics"].items()})
                         if res else r["stderr_tail"][-400:]), flush=True)
                with open(out, "w") as f:
                    json.dump({"seconds": bench["run_seconds"], "runs": runs}, f)
    print(f"saved {out}")
    return 0 if report(runs, bench) else 1


if __name__ == "__main__":
    sys.exit(main())
