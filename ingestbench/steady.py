"""Steadiness and held-out-seed check of the ingestion benchmark.

    python3 ingestbench/steady.py --runs 10                      # every workload
    python3 ingestbench/steady.py --workloads merge_cdc --runs 5 --heldout 0

Run from the root of a graft checkout. For each workload it runs
``run.py`` --runs times, each with another seed, and reports every
end-to-end metric of BENCHMARK.json: its median, quartiles
(``statistics.quantiles(values, n=4)``) and spread, the interquartile
distance as a share of the median, next to the metric's bound. With
--heldout N it repeats the runs on N fresh seeds and reports how far the
second median moved in the worse direction, also against the bound, to
show the bounds do not depend on the seeds.

A spread is "steady" below a third of its bound and "ok" within it
(setup_s is exempt from the spread rule). The summary is written as JSON
to .bench_build/steady/. Exits 1 if a run failed or a figure broke its
bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    r = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = r.stdout.splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    ok = r.returncode == 0 and result is not None and result.get("correct") is True
    if not ok:
        sys.stderr.write(r.stderr[-3000:])
    return ok, result, wall


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "values": values}


def collect(workload, seeds, seconds, metrics):
    vals = {m["name"]: [] for m in metrics}
    failed, walls = 0, []
    for s in seeds:
        ok, result, wall = run_once(workload, s, seconds)
        walls.append(wall)
        print(f"  {workload} seed {s}: {'ok' if ok else 'FAILED'} in {wall:.1f} s",
              flush=True)
        if not ok:
            failed += 1
            continue
        for m in metrics:
            vals[m["name"]].append(result["metrics"][m["name"]]["value"])
    return vals, failed, walls


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="", help="comma-separated; default all")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--heldout", type=int, default=10,
                    help="runs on fresh seeds for the held-out comparison; 0 skips")
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    metrics = spec["end_to_end"]
    names = [w["name"] for w in spec["workloads"]]
    workloads = [w for w in a.workloads.split(",") if w] or names
    seconds = spec["run_seconds"]

    report, broken = {}, False
    for w in workloads:
        seeds = list(range(a.seed0, a.seed0 + a.runs))
        vals, failed, walls = collect(w, seeds, seconds, metrics)
        held = None
        if a.heldout:
            hseeds = list(range(a.seed0 + 1000, a.seed0 + 1000 + a.heldout))
            held, hfailed, hwalls = collect(w, hseeds, seconds, metrics)
            failed += hfailed
            walls += hwalls
        broken |= failed > 0
        report[w] = {"failed_runs": failed, "run_wall_s": walls, "metrics": {}}
        print(f"\n{w}: {len(walls)} runs, mean wall {statistics.mean(walls):.1f} s, "
              f"{failed} failed")
        print(f"  {'metric':22} {'median':>12} {'spread':>8} {'bound':>6}  verdict"
              + ("   held-out median  spread  worse-by" if held else ""))
        for m in metrics:
            name, bound = m["name"], m["bound"]
            if len(vals[name]) < 4:
                continue
            s = summarize(vals[name])
            if name == "setup_s":
                verdict = "exempt"
            else:
                verdict = ("steady" if s["spread"] < bound / 3 else
                           "ok" if s["spread"] <= bound else "TOO WIDE")
                broken |= s["spread"] > bound
            entry = {"unit": m["unit"], "bound": bound, **s, "verdict": verdict}
            line = (f"  {name:22} {s['median']:12.5g} {s['spread']:8.3f} {bound:6.2f}  "
                    f"{verdict:8}")
            if held and len(held[name]) >= 4:
                h = summarize(held[name])
                sign = 1 if m["better"] == "lower" else -1
                worse = sign * (h["median"] - s["median"]) / s["median"]
                entry["heldout"] = {**h, "worse_by": worse}
                broken |= worse > bound or (name != "setup_s" and h["spread"] > bound)
                line += f"  {h['median']:12.5g}  {h['spread']:6.3f}  {worse:+.3f}" + (
                    "  TOO FAR" if worse > bound else "")
            report[w]["metrics"][name] = entry
            print(line)

    out = os.path.join(".bench_build", "steady")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, time.strftime("steady-%Y%m%d-%H%M%S.json"))
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nsummary: {path}")
    return 1 if broken else 0


if __name__ == "__main__":
    sys.exit(main())
