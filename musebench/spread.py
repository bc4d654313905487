"""Run workloads once per seed and print each metric's spread.

    python3 musebench/spread.py --workload search ingest --seeds 1 2 3 4 5 6 --sets 2 --seconds 10

For every workload and metric it prints the median over the runs and the
distance between the first and third quartile (``statistics.quantiles(n=4)``)
as a share of the median: the run-to-run spread the bounds in
BENCHMARK.json must cover. With ``--sets K`` the seeds are dealt in turn
into K sets whose runs interleave, so a slow phase of the host falls on
every set alike; it then also prints, per metric, how far the set
medians lie apart as a share of the smallest. Runs go one after another,
never in parallel, so they do not disturb each other. The last line of
output is the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / abs(med) if med else 0.0,
        "n": len(values),
    }


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, RUN, "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"seed {seed}: run.py exited with {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["latencies_s"] = json.loads(lines[-2])["record"]["latencies_s"]
    return res


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", nargs="+", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if len(args.seeds) < 2 * args.sets:
        p.error("need at least two seeds per set for quartiles")

    # values[workload][set][metric] -> one value per run
    values: dict = {w: [{} for _ in range(args.sets)] for w in args.workload}
    units: dict[str, str] = {}
    runs = []
    for k, seed in enumerate(args.seeds):
        for workload in args.workload:
            res = run_once(workload, seed, args.seconds, args.trace)
            runs.append({"workload": workload, "set": k % args.sets, "seed": seed,
                         "correct": res["correct"], "attempted": res["attempted"],
                         "failed": res["failed"], "latencies_s": res["latencies_s"]})
            for name, m in res["metrics"].items():
                values[workload][k % args.sets].setdefault(name, []).append(m["value"])
                units[name] = m["unit"]
            print(f"{workload} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} latencies_s={[round(x, 3) for x in res['latencies_s']]}",
                  flush=True)

    summary = {}
    print(f"{'workload':8s} {'metric':40s} {'median':>14s} {'iqr/median':>10s} {'set drift':>9s}  unit")
    for workload, sets in values.items():
        summary[workload] = {}
        for name in sets[0]:
            per_set = [dict(spread(s[name]), values=s[name]) for s in sets]
            medians = [abs(s["median"]) for s in per_set]
            drift = max(medians) / min(medians) - 1 if min(medians) else 0.0
            summary[workload][name] = {"unit": units[name], "sets": per_set, "set_drift": drift}
            iqr = " ".join(f"{s['iqr_share']:.4f}" for s in per_set)
            med = " ".join(f"{s['median']:.6g}" for s in per_set)
            print(f"{workload:8s} {name:40s} {med:>14s} {iqr:>10s} {drift:9.4f}  {units[name]}")
    print(json.dumps({"seconds": args.seconds, "trace": args.trace, "sets": args.sets,
                      "runs": runs, "metrics": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
