"""Steadiness check: repeat one workload on fresh seeds and report spread.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--seed-base 50000]
                                [--traced 1]

Run from the repository root. Runs ``perfbench/run.py`` ``--runs`` times
untraced, with seeds ``seed-base``, ``seed-base + 1``, ... (the default
base was never used while the benchmark was written), and prints for each
end-to-end metric of ``BENCHMARK.json`` its median, first and third
quartile (``statistics.quantiles(values, n=4)``), the spread (Q3 - Q1) as
a share of the median, and the metric's bound. A spread must stay within
its bound (``setup_s`` excepted) and should stay below a third of it.
Then runs ``--traced`` traced runs and prints the median of every
per-layer metric, ``trace.overhead_share`` among them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit("run failed: workload %s seed %d trace %d (exit %d)"
                 % (workload, seed, trace, p.returncode))
    res = json.loads(p.stdout.strip().splitlines()[-1])
    print("  seed %d trace %d: %.0f s, correct=%s attempted=%d failed=%d"
          % (seed, trace, time.time() - t0, res["correct"], res["attempted"], res["failed"]),
          flush=True)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=50000)
    ap.add_argument("--traced", type=int, default=1)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]

    print("%s: %d untraced runs, seeds %d..%d, %d s each"
          % (args.workload, args.runs, args.seed_base, args.seed_base + args.runs - 1, seconds))
    results = [run(args.workload, args.seed_base + i, seconds, 0) for i in range(args.runs)]
    print("%-22s %-7s %12s %12s %12s %8s %6s" % ("metric", "unit", "median", "q1", "q3", "spread", "bound"))
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med
        flag = "" if spread < m["bound"] / 3 else (" (> bound/3)" if spread <= m["bound"] else " (> bound)")
        print("%-22s %-7s %12.4f %12.4f %12.4f %8.3f %6.2f%s"
              % (m["name"], m["unit"], med, q1, q3, spread, m["bound"], flag))
    print("correct in %d of %d runs" % (sum(r["correct"] for r in results), len(results)))

    if args.traced > 0:
        traced = [run(args.workload, args.seed_base + args.runs + i, seconds, 1)
                  for i in range(args.traced)]
        print("per-layer medians over %d traced run(s):" % len(traced))
        medians = {}
        for m in bench["per_layer"]:
            medians[m["name"]] = statistics.median(r["metrics"][m["name"]]["value"] for r in traced)
            print("  %-40s %14.4f %s" % (m["name"], medians[m["name"]], m["unit"]))

        def untraced(name):
            return statistics.median(r["metrics"][name]["value"] for r in results)
        # tracing overhead: untraced against traced windows, by medians
        print("trace.overhead_share (untraced / traced pkts_per_s - 1): %.4f"
              % (untraced("pkts_per_s") / medians["trace.pkts_per_s"] - 1))
        print("trace.cpu_overhead_share (traced / untraced cpu_s_per_kpkt - 1): %.4f"
              % (medians["trace.cpu_s_per_kpkt"] / untraced("cpu_s_per_kpkt") - 1))
        print("trace.latency_overhead_share (traced / untraced file_latency_p50_ms - 1): %.4f"
              % (medians["trace.file_latency_p50_ms"] / untraced("file_latency_p50_ms") - 1))


if __name__ == "__main__":
    if not os.path.isfile("BENCHMARK.json"):
        sys.exit("run from the repository root")
    main()
