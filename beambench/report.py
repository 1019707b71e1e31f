#!/usr/bin/env python3
"""The benchmark in one command.

  python3 beambench/report.py [--runs 10] [--workloads beam-pipelines,registry-mix]
                              [--out beambench/report.json]

Writes BENCHMARK.json from spec.py, runs the self-test, then for every
workload `--runs` untraced runs (seeds 1..runs) and one traced run. Prints
every end-to-end metric by name and unit as median and quartile spread, the
tracing overhead, and the per-run host diagnostics (CPU steal, load average),
and writes them all to `--out`; an existing report keeps the workloads this
call does not run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import spec  # noqa: E402


def run(args):
    """One run.py invocation: (result JSON, run record) or raises."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"run.py {' '.join(args)} exited {p.returncode}")
    record = next((json.loads(x[len("record "):]) for x in lines
                   if x.startswith("record ")), {})
    return json.loads(lines[-1]), record


def spread(values):
    """Quartile distance over the median (statistics.quantiles, n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec.WORKLOADS))
    ap.add_argument("--out", default=os.path.join(HERE, "report.json"))
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
        json.dump(spec.benchmark_json(), f, indent=2)
        f.write("\n")
    st = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--self-test"],
                        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    self_test = json.loads(st.stdout.strip().splitlines()[-1])
    print(f"self-test: {'pass' if self_test['pass'] else 'FAIL'} {self_test}")

    # a report for some workloads updates an existing one in place
    try:
        with open(a.out) as f:
            report = json.load(f)
    except (OSError, ValueError):
        report = {"workloads": {}}
    report.update(self_test=self_test, run_seconds=spec.RUN_SECONDS)
    for w in a.workloads.split(","):
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            res, rec = run(["--workload", w, "--seed", str(seed), "--seconds",
                            str(spec.RUN_SECONDS), "--trace", "0"])
            runs.append({"seed": seed, "result": res, "record": rec})
            print(f"{w} seed {seed}: correct={res['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                flush=True)
        summary = {}
        for m in spec.END_TO_END:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            summary[m["name"]] = {
                "unit": m["unit"], "median": statistics.median(vals),
                "spread": spread(vals) if len(vals) > 1 else None,
                "bound": m["bound"], "values": vals}
        traced, trec = run(["--workload", w, "--seed", str(a.first_seed),
                            "--seconds", str(spec.RUN_SECONDS), "--trace", "1"])
        untraced = summary["rows_per_s"]["median"]
        traced_rate = traced["metrics"]["trace.rows_per_s"]["value"]
        report["workloads"][w] = {
            "end_to_end": summary,
            "correct_runs": sum(r["result"]["correct"] for r in runs),
            "ops_failed": sum(r["result"]["failed"] for r in runs),
            "tracing_overhead": 1 - traced_rate / untraced,
            "traced": {"correct": traced["correct"],
                       "layers": {k: v["value"] for k, v in traced["metrics"].items()},
                       "record": trec},
            "runs": [{"seed": r["seed"], "steal_pct": r["record"].get("steal_pct"),
                      "loadavg": r["record"].get("loadavg"),
                      "commit": r["record"].get("commit"),
                      "source_hash": r["record"].get("source_hash"),
                      "correct": r["result"]["correct"],
                      "failed": r["result"]["failed"],
                      "failures": r["record"].get("failures")} for r in runs],
        }
        print(f"\n== {w}: {report['workloads'][w]['correct_runs']}/{len(runs)} "
              f"runs correct, tracing overhead "
              f"{100 * report['workloads'][w]['tracing_overhead']:.1f}% of rows_per_s")
        for name, s in summary.items():
            sp = "n/a" if s["spread"] is None else f"{100 * s['spread']:.1f}%"
            print(f"  {name:16s} {s['median']:14.4f} {s['unit']:6s} spread {sp:>6s} "
                  f"(bound {100 * s['bound']:.0f}%)")
        print(flush=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
