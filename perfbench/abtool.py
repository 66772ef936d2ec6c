#!/usr/bin/env python3
"""Steadiness and A/B tool for the benchmark.

Steadiness: run one workload on several seeds and report, per end-to-end
metric, the median, the quartiles and the quartile spread as a share of
the median, against the metric's bound in BENCHMARK.json.

    python3 perfbench/abtool.py steady --workload forward --runs 10

A/B: run a parent checkout and a change checkout in alternating pairs
(which side runs first alternates too) and judge each workload on its own:

- a gain needs the change to win at least nine tenths of the pairs (ties
  count for neither) and the medians to differ by more than the parent's
  own quartile spread;
- a regression is a change median worse than the parent's by more than
  the metric's bound; when the parent's spread is wider than the bound
  the metric is "unresolved", unless every change run beats every parent
  run;
- failed shares (failed / attempted) are compared; when the change fails
  more operations, no gain counts ("no claim") and the tool exits 1.

    python3 perfbench/abtool.py compare --base ../parent --change . \\
        --workload forward --workload batch_queries --pairs 10

Every run record (git SHA, nproc, local[N], heap, 1-minute load average
before and after, every op) is appended to --log as one JSON line.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spec(root):
    return json.loads((Path(root) / "BENCHMARK.json").read_text())


def run_once(root, workload, seed, seconds, log):
    """One benchmark run in checkout `root`; returns its run record."""
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True)
    lines = res.stdout.splitlines()
    rec = [l for l in lines if l.startswith("perfbench-record ")]
    if not rec:
        sys.stderr.write(res.stdout[-2000:] + res.stderr[-3000:])
        raise SystemExit(f"run failed in {root}: {workload} seed {seed}")
    record = json.loads(rec[-1][len("perfbench-record "):])
    record["checkout"] = str(root)
    with open(log, "a") as f:
        f.write(json.dumps(record) + "\n")
    r = record["result"]
    print(f"  {Path(root).name} {workload} seed={seed} correct={r['correct']} "
          f"failed={r['failed']}/{r['attempted']} load={record['load_avg_before']:.2f}"
          f"->{record['load_avg_after']:.2f} " +
          " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
          flush=True)
    return record


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def worse(metric, a, b):
    """How much worse b is than a, as a share of a (positive = worse)."""
    d = (b - a) / a if a else 0.0
    return d if metric["better"] == "lower" else -d


def steady(a):
    s = spec(ROOT)
    recs = [run_once(ROOT, a.workload, a.seed_start + i, s["run_seconds"], a.log)
            for i in range(a.runs)]
    print(f"\n{a.workload}: {a.runs} runs, seconds={s['run_seconds']}")
    ok = True
    for m in s["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in recs]
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else 0.0
        verdict = ("ok" if spread <= m["bound"] / 3 else
                   "within bound" if spread <= m["bound"] else "UNSTEADY")
        ok &= verdict != "UNSTEADY"
        print(f"  {m['name']:<14} median {med:.4g} {m['unit']}  q1 {q1:.4g}  q3 {q3:.4g}  "
              f"spread {spread:.3f} (bound {m['bound']})  {verdict}")
    fails = sum(r["result"]["failed"] for r in recs)
    tries = sum(r["result"]["attempted"] for r in recs)
    print(f"  failed share {fails}/{tries}; all correct: "
          f"{all(r['result']['correct'] for r in recs)}")
    return 0 if ok else 1


def compare(a):
    s = spec(a.base)
    base, change = Path(a.base).resolve(), Path(a.change).resolve()
    status = 0
    for w in a.workload:
        runs = {"base": [], "change": []}
        for i in range(a.pairs):
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            for side in order:
                root = base if side == "base" else change
                runs[side].append(run_once(root, w, a.seed_start + i,
                                           s["run_seconds"], a.log))
        print(f"\n== {w}: {a.pairs} pairs")
        fb = [sum(r["result"][k] for r in runs["base"]) for k in ("failed", "attempted")]
        fc = [sum(r["result"][k] for r in runs["change"]) for k in ("failed", "attempted")]
        fails_more = fc[0] * fb[1] > fb[0] * fc[1]
        for m in s["end_to_end"]:
            name = m["name"]
            b = [r["result"]["metrics"][name]["value"] for r in runs["base"]]
            c = [r["result"]["metrics"][name]["value"] for r in runs["change"]]
            bq1, bmed, bq3 = quartiles(b)
            cq1, cmed, cq3 = quartiles(c)
            wins = sum(worse(m, x, y) < 0 for x, y in zip(b, c))
            losses = sum(worse(m, x, y) > 0 for x, y in zip(b, c))
            spread = (bq3 - bq1) / bmed if bmed else 0.0
            delta = worse(m, bmed, cmed)
            all_better = all(worse(m, x, y) < 0 for x in b for y in c)
            if wins >= 0.9 * a.pairs and abs(cmed - bmed) > bq3 - bq1 and delta < 0:
                if fails_more:
                    verdict = "no claim (change fails more)"
                    status = 1
                else:
                    verdict = "gain" if a.pairs >= 10 else "better (under 10 pairs: no claim)"
            elif spread > m["bound"] and not all_better:
                verdict = "unresolved"
            elif delta > m["bound"]:
                verdict = "REGRESSION"
                status = 1
            else:
                verdict = "no regression"
            print(f"  {name:<14} parent {bmed:.4g} [{bq1:.4g}, {bq3:.4g}]  "
                  f"change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}] {m['unit']}  "
                  f"worse by {delta:+.3f} (bound {m['bound']})  "
                  f"wins {wins}/{a.pairs} losses {losses}  {verdict}")
        print(f"  failed share: parent {fb[0]}/{fb[1]}, change {fc[0]}/{fc[1]}"
              + ("  (change fails more: no gain counts)" if fails_more else ""))
        for side in ("base", "change"):
            if not all(r["result"]["correct"] for r in runs[side]):
                print(f"  {side}: output check FAILED")
                status = 1
    return status


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    st = sub.add_parser("steady")
    st.add_argument("--workload", required=True)
    st.add_argument("--runs", type=int, default=10)
    cp = sub.add_parser("compare")
    cp.add_argument("--base", required=True)
    cp.add_argument("--change", default=str(ROOT))
    cp.add_argument("--workload", action="append", required=True)
    cp.add_argument("--pairs", type=int, default=10)
    for p in (st, cp):
        p.add_argument("--seed-start", type=int, default=1)
        p.add_argument("--log", default=str(ROOT / ".bench_build" / "perfbench" / "abtool.jsonl"))
    a = ap.parse_args()
    Path(a.log).parent.mkdir(parents=True, exist_ok=True)
    sys.exit(steady(a) if a.cmd == "steady" else compare(a))


if __name__ == "__main__":
    main()
