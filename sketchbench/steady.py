"""Steadiness tool: repeat sketchbench runs and compare sets of runs.

    python3 sketchbench/steady.py run --workloads build,query,curate \
        --seeds 1-10 --out first.json
    python3 sketchbench/steady.py compare first.json second.json

`run` runs each workload once per seed (untraced, run_seconds from
BENCHMARK.json), saves every result, and prints
each end-to-end metric's median, quartiles and spread. The spread is
(q3 - q1) / median with the quartiles of statistics.quantiles(n=4); it is
marked against the metric's bound and against a third of it.

`compare` reads two saved sets and, per workload and metric, reports how
much worse the second median is than the first, as a share of the first,
against the bound. It exits non-zero when a spread exceeds its bound or a
median worsens by more than its bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    done = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    lines = done.stdout.splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(done.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: no result (exit {done.returncode})")
    return {"seed": seed, "exit": done.returncode, "correct": result["correct"],
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def summarize(runs_by_workload, metrics):
    bad = []
    for workload, runs in runs_by_workload.items():
        print(f"\n{workload}: {len(runs)} runs, "
              f"{sum(not r['correct'] for r in runs)} incorrect")
        print(f"  {'metric':<14} {'median':>14} {'q1':>14} {'q3':>14} "
              f"{'spread':>8} {'bound':>6}")
        for m in metrics:
            vals = [r["metrics"][m["name"]] for r in runs]
            med, q1, q3, sp = spread(vals)
            mark = "ok" if sp < m["bound"] / 3 else ("within" if sp <= m["bound"] else "WIDE")
            if sp > m["bound"]:
                bad.append(f"{workload} {m['name']} spread {sp:.3f} > {m['bound']}")
            print(f"  {m['name']:<14} {med:>14.6g} {q1:>14.6g} {q3:>14.6g} "
                  f"{sp:>8.3f} {m['bound']:>6} {mark}")
        bad += [f"{workload} seed {r['seed']}: incorrect" for r in runs if not r["correct"]]
    return bad


def cmd_run(a):
    b = benchmark()
    seconds = b["run_seconds"]
    workloads = a.workloads.split(",")
    out = {w: [] for w in workloads}
    # seed-major order: a slow spell of the machine lands on every
    # workload alike instead of on consecutive runs of one
    for s in seeds(a.seeds):
        for w in workloads:
            r = run_once(w, s, seconds)
            out[w].append(r)
            print(f"{w} seed {s}: correct={r['correct']} "
                  + " ".join(f"{k}={v:.6g}" for k, v in r["metrics"].items()),
                  flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1)
    bad = summarize(out, b["end_to_end"])
    for line in bad:
        print("FAIL", line)
    return 1 if bad else 0


def cmd_compare(a):
    b = benchmark()
    with open(a.first) as f:
        first = json.load(f)
    with open(a.second) as f:
        second = json.load(f)
    bad = summarize(first, b["end_to_end"]) + summarize(second, b["end_to_end"])
    print(f"\n{'workload':<8} {'metric':<14} {'first':>14} {'second':>14} "
          f"{'worse_by':>9} {'bound':>6}")
    for w in sorted(set(first) & set(second)):
        for m in b["end_to_end"]:
            m1 = statistics.median(r["metrics"][m["name"]] for r in first[w])
            m2 = statistics.median(r["metrics"][m["name"]] for r in second[w])
            worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            verdict = "ok" if worse <= m["bound"] else "WORSE"
            if worse > m["bound"]:
                bad.append(f"{w} {m['name']} second median worse by {worse:.3f}")
            print(f"{w:<8} {m['name']:<14} {m1:>14.6g} {m2:>14.6g} "
                  f"{worse:>9.3f} {m['bound']:>6} {verdict}")
    for line in bad:
        print("FAIL", line)
    return 1 if bad else 0


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workloads", default="build,query,curate")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = p.parse_args()
    sys.exit(cmd_run(a) if a.cmd == "run" else cmd_compare(a))


if __name__ == "__main__":
    main()
