#!/usr/bin/env python3
"""Alternating parent/change lakebench pairs, summarised per workload and metric.

    python3 tools/lakebench_ab.py --parent HEAD~1 --change HEAD \\
        --workloads cdc_uniform_cow cdc_recent_mor --pairs 10 --seed 601 --work /tmp/ab

Each side is the committed tree of a git revision, extracted with
`git archive` into `<work>/<side>`, so each builds into its own
`.bench_build`. To measure uncommitted work, stage it and pass
`--change $(git stash create)`. Every pair runs both sides on one seed
(`--seed` + pair index) and alternates which side runs first. Before the
pairs, one untimed run per side builds the benchmark and writes its
class-data sharing archive.

Per workload and metric it prints each side's median and quartiles, the
parent's IQR, the change in the median, the pairs the change won (ties
count for neither) and whether the gain rule holds: at least 9/10 of the
pairs won and the medians apart by more than the parent's IQR. The spread
column is each side's IQR over its median; a spread above the metric's
bound in BENCHMARK.json marks it unresolved. Raw results go to
`<work>/results.jsonl`, one line per run.
"""
import argparse
import json
import pathlib
import shutil
import statistics
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def extract(rev, dest):
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    stamp = dest / ".ab_rev"
    if stamp.exists() and stamp.read_text() == sha:
        return sha
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")
    stamp.write_text(sha)
    return sha


def run(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "lakebench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "metrics": {}}
    result["exit"] = p.returncode
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


HEADER = (f"{'metric':<20} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} "
          f"{'IQR(p)':>9} {'d_med':>7} {'wins':>6} {'spread p/c':>11}  verdict")


def compare(name, got, lower, bound):
    """One summary line for a metric's (parent, change) pairs."""
    pq, cq = quartiles([a for a, _ in got]), quartiles([b for _, b in got])
    iqr = pq[2] - pq[0]
    wins = sum((b < a) if lower else (b > a) for a, b in got)
    delta = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
    spread = [(q[2] - q[0]) / q[1] if q[1] else 0.0 for q in (pq, cq)]
    worse = delta if lower else -delta
    # every change run better than every parent run
    separated = (max(b for _, b in got) < min(a for a, _ in got)) if lower else \
        (min(b for _, b in got) > max(a for a, _ in got))
    if wins * 10 >= 9 * len(got) and worse < 0 and abs(cq[1] - pq[1]) > iqr:
        verdict = "gain"
    elif worse > bound:
        verdict = "REGRESSED"
    elif max(spread) > bound and not separated:
        verdict = "unresolved (spread)"
    else:
        verdict = "within bound"
    fmt = lambda q: f"{q[0]:.3f}/{q[1]:.3f}/{q[2]:.3f}"
    return (f"{name:<20} {fmt(pq):>26} {fmt(cq):>26} {iqr:>9.3f} {delta:>+7.1%} "
            f"{wins:>3}/{len(got):<2} {spread[0]:>5.2f}/{spread[1]:<5.2f}  {verdict}")


def summarise(workload, pairs, spec):
    print(f"\n== {workload}: {len(pairs)} pairs; runs correct: parent "
          f"{sum(p['correct'] for p, _ in pairs)}, change {sum(c['correct'] for _, c in pairs)}")
    print(HEADER)
    for m in spec["end_to_end"]:
        name = m["name"]
        got = [(p["metrics"].get(name, {}).get("value"), c["metrics"].get(name, {}).get("value"))
               for p, c in pairs]
        got = [(a, b) for a, b in got if a is not None and b is not None]
        if got:
            print(compare(name, got, m["better"] == "lower", m["bound"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=601)
    ap.add_argument("--seconds", type=int,
                    help="timed window per run (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--work", required=True, help="directory for the checkouts and results")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or spec["run_seconds"]
    work = pathlib.Path(a.work).resolve()
    sides = {s: work / s for s in ("parent", "change")}
    shas = {s: extract(getattr(a, s), d) for s, d in sides.items()}
    print(f"parent {shas['parent'][:10]}  change {shas['change'][:10]}  "
          f"seconds {seconds}  seeds {a.seed}..{a.seed + a.pairs - 1}", flush=True)
    for s, d in sides.items():
        r = run(d, a.workloads[0], a.seed, seconds)
        print(f"warm-up {s}: exit {r['exit']}", flush=True)
    log = open(work / "results.jsonl", "a")
    for w in a.workloads:
        pairs = []
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for s in order:
                got[s] = run(sides[s], w, seed, seconds)
                log.write(json.dumps({"workload": w, "seed": seed, "side": s,
                                      "sha": shas[s], **got[s]}) + "\n")
                log.flush()
            pairs.append((got["parent"], got["change"]))
            key = "apply_p50_s"
            val = lambda r: r["metrics"].get(key, {}).get("value")
            print(f"{w} seed {seed} ({order[0]} first): {key} parent {val(got['parent'])} "
                  f"change {val(got['change'])}", flush=True)
        summarise(w, pairs, spec)


if __name__ == "__main__":
    main()
