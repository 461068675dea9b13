#!/usr/bin/env python3
"""Alternating parent/change pairs of chosen graft.Bench lines, summarised per line.

    python3 tools/bench_ab.py --parent HEAD~1 --change HEAD \\
        --lines w_merge_into w_incr_join --pairs 5 --work /tmp/bench_ab

Each side is the committed tree of a git revision, extracted with
`git archive` into `<work>/<side>` (see `lakebench_ab.py`); to measure
uncommitted work, stage it and pass `--change $(git stash create)`. Every
run is one `sbt -batch "runMain graft.Bench"` with
`SPARK_GRAFT_ONLY=<lines>` and `SPARK_GRAFT_QUIET_WAIT_MS=0`, so it builds
only the tables those lines use. `--sf` sets `SPARK_GRAFT_SF_DIR` (Bench
defaults to sf0.1). sbt runs offline against the local repository config,
as in ROADMAP's tier-1 command. Each side compiles once before the pairs,
and every pair alternates which side runs first.

A line's value is its entry in `queries` of the run's last
`{"metric":"total"` record: the median of Bench's runs, in seconds, or -1
when the line failed. Per line it prints each side's median and quartiles,
the parent's IQR, the change in the median, the pairs the change won and a
verdict against `--bound` (lower is better). Raw records go to
`<work>/bench_results.jsonl`, one line per run.
"""
import argparse
import json
import os
import pathlib
import subprocess
import sys

from lakebench_ab import HEADER, compare, extract

SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx4g")


def sbt(checkout, args, env):
    return subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", *args], cwd=checkout,
                          env=env, capture_output=True, text=True)


def run(checkout, env):
    p = sbt(checkout, ["runMain graft.Bench"], env)
    records = [line[line.index('{"metric":"total"'):] for line in p.stdout.splitlines()
               if '{"metric":"total"' in line]
    try:
        queries = json.loads(records[-1])["queries"]
    except (IndexError, json.JSONDecodeError, KeyError):
        queries = {}
    return {"exit": p.returncode, "queries": queries}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--lines", nargs="+", required=True, help="graft.Bench line names")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--sf", help="scale-factor directory (SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--bound", type=float, default=0.25,
                    help="relative slowdown of a line's median reported as REGRESSED")
    ap.add_argument("--work", required=True, help="directory for the checkouts and results")
    a = ap.parse_args()
    work = pathlib.Path(a.work).resolve()
    sides = {s: work / s for s in ("parent", "change")}
    shas = {s: extract(getattr(a, s), d) for s, d in sides.items()}
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS") or SBT_OPTS.format(home=pathlib.Path.home()),
               SPARK_GRAFT_ONLY=",".join(a.lines), SPARK_GRAFT_QUIET_WAIT_MS="0")
    if a.sf:
        env["SPARK_GRAFT_SF_DIR"] = a.sf
    print(f"parent {shas['parent'][:10]}  change {shas['change'][:10]}  "
          f"lines {','.join(a.lines)}", flush=True)
    for s, d in sides.items():
        p = sbt(d, ["compile"], env)
        if p.returncode != 0:
            sys.exit(f"{s} does not compile:\n{p.stdout[-2000:]}")
    pairs = []
    with open(work / "bench_results.jsonl", "a") as log:
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for s in order:
                got[s] = run(sides[s], env)
                log.write(json.dumps({"pair": i, "side": s, "sha": shas[s], **got[s]}) + "\n")
                log.flush()
            pairs.append((got["parent"], got["change"]))
            print(f"pair {i} ({order[0]} first): parent {got['parent']['queries']} "
                  f"change {got['change']['queries']}", flush=True)
    print(f"\n== {len(pairs)} pairs (seconds, lower is better)")
    print(HEADER)
    for line in a.lines:
        got = [(p["queries"].get(line), c["queries"].get(line)) for p, c in pairs]
        failed = sum(v is not None and v < 0 for pair in got for v in pair)
        got = [(x, y) for x, y in got if x is not None and y is not None and x >= 0 and y >= 0]
        if got:
            print(compare(line, got, True, a.bound) + (f"  ({failed} failed runs)" if failed else ""))
        else:
            print(f"{line:<20} no successful pair")


if __name__ == "__main__":
    main()
