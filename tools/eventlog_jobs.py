#!/usr/bin/env python3
"""One line per Spark job of a Spark event log: where a run's jobs come from.

    python3 tools/eventlog_jobs.py <event-log-dir or file> [--grep TEXT]

For every application log (`app-*`/`local-*`, or a rolling
`eventlog_v2_*` directory, Spark 4's default; plain or `.zstd`,
`.inprogress` included) it prints, per job in submission order: the job
id, the SQL execution id, the call site (the SQL execution's, else the
name of the job's last stage; e.g. `collect at GraftTable.scala:1172`),
the stages and tasks the job actually ran (skipped stages excluded), its
duration, and the driver gap before it (submission time minus the
completion of every earlier job). A stage that AQE submitted from its
pool thread outside any SQL execution (e.g. the shuffle under a cached
plan) carries no call site; it is shown as `AQE <scope> for: <the next
job's call site>`. `--grep` keeps only jobs whose call site contains
TEXT. zstd logs are read with the `zstandard` module when Python has it,
else with the `zstd` binary.

Getting a log from the lakebench jar, outside `lakebench/run.py` (run
from the root of a checkout; one `lakebench/run.py` run first builds
`.bench_build/lakebench/classes/lakebench.jar`):

    mkdir -p /tmp/ev
    opens=$(for p in lang lang.invoke lang.reflect io net nio util \
        util.concurrent util.concurrent.atomic; do
        printf -- '--add-opens java.base/java.%s=ALL-UNNAMED ' $p; done
      for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
        printf -- '--add-opens java.base/%s=ALL-UNNAMED ' $p; done)
    java -Xmx2g -Duser.timezone=UTC -Dspark.ui.enabled=false \
        -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev $opens \
        -cp ".bench_build/lakebench/classes/lakebench.jar:$SPARK_HOME/jars/*" \
        lakebench.Bench --workload cdc_uniform_cow --seed 501 --seconds 12 \
        --trace 1 --work /tmp/ev-work --inject-mismatch 0 > /tmp/ev-result.json
    python3 tools/eventlog_jobs.py /tmp/ev --grep GraftTable
"""
import argparse
import json
import pathlib
import shutil
import subprocess
import sys


def lines(path):
    if path.is_dir():  # a rolling log: eventlog_v2_<app>/events_<n>_<app>[.zstd]
        parts = [q for q in path.iterdir() if q.name.startswith("events_")]
        for q in sorted(parts, key=lambda q: int(q.name.split("_")[1])):
            yield from lines(q)
        return
    if path.name.endswith((".zstd", ".zstd.inprogress")):
        try:
            import zstandard
        except ImportError:
            zstandard = None
        if zstandard is not None:
            with open(path, "rb") as f:
                data = zstandard.ZstdDecompressor().stream_reader(f).read()
        else:
            if not shutil.which("zstd"):
                sys.exit(f"{path}: needs the zstandard module or the zstd binary")
            # an in-progress log ends mid-frame: keep what decodes
            data = subprocess.run(["zstd", "-dc", str(path)], capture_output=True).stdout
        text = data.decode("utf-8", "replace")
    else:
        text = path.read_text(encoding="utf-8", errors="replace")
    for ln in text.splitlines():
        try:
            yield json.loads(ln)
        except json.JSONDecodeError:
            pass  # a truncated last line of an in-progress log


# the call site of a stage that AQE submitted from its pool thread
ASYNC = "withThreadLocalCaptured"


def jobs(path):
    started, ended, stage_name, stage_tasks, ran, sql_site = {}, {}, {}, {}, set(), {}
    for ev in lines(path):
        kind = ev.get("Event")
        if kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
            sql_site[str(ev.get("executionId"))] = ev.get("description", "")
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            for s in ev.get("Stage Infos", []):
                stage_name[s["Stage ID"]] = s.get("Stage Name", "")
            scope = json.loads(props.get("spark.rdd.scope", "{}")).get("name", "")
            started[ev["Job ID"]] = (ev.get("Submission Time", 0), ev.get("Stage IDs", []),
                                     props.get("spark.sql.execution.id", "-"), scope)
        elif kind == "SparkListenerJobEnd":
            ended[ev["Job ID"]] = ev.get("Completion Time", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            ran.add(info["Stage ID"])
            stage_tasks[info["Stage ID"]] = info.get("Number of Tasks", 0)
    out, last_end = [], None
    for jid in sorted(started, key=lambda j: (started[j][0], j)):
        sub, stages, sql, scope = started[jid]
        done = [s for s in stages if s in ran]
        end = ended.get(jid)
        site = sql_site.get(sql) or (stage_name.get(max(stages), "") if stages else "")
        out.append({
            "job": jid, "sql": sql, "site": site, "aqe": ASYNC in site, "scope": scope,
            "stages": len(done), "tasks": sum(stage_tasks[s] for s in done),
            "ms": (end - sub) if end else None,
            "gap_ms": (sub - last_end) if last_end is not None else None,
        })
        if end:
            last_end = max(last_end or 0, end)
    # AQE submits a query's shuffle stages from a pool thread, so their
    # stage names say nothing: name them after the next job's call site
    nxt = ""
    for j in reversed(out):
        if j["aqe"]:
            j["site"] = f"AQE {j['scope'] or 'stage'} for: {nxt}"
        else:
            nxt = j["site"]
    return out


def logs(target):
    p = pathlib.Path(target)
    if p.is_file():
        return [p]
    return sorted(q for q in p.iterdir()
                  if q.name.startswith("eventlog_v2_") and q.is_dir() or
                  q.is_file() and q.name.startswith(("app-", "local-", "application_")))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("target", help="an event-log directory or one log file")
    ap.add_argument("--grep", help="keep only jobs whose call site contains this text")
    a = ap.parse_args()
    found = logs(a.target)
    if not found:
        sys.exit(f"no event logs under {a.target}")
    for path in found:
        print(f"# {path.name}")
        print(f"{'job':>5} {'sql':>5} {'stages':>6} {'tasks':>6} {'ms':>7} {'gap_ms':>7}  call site")
        for j in jobs(path):
            if a.grep and a.grep not in j["site"]:
                continue
            ms = "-" if j["ms"] is None else str(j["ms"])
            gap = "-" if j["gap_ms"] is None else str(j["gap_ms"])
            print(f"{j['job']:>5} {j['sql']:>5} {j['stages']:>6} {j['tasks']:>6} "
                  f"{ms:>7} {gap:>7}  {j['site']}")


if __name__ == "__main__":
    main()
