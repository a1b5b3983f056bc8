"""Job-level profile of one crawl round from a Spark event log.

``--round LOG`` prints one row per job of a round's job group, in
submission order: job id, SQL execution id, stages and tasks, wall time,
executor run time, Python-worker time, broadcast bytes, shuffle bytes
written and read, and call site. A last row totals the group.

The log must be uncompressed and not rolled (session confs
``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``; crawlbench's ``--trace 1``
sets both). A job's stages and tasks are the ones that ran under it, so
a stage another job already ran (skipped) is not counted twice. A
broadcast's size is a driver-side metric of its SQL execution; it is
charged to the job of that execution that ended last before the size
was posted, which is the job that collected the broadcast.

Usage:
    python tools/layer_profile.py --round EVENT_LOG [--group GROUP]

Without ``--group`` the last job group whose id starts with ``round``
(crawlbench names them ``round-<cycle>-<round>``) is profiled.
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import dataclass

MB = 1 << 20
PY_RUN_METRIC = "time to run Python workers"
BROADCAST_NODE = "BroadcastExchange"
BROADCAST_METRIC = "data size"


@dataclass
class Job:
    job: int
    group: str
    sql: int | None
    call_site: str
    submit_ms: int
    end_ms: int | None = None
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    py_ms: int = 0
    broadcast_bytes: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0

    @property
    def wall_ms(self) -> int:
        return (self.end_ms or self.submit_ms) - self.submit_ms


def _broadcast_accumulators(plan: dict) -> set[int]:
    """Accumulator ids of every BroadcastExchange's data size in a
    ``sparkPlanInfo`` tree."""
    out, todo = set(), [plan]
    while todo:
        node = todo.pop()
        todo += node.get("children", [])
        if node.get("nodeName") == BROADCAST_NODE:
            out |= {m["accumulatorId"] for m in node.get("metrics", [])
                    if m.get("name") == BROADCAST_METRIC}
    return out


def read_jobs(path: str) -> list[Job]:
    """Every job in the event log at ``path``, in submission order."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    broadcast_ids: set[int] = set()
    last_ended: dict[int, Job] = {}  # sql execution id -> job
    driver_updates: list[tuple[Job, int, int]] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sql = props.get("spark.sql.execution.id")
                result = max(e.get("Stage Infos") or [{}], key=lambda s: s.get("Stage ID", -1))
                job = jobs[e["Job ID"]] = Job(
                    job=e["Job ID"],
                    group=props.get("spark.jobGroup.id") or "",
                    sql=int(sql) if sql is not None else None,
                    call_site=props.get("callSite.short") or result.get("Stage Name", ""),
                    submit_ms=e["Submission Time"],
                )
                for s in e["Stage IDs"]:
                    stage_job.setdefault(s, job)
            elif ev == "SparkListenerJobEnd":
                job = jobs[e["Job ID"]]
                job.end_ms = e["Completion Time"]
                if job.sql is not None:
                    last_ended[job.sql] = job
            elif ev == "SparkListenerStageCompleted":
                job = stage_job.get(e["Stage Info"]["Stage ID"])
                if job is not None:
                    job.stages += 1
            elif ev == "SparkListenerTaskEnd":
                job = stage_job.get(e["Stage ID"])
                if job is None:
                    continue
                job.tasks += 1
                m = e.get("Task Metrics") or {}
                job.run_ms += m.get("Executor Run Time", 0)
                job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job.py_ms += sum(int(a["Update"]) for a in e["Task Info"].get("Accumulables", [])
                                 if a.get("Name") == PY_RUN_METRIC and "Update" in a)
            elif "sparkPlanInfo" in e:  # SQL execution start / AQE re-plan
                broadcast_ids |= _broadcast_accumulators(e["sparkPlanInfo"])
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                job = last_ended.get(e["executionId"])
                if job is not None:
                    driver_updates += [(job, acc, v) for acc, v in e["accumUpdates"]]
    # AQE posts a new stage's metric values before the re-plan that names
    # its node, so updates are matched to broadcasts only at the end
    for job, acc, v in driver_updates:
        if acc in broadcast_ids:
            job.broadcast_bytes += v
    return sorted(jobs.values(), key=lambda j: (j.submit_ms, j.job))


def round_group(jobs: list[Job]) -> str:
    groups = [j.group for j in jobs if j.group.startswith("round")]
    if not groups:
        raise SystemExit(f"no job group starts with 'round'; groups: "
                         f"{sorted({j.group for j in jobs})}")
    return groups[-1]


def format_table(jobs: list[Job], group: str) -> str:
    cols = ("job", "sql", "stages", "tasks", "wall_s", "run_s", "py_s",
            "bcast_mb", "shuf_w_mb", "shuf_r_mb")
    head = "{:>5} {:>5} {:>6} {:>5} {:>7} {:>7} {:>6} {:>8} {:>9} {:>9}  call site"
    row = "{:>5} {:>5} {:>6} {:>5} {:>7.2f} {:>7.2f} {:>6.2f} {:>8.2f} {:>9.2f} {:>9.2f}  {}"

    def values(j, job, sql, call_site):
        return (job, sql, j.stages, j.tasks, j.wall_ms / 1e3, j.run_ms / 1e3, j.py_ms / 1e3,
                j.broadcast_bytes / MB, j.shuffle_write / MB, j.shuffle_read / MB, call_site)

    lines = [f"job group {group}: {len(jobs)} jobs", head.format(*cols)]
    for j in jobs:
        lines.append(row.format(*values(j, j.job, "-" if j.sql is None else j.sql, j.call_site)))
    total = Job(job=-1, group=group, sql=None, call_site="",
                submit_ms=min(j.submit_ms for j in jobs),
                end_ms=max(j.end_ms or j.submit_ms for j in jobs))
    for attr in ("stages", "tasks", "run_ms", "py_ms", "broadcast_bytes",
                 "shuffle_write", "shuffle_read"):
        setattr(total, attr, sum(getattr(j, attr) for j in jobs))
    lines.append(row.format(*values(total, "total", "", "(wall = first submit to last end)")))
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--round", required=True, metavar="EVENT_LOG",
                    help="uncompressed, unrolled Spark event log file")
    ap.add_argument("--group", help="job group to profile (default: the last round group)")
    args = ap.parse_args(argv)
    jobs = read_jobs(args.round)
    group = args.group if args.group is not None else round_group(jobs)
    picked = [j for j in jobs if j.group == group]
    if not picked:
        raise SystemExit(f"no jobs in group {group!r}")
    print(format_table(picked, group))
    return 0


if __name__ == "__main__":
    sys.exit(main())
