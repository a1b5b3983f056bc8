"""Crawl-round benchmark for the webscraper_spark engine.

Runs one workload as a closed loop with one client (each crawl round
starts when the previous one has committed) on ``local[nproc]``, checks
the committed tables, and prints one JSON object as the last line of
stdout::

    python3 crawlbench/run.py --workload round_bulk --seed 1 --seconds 20 --trace 0

A run generates its inputs from ``--seed``, then repeats crawl cycles
(set-up, then ``ROUNDS`` rounds) while fewer than ``--seconds`` seconds
have passed; it always completes at least one cycle. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` is a separate traced run
that reports the per-layer metrics (see ``trace.py``). Spark's output
goes to stderr. Everything the run writes lives in a directory under
``.crawlbench_tmp/`` in the checkout, removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# The engine is imported first: without it the run fails here, before it
# prints anything.
from webscraper_spark.plans.round import init_crawl, prepare_pages, run_round  # noqa: E402
from webscraper_spark.session import get_spark  # noqa: E402
from webscraper_spark.sources.tables import TableStore  # noqa: E402

from crawlbench import check, trace  # noqa: E402
from crawlbench.corpus import Shape, build  # noqa: E402

WORKLOADS = {
    # Fetch-heavy. The per-host budget exceeds any host's due frontier, so
    # the round fetches every seed; half the URLs are reachable only
    # through links, so it also admits about as many URLs as it fetches.
    "round_bulk": Shape(n_urls=30_000, n_hosts=2_000, seed_pct=50, outlinks=6,
                        filler_words=120, per_host_budget=1_000_000),
    # Frontier-heavy. A frontier of small pages about six times larger
    # than the round's fetches is drained at 5 URLs per host: the round
    # ranks, rewrites and re-reads the whole frontier and seen-set to
    # fetch about 5 pages per host.
    "round_frontier": Shape(n_urls=60_000, n_hosts=2_000, seed_pct=90, outlinks=2,
                            filler_words=24, per_host_budget=5),
}
# Rounds per crawl cycle. A round costs about 12 s of fixed per-job
# latency on 4 CPUs whatever its size, and each run pays its own JVM
# start and set-up, so one round per cycle keeps a run near 50 s.
ROUNDS = 1
DRIVER_MEM = "3g"
WORK_DIR = os.path.join(ROOT, ".crawlbench_tmp")

E2E_UNITS = {"round_s": "s", "pages_per_s": "pages/s", "admitted_per_s": "urls/s",
             "setup_s": "s", "peak_rss_mb": "MB"}


def _proc_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    return children


def tree_peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over this process and all its
    descendants: the driver, the JVM and the Python workers."""
    children = _proc_children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(line.split()[1]) for line in f
                                  if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024


def start_session(work: str, traced: bool):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
    }
    if traced:
        conf.update(trace.event_log_conf(os.path.join(work, "eventlog")))
    return get_spark(app_name="crawlbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def crawl(args, shape: Shape, work: str) -> dict:
    traced = bool(args.trace)
    t0 = time.perf_counter()
    spark = start_session(work, traced)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    corpus = build(spark, shape, args.seed)
    want = check.load_expected().get(args.workload, {}).get(str(args.seed))
    setups, check_s, rounds, layers, digests = [], [], [], {}, None
    attempted = failed = 0
    peak_rss = 0.0
    deadline = time.monotonic() + args.seconds
    cycle = 0
    try:
        while cycle == 0 or time.monotonic() < deadline:
            sc.setJobGroup(f"setup-{cycle}", "crawl set-up")
            t = time.perf_counter()
            pages_latest = prepare_pages(corpus.pages).persist()
            pages_latest.count()
            store = (trace.TimedStore if traced else TableStore)(
                spark, os.path.join(work, f"store-{cycle}"))
            init_crawl(store, corpus.seeds, corpus.hosts)
            setups.append(time.perf_counter() - t)
            peak_rss = max(peak_rss, tree_peak_rss_mb())

            done = []
            attempted += ROUNDS
            for r in range(1, ROUNDS + 1):
                group = f"round-{cycle}-{r}"
                sc.setJobGroup(group, f"crawl round {r}")
                start, t = time.time(), time.perf_counter()
                try:
                    lineage = run_round(store, pages_latest, r,
                                        per_host_budget=shape.per_host_budget)
                except Exception:
                    traceback.print_exc()
                    failed += ROUNDS - r + 1
                    break
                done.append({"round": r, "wall": time.perf_counter() - t, "lineage": lineage,
                             "group": group, "start": start, "end": time.time()})
                peak_rss = max(peak_rss, tree_peak_rss_mb())

            sc.setJobGroup(f"check-{cycle}", "output check")
            t = time.perf_counter()
            bad = set()
            if done:
                per_round = check.round_problems(
                    store, {d["round"]: d["lineage"] for d in done}, shape.per_host_budget)
                bad = {r for r, problems in per_round.items() if report(r, problems)}
            if len(done) == ROUNDS:
                got = check.cycle_digests(store, ROUNDS)
                problems = check.digest_problems(want if want is not None else digests, got)
                if report("cycle", problems):
                    bad = {d["round"] for d in done}
                elif args.record and cycle == 0 and not bad:
                    check.record_expected(args.workload, args.seed, got)
                digests = digests or got
            failed += len(bad)
            rounds += done
            check_s.append(time.perf_counter() - t)

            if traced and not layers and done:
                sc.setJobGroup("probe", "layer probes")
                last = done[-1]["round"]
                layers.update(trace.probe_schedule(store, shape.per_host_budget, last))
                layers.update(trace.probe_dedup(spark, store, corpus, last))
                layers.update(trace.probe_kernels(corpus))
                for d in done:
                    d["phases"] = store.round_breakdown(d["start"], d["end"])
            pages_latest.unpersist()
            cycle += 1
    finally:
        t = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t
    if not rounds:
        raise RuntimeError("no crawl round completed")

    walls = [d["wall"] for d in rounds]
    print(json.dumps({"timings_s": {"session": session_s, "setups": setups, "rounds": walls,
                                    "checks": check_s, "stop": stop_s}}), file=sys.stderr)
    sums = {k: sum(d["lineage"][k] for d in rounds) for k in ("fetched", "new_urls")}
    values = {
        "round_s": statistics.median(walls),
        "pages_per_s": sums["fetched"] / sum(walls),
        "admitted_per_s": sums["new_urls"] / sum(walls),
        "setup_s": session_s + statistics.median(setups),
        "peak_rss_mb": peak_rss,
    }
    if traced:
        traced_rounds = [d for d in rounds if "phases" in d]
        per_round, largest = trace.layer_metrics(
            traced_rounds, trace.parse_event_log(os.path.join(work, "eventlog")))
        layers.update(per_round)
        layers["trace.round_s"] = values["round_s"]
        layers["failed_frac"] = failed / attempted
        print(json.dumps({"trace": {
            "largest_phase": largest,
            "largest_phase_share": per_round["round.largest_phase_share"],
            "phases_s": {p: sum(d["phases"][p] for d in traced_rounds) / len(traced_rounds)
                         for p in trace.PHASES},
        }}), file=sys.stderr)
        metrics = {k: {"value": v, "unit": trace.UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def report(where, problems: list[str]) -> bool:
    for p in problems:
        print(f"check failed ({where}): {p}", file=sys.stderr)
    return bool(problems)


def context(args, shape: Shape) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        ram_kb = int(next(line.split()[1] for line in f if line.startswith("MemTotal:")))
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
            "ram_mb": ram_kb // 1024, "pyspark": pyspark.__version__,
            "python": platform.python_version(), "driver_mem": DRIVER_MEM,
            "shape": shape.__dict__}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this seed's table digests in expected.json")
    args = ap.parse_args(argv)
    shape = WORKLOADS[args.workload]

    # stdout carries only the result line: everything else, including
    # the JVM's inherited stdout, goes to stderr
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    print(json.dumps({"context": context(args, shape)}), file=sys.stderr)
    os.makedirs(WORK_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_DIR)
    try:
        result = crawl(args, shape, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)
        except OSError:
            pass
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
