"""Crawl benchmark for siren_spark, driven through its public API.

    python3 perfbench/run.py --workload crawl-bulk --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. One run is one local[4] Spark session
and a closed loop: a single driver thread runs crawls back to back over
input generated (and cached) before the session starts. The last stdout
line is one JSON object: ``correct``, ``attempted`` (pages fetched),
``failed`` (all of them if any output check failed) and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
separate traced run with ``--trace 1``. The line before it is a
diagnostic record (host CPU steal, per-crawl round times and totals).

End-to-end metrics (medians over the run's crawls where noted):
- ``pages_per_s``: fetched pages / wall time of ``run_crawl``;
- ``cpu_s_per_kpage``: CPU of the process tree (driver, JVM, Python
  workers) over the same windows per 1000 fetched pages; host CPU steal
  inflates wall time, not this;
- ``round_s.p50``: median of ``CrawlResult.round_secs``;
- ``setup_s``: session start + pages-store ingest
  (``BucketedParquetPageStore.write``) + warm-up (a throwaway one-round
  crawl from 1/32 of the seeds);
- ``peak_pss_mb``: peak summed PSS of the process tree.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procmon  # noqa: E402
from perfbench.env import (pin_env, spark_session, stop_session,  # noqa: E402
                           work_root)
from perfbench.metrics import result_line  # noqa: E402
from perfbench.workloads import WORKLOADS, crawl_config  # noqa: E402

# the warm-up crawl starts from every WARM_SEED_SHAREth seed
WARM_SEED_SHARE = 32
BUCKETS = 16
# one warm crawl of either workload takes about this long at local[4] on
# a 4-vCPU host; a run repeats the crawl round(seconds / nominal) times
NOMINAL_CRAWL_S = 23.0
INPUT_TIMEOUT_S = 850


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _ensure_inputs(workload: str, seed: int) -> dict:
    """Generate (or reuse) the seed's input and expected output in a
    child process, so neither counts toward this process's setup, CPU or
    memory."""
    from perfbench.inputs import ensure_inputs, expected_path

    if os.path.exists(expected_path(seed, workload, ROOT)):
        return ensure_inputs(workload, seed, ROOT)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "inputs.py"),
         "--workload", workload, "--seed", str(seed)],
        capture_output=True, text=True, timeout=INPUT_TIMEOUT_S, cwd=ROOT)
    if proc.returncode != 0:
        _fail(f"input generation failed:\n{proc.stderr[-3000:]}")
    # the generator's JVM may still be exiting: let it end before timing
    procmon.reap_descendants()
    return ensure_inputs(workload, seed, ROOT)


def _warm_up(spark, pages, seeds, robots, workload: str, ck: str) -> None:
    """A throwaway one-round crawl of the workload from a few seeds, as
    bench.py warms up: the Python workers start and the crawl's plans
    are compiled and JIT-warmed here, not in the timed crawl. Without it
    the first timed round carries ~7 s of first-use cost whose size
    varies from run to run."""
    import dataclasses

    from pyspark.sql import functions as F
    from siren_spark.crawl import run_crawl

    cfg = dataclasses.replace(crawl_config(workload), max_rounds=1)
    few = seeds.filter(F.abs(F.hash("url")) % WARM_SEED_SHARE == 0)
    try:
        run_crawl(spark, pages, few, cfg, ck, robots=robots)
    finally:
        shutil.rmtree(ck, ignore_errors=True)


def _crawl(spark, pages, seeds, robots, workload: str, ck: str) -> dict:
    from siren_spark.crawl import run_crawl

    cpu0 = procmon.tree_cpu_s()
    t0 = time.perf_counter()
    res = run_crawl(spark, pages, seeds, crawl_config(workload), ck,
                    robots=robots)
    wall = time.perf_counter() - t0
    cpu = procmon.tree_cpu_s() - cpu0
    return {"res": res, "wall": wall, "cpu": cpu,
            "round_secs": list(res.round_secs or [])}


def _dir_mb(path: str) -> float:
    total = 0
    for d, _sub, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def main() -> None:
    ap = argparse.ArgumentParser(description="siren_spark crawl benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "siren_spark")):
        _fail("siren_spark not found next to perfbench/: run from the root "
              "of a siren_spark checkout")
    pin_env(ROOT)
    inputs = _ensure_inputs(args.workload, args.seed)
    expected = inputs["expected"]
    inputs_done = time.perf_counter() - T_START

    from perfbench import layers
    from perfbench.checks import check_crawl
    from siren_spark.sources.pages import BucketedParquetPageStore

    run_dir = os.path.join(work_root(ROOT), f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    crawls: list[dict] = []
    fails: list[str] = []
    layer: dict[str, float] = {}
    spark = None
    try:
        with procmon.PssSampler() as pss:
            steal0 = procmon.steal_jiffies()
            t0 = time.perf_counter()
            spark = spark_session(ROOT, f"perfbench_{args.workload}", log_dir)
            session_s = time.perf_counter() - t0

            store = BucketedParquetPageStore(
                "perfbench_pages", buckets=BUCKETS,
                path=os.path.join(run_dir, "pages_bucketed"))
            seeded = spark.read.parquet(
                os.path.join(inputs["seed_dir"], "pages.parquet"))
            t0 = time.perf_counter()
            store.write(seeded)
            ingest_s = time.perf_counter() - t0
            pages = store.read(spark)
            seeds = spark.read.parquet(
                os.path.join(inputs["base"], "seeds.parquet"))
            robots = None
            if WORKLOADS[args.workload]["robots"]:
                from perfbench.inputs import robots_rows
                robots = spark.createDataFrame(
                    robots_rows(), "domain string, rules string")
            t0 = time.perf_counter()
            _warm_up(spark, pages, seeds, robots, args.workload,
                     os.path.join(run_dir, "ckpt-warm"))
            warm_s = time.perf_counter() - t0
            setup_s = session_s + ingest_s + warm_s

            def crawl_and_check(tracer=None) -> dict:
                ck = os.path.join(run_dir, f"ckpt-{len(crawls)}")
                if tracer is not None:
                    tracer.install()
                try:
                    c = _crawl(spark, pages, seeds, robots, args.workload, ck)
                finally:
                    if tracer is not None:
                        tracer.uninstall()
                c["written_mb"] = _dir_mb(ck)
                t0 = time.perf_counter()
                f, c["totals"] = check_crawl(spark, c["res"], ck, expected,
                                             args.workload, args.seed)
                c["check_s"] = time.perf_counter() - t0
                fails.extend(f)
                shutil.rmtree(ck, ignore_errors=True)
                crawls.append(c)
                return c

            if args.trace:
                from perfbench.tracing import Tracer

                layer.update(layers.measure(
                    spark, layers.page_sample(inputs["seed_dir"])))
                tracer = Tracer(spark)
                traced = crawl_and_check(tracer)
            else:
                reps = max(1, round(args.seconds / NOMINAL_CRAWL_S))
                for _ in range(reps):
                    crawl_and_check()
            steal = procmon.steal_pct(steal0, procmon.steal_jiffies())
    finally:
        measured_done = time.perf_counter() - T_START
        if spark is not None:
            stop_session(spark)
        if not args.trace:
            shutil.rmtree(run_dir, ignore_errors=True)

    fetched = sum(c["totals"]["fetched"] for c in crawls)
    correct = not fails and fetched > 0
    diag = {"workload": args.workload, "seed": args.seed,
            "steal_pct": round(steal, 2), "failures": fails[:20],
            "setup": {"session_s": round(session_s, 3),
                      "ingest_s": round(ingest_s, 3),
                      "warmup_s": round(warm_s, 3)},
            "timeline_s": {"inputs": round(inputs_done, 2),
                           "measured": round(measured_done, 2),
                           "stopped": round(time.perf_counter() - T_START, 2)},
            "crawls": [{"wall_s": round(c["wall"], 3),
                        "check_s": round(c["check_s"], 2),
                        "cpu_s": round(c["cpu"], 2),
                        "round_secs": [round(s, 3) for s in c["round_secs"]],
                        "totals": {k: v for k, v in c["totals"].items()
                                   if k != "by_status"}}
                       for c in crawls]}
    if args.trace:
        diag["rounds"] = [{k: round(v, 3) for k, v in r.items()}
                          for r in tracer.per_round(traced["round_secs"])]
        values = _layer_values(layer, traced, tracer, log_dir,
                               session_s, ingest_s, warm_s,
                               pss, steal)
        shutil.rmtree(run_dir, ignore_errors=True)
    else:
        wall = sum(c["wall"] for c in crawls)
        values = {
            "pages_per_s": max(fetched, 1) / wall,
            "cpu_s_per_kpage": sum(c["cpu"] for c in crawls)
            / (max(fetched, 1) / 1e3),
            "round_s.p50": statistics.median(
                s for c in crawls for s in c["round_secs"]),
            "setup_s": setup_s,
            "peak_pss_mb": pss.peak_mb,
        }
    diag["metrics"] = {k: round(v, 4) for k, v in values.items()}
    print(json.dumps(diag))
    print(result_line(correct, max(fetched, 1),
                      0 if correct else max(fetched, 1), values,
                      bool(args.trace)))


def _layer_values(layer, traced, tracer, log_dir, session_s,
                  ingest_s, warm_s, pss, steal) -> dict[str, float]:
    from perfbench.metrics import PHASE_TASK_METRICS
    from perfbench.tracing import PHASES, fold_event_log

    t = traced["totals"]
    by_status = t["by_status"]

    def status_total(key: str) -> int:
        return sum(int(b.get(key, 0)) for b in by_status)

    frontier = sum(sum(int(v) for v in b.values()) for b in by_status)
    span_s = tracer.phase_seconds()
    tasks = fold_event_log(log_dir)
    fetched = max(t["fetched"], 1)
    out = dict(layer)
    out.update({
        "crawl.annotate_s": span_s.get("annotate", 0.0),
        "annotate.frontier_rows": frontier,
        "annotate.scheduled": status_total("scheduled"),
        "annotate.deferred": status_total("deferred"),
        "annotate.deduped": status_total("deduped"),
        "annotate.blocked": status_total("blocked"),
        "annotate.scheduled_share": status_total("scheduled")
        / max(frontier, 1),
        "crawl.fetch_extract_s": span_s.get("fetch_extract", 0.0),
        "fetch_extract.input_mb_per_kpage": tasks.get(
            "fetch_extract", {}).get("input_mb", 0.0) / (fetched / 1e3),
        "fetch.missing": t["missing"],
        "fetch.hit_share": (fetched - t["missing"]) / fetched,
        "extract.links": t["links"],
        "extract.records": t["records"],
        "extract.errors": t["errors"],
        "crawl.results_s": span_s.get("results", 0.0),
        "crawl.counters_s": span_s.get("counters", 0.0),
        "crawl.compact_s": span_s.get("compact", 0.0),
        "seen.bloom_s": span_s.get("bloom", 0.0),
        "checkpoint.commit_s": span_s.get("commit", 0.0),
        "checkpoint.written_mb": traced["written_mb"],
        "crawl.driver_gap_s": tracer.driver_gap_s(traced["round_secs"]),
        "pages.ingest_s": ingest_s,
        "session.start_s": session_s,
        "warmup_s": warm_s,
        "proc.jvm_pss_mb": pss.peak_jvm_mb,
        "proc.python_pss_mb": pss.peak_python_mb,
        "proc.steal_pct": steal,
        "trace.pages_per_s": fetched / traced["wall"],
    })
    for phase in PHASES:
        for m in PHASE_TASK_METRICS:
            out[f"{phase}.{m}"] = tasks.get(phase, {}).get(m, 0.0)
    return out


def _stop_all() -> None:
    left = procmon.reap_descendants()
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)


if __name__ == "__main__":
    # every process a run starts (the input generator, spark-submit's
    # JVM, the Python worker daemon and its workers) has ended when it
    # exits, on every path out of main
    procmon.become_subreaper()
    try:
        main()
    finally:
        _stop_all()
