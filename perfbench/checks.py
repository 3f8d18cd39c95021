"""Output checks for one crawl, read back from its kept checkpoint.

Per round:
- the ``fetched`` counter equals the manifest's ``by_status.scheduled``;
- ``fetched - missing`` equals the extracted ``page`` rows;
- the ``by_status`` values sum to the previous round's links + deferred
  (round 0: the seed list);
- every counter and the round's result count equal the single-process
  simulator's on the same pages (``inputs.expected_output``).

Per crawl: the round count and an order-insensitive digest of the
``results`` rows equal the simulator's, and for the default seed the
digest also equals the one recorded below.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from perfbench.inputs import result_digest
from siren_spark.operators.checkpoint import CheckpointStore

DEFAULT_SEED = 1
# results digest of each workload at the default seed, recorded when the
# engine and the simulator first agreed on it
RECORDED_DIGESTS = {"crawl-bulk": "de3cb79268d833f6",
                    "crawl-polite": "5b426822e30c26e2"}

SIM_METRICS = ("fetched", "missing", "deferred", "deduped", "robots_blocked",
               "errors")


def result_rows(results) -> list[tuple]:
    return [tuple(r) for r in results.select(
        "source", "url", "title", "author", "location",
        F.date_format("published", "yyyy-MM-dd HH:mm:ss"),
        F.sha1(F.col("text").cast("binary")), "gen").collect()]


def check_crawl(spark, res, ckpt_dir: str, expected: dict, workload: str,
                seed: int) -> tuple[list[str], dict]:
    """Returns (failures, per-crawl totals)."""
    fails: list[str] = []
    store = CheckpointStore(ckpt_dir)
    last = store.latest_gen()
    rounds = 0 if last is None else last + 1
    if rounds != expected["rounds"] or res.rounds != rounds:
        fails.append(f"rounds {rounds}/{res.rounds} != {expected['rounds']}")
    manifests = [store.manifest(g) for g in range(rounds)]
    cnt: dict[tuple[int, str], int] = {
        (r["gen"], r["metric"]): int(r["n"]) for r in
        res.counters.groupBy("gen", "metric").agg(F.sum("n").alias("n"))
        .collect()}
    kinds: dict[tuple[int, str], int] = {}
    for g, m in enumerate(manifests):
        for r in (spark.read.parquet(m["tables"]["extracted"])
                  .groupBy("kind").count().collect()):
            kinds[(g, r["kind"])] = int(r["count"])
    rows = result_rows(res.results)
    rec_per_gen = [0] * max(rounds, 1)
    for r in rows:
        rec_per_gen[r[-1]] += 1

    prev_frontier = expected["seeds"]
    for g, m in enumerate(manifests):
        by = {k: int(v) for k, v in m["stats"]["by_status"].items()}
        fetched = cnt.get((g, "fetched"), 0)
        missing = cnt.get((g, "missing"), 0)
        if fetched != by.get("scheduled", 0):
            fails.append(f"gen {g}: fetched {fetched} != scheduled "
                         f"{by.get('scheduled', 0)}")
        if fetched - missing != kinds.get((g, "page"), 0):
            fails.append(f"gen {g}: fetched-missing {fetched - missing} != "
                         f"page rows {kinds.get((g, 'page'), 0)}")
        if sum(by.values()) != prev_frontier:
            fails.append(f"gen {g}: by_status sum {sum(by.values())} != "
                         f"previous links+deferred {prev_frontier}")
        prev_frontier = kinds.get((g, "link"), 0) + by.get("deferred", 0)
        if g >= expected["rounds"]:
            continue
        want = expected["counters"][g]
        for metric in SIM_METRICS:
            if cnt.get((g, metric), 0) != want.get(metric, 0):
                fails.append(f"gen {g}: {metric} {cnt.get((g, metric), 0)} "
                             f"!= simulator {want.get(metric, 0)}")
        if rec_per_gen[g] != expected["records"][g]:
            fails.append(f"gen {g}: results {rec_per_gen[g]} != simulator "
                         f"{expected['records'][g]}")
    digest = result_digest(rows)
    if digest != expected["digest"]:
        fails.append(f"results digest {digest} != simulator "
                     f"{expected['digest']}")
    recorded = RECORDED_DIGESTS.get(workload)
    if seed == DEFAULT_SEED and recorded and digest != recorded:
        fails.append(f"results digest {digest} != recorded {recorded}")

    def total(metric: str) -> int:
        return sum(n for (_g, m), n in cnt.items() if m == metric)

    totals = {m: total(m) for m in (*SIM_METRICS, "records")}
    totals["links"] = sum(n for (_g, k), n in kinds.items() if k == "link")
    totals["rounds"] = rounds
    totals["by_status"] = [m["stats"]["by_status"] for m in manifests]
    return fails, totals
