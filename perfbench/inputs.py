"""Seeded, cached inputs for the crawl workloads, with their expected output.

Two cache levels live under ``<checkout>/.bench_cache``:

- ``web-<params>/base``: the bench web from
  ``siren_spark.testing.benchgen.gen_bench_pages`` (mirror + toi
  dialects, phantom wave). It depends on the web shape only, so every
  seed shares it; generating it needs a Spark session.
  The single-process simulator
  ``siren_spark.testing.oracle.simulate_crawl`` crawls it once per
  workload configuration (``sim-*.json``).
- ``web-<params>/seed-<n>``: the seed's own input. The seed picks a set
  of article pages that are withheld from the pages table (they become
  fetch misses) and the order of the rows in the file, so two seeds give
  two different pages tables. The directory also holds the seed's page
  sample for the layer measurements and its expected crawl output per
  workload, derived exactly from the base simulation.

Nothing here is timed: ``run.py`` calls :func:`ensure_inputs` in a child
process before its session starts, so neither generation nor the
simulator counts toward ``setup_s`` or the measured process tree.

Usage: python3 perfbench/inputs.py --workload crawl-bulk --seed 1
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Web shape. A 400-index x 240-link x 4-wave web (120,508 fetched pages)
# takes ~117 s to crawl at local[4] on a 4-vCPU host; the benchmark's
# whole run budget is about a minute, so the web keeps the same dialects,
# link fan-out and hot-host skew at 32 x 240 x 1 wave
# (~15.4k pages, two rounds of ~7.7k).
WEB = {"n_index": 32, "links_per_index": 240, "waves": 1, "n_domains": 20,
       "phantom_wave": True}
# share of article pages the seed withholds on top of the generator's own
# every-97th miss
WITHHELD_SHARE = 0.01
CACHE_VERSION = 2
# pages per kind in the seed's layer-measurement sample
SAMPLE = {"index": 16, "article": 1500, "toi": 8}

# robots rules in the reference shape (tools/spot_politeness.py): every
# bench domain is gated, /news/story-999* is blocked, the other rules make
# the matcher do longest-match work without blocking anything
ROBOTS_RULES = ("User-agent: *\n"
                "Disallow: /img/\n"
                "Disallow: /news/story-999\n"
                "Allow: /news/\n"
                "Disallow: /private/\n")


def robots_rows() -> list[dict]:
    rows = [{"domain": f"site{d}.example", "rules": ROBOTS_RULES}
            for d in range(WEB["n_domains"])]
    rows.append({"domain": "toi-epaper.example",
                 "rules": "User-agent: *\nAllow: /\n"})
    return rows


def _digest_of(obj) -> str:
    return hashlib.sha1(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:12]


def web_dir(root: str = ROOT) -> str:
    return os.path.join(root, ".bench_cache",
                        f"web-{_digest_of([CACHE_VERSION, WEB])}")


def seed_dir(seed: int, root: str = ROOT) -> str:
    return os.path.join(web_dir(root), f"seed-{seed}")


def _publish(tmp: str, final: str) -> None:
    """Atomically move a fully written cache directory into place."""
    if os.path.exists(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.rename(tmp, final)


def ensure_base(root: str = ROOT) -> str:
    """Generate the seed-independent bench web once per web shape."""
    base = os.path.join(web_dir(root), "base")
    if os.path.exists(os.path.join(base, "done.json")):
        return base
    from perfbench.env import pin_env, spark_session, stop_session

    pin_env(root)
    tmp = base + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    from siren_spark.testing.benchgen import gen_bench_pages

    spark = spark_session(root, "perfbench_gen")
    try:
        pages, seeds, n_records = gen_bench_pages(
            spark, partitions=16, **WEB)
        pages.write.parquet(os.path.join(tmp, "pages_parts"))
        seeds.write.parquet(os.path.join(tmp, "seeds_parts"))
    finally:
        stop_session(spark)
    # one sorted file each, so the seeded tables built from them are a
    # pure function of (web shape, seed)
    for name, key in (("pages", "url"), ("seeds", "url")):
        t = pq.read_table(os.path.join(tmp, f"{name}_parts"))
        t = t.sort_by([(key, "ascending")])
        if "warc_ts" in t.column_names:
            # Spark reads microsecond UTC timestamps back as `timestamp`
            i = t.schema.get_field_index("warc_ts")
            t = t.set_column(i, "warc_ts", t.column(i).cast(
                pa.timestamp("us", tz="UTC")))
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
        shutil.rmtree(os.path.join(tmp, f"{name}_parts"))
    with open(os.path.join(tmp, "done.json"), "w") as f:
        json.dump({"web": WEB, "n_records": n_records}, f)
    os.makedirs(web_dir(root), exist_ok=True)
    _publish(tmp, base)
    return base


def withheld_rows(base_pages: pa.Table, seed: int) -> list[int]:
    """Row numbers of the article pages the seed withholds."""
    urls = base_pages.column("url").to_pylist()
    articles = [i for i, u in enumerate(urls) if "/news/story-" in u]
    rng = random.Random(seed)
    return sorted(rng.sample(articles, int(len(articles) * WITHHELD_SHARE)))


def seeded_pages(base_pages: pa.Table, seed: int) -> pa.Table:
    """The seed's pages table: the base without the withheld pages, rows
    in a seeded order."""
    withheld = set(withheld_rows(base_pages, seed))
    keep = [i for i in range(base_pages.num_rows) if i not in withheld]
    random.Random(seed).shuffle(keep)
    return base_pages.take(pa.array(keep, type=pa.int64()))


def page_sample(pages: pa.Table, seed: int) -> pa.Table:
    """A seeded sample of each page kind, for the single-layer
    measurements of the traced run."""
    urls = pages.column("url").to_pylist()
    kinds = {"index": [], "article": [], "toi": []}
    for i, u in enumerate(urls):
        if "getsearchdata" in u:
            kinds["index"].append(i)
        elif "/news/story-" in u:
            kinds["article"].append(i)
        elif "toi-epaper" in u:
            kinds["toi"].append(i)
    rng = random.Random(seed)
    rows = []
    for kind, ix in kinds.items():
        for i in sorted(rng.sample(ix, min(SAMPLE[kind], len(ix)))):
            rows.append({"kind": kind, "url": urls[i],
                         "html": pages.column("html")[i].as_py()})
    return pa.Table.from_pylist(rows)


def ensure_seed(seed: int, root: str = ROOT) -> str:
    """Write the seed's pages table, its page sample and its withheld
    URLs once per (web shape, seed)."""
    base = ensure_base(root)
    out = seed_dir(seed, root)
    if os.path.exists(os.path.join(out, "withheld.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    base_pages = pq.read_table(os.path.join(base, "pages.parquet"))
    pages = seeded_pages(base_pages, seed)
    pq.write_table(pages, os.path.join(tmp, "pages.parquet"))
    pq.write_table(page_sample(pages, seed), os.path.join(tmp, "sample.parquet"))
    rows = pa.array(withheld_rows(base_pages, seed), type=pa.int64())
    withheld = base_pages.select(["url", "url_canon"]).take(rows).to_pylist()
    with open(os.path.join(tmp, "withheld.json"), "w") as f:
        json.dump(withheld, f)
    _publish(tmp, out)
    return out


def _row_hash(fields: list) -> int:
    s = "\x1f".join("\x00" if v is None else str(v) for v in fields)
    return int(hashlib.sha1(s.encode()).hexdigest()[:16], 16)


def result_digest(rows) -> str:
    """Order-insensitive digest of result rows given as (source, url,
    title, author, location, published 'YYYY-MM-DD HH:MM:SS', sha1 of
    text, gen) tuples."""
    return format(sum(_row_hash(list(r)) for r in rows) % (1 << 64), "016x")


def _config_key(workload: str) -> str:
    from perfbench.workloads import WORKLOADS

    return f"{workload}-{_digest_of(WORKLOADS[workload])}"


def base_simulation(workload: str, root: str = ROOT) -> dict:
    """The simulator's crawl of the base web under ``workload``'s
    configuration: per-round counters, the round each URL was scheduled
    in, and each result row's (url, gen, row hash). Cached per (web
    shape, workload configuration)."""
    from perfbench.workloads import WORKLOADS
    from siren_spark.testing.oracle import simulate_crawl

    base = ensure_base(root)
    path = os.path.join(base, f"sim-{_config_key(workload)}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    w = WORKLOADS[workload]
    pages = pq.read_table(os.path.join(base, "pages.parquet"),
                          columns=["url", "html"]).to_pylist()
    seeds = pq.read_table(os.path.join(base, "seeds.parquet")).to_pylist()
    for s in seeds:
        s["meta"] = dict(s["meta"] or [])
    sim = simulate_crawl(
        pages, seeds, budget_per_host=w["budget_per_host"],
        max_rounds=w["max_rounds"],
        robots_rows=robots_rows() if w["robots"] else None)
    del pages
    counters: list[dict] = [{} for _ in sim.schedule]
    for c in sim.counters:
        counters[c["gen"]][c["metric"]] = c["n"]
    results = [
        (r["url"], r["gen"], _row_hash([
            r["source"], r["url"], r["title"], r["author"], r["location"],
            (r["published"].strftime("%Y-%m-%d %H:%M:%S")
             if r["published"] is not None else None),
            (hashlib.sha1(r["text"].encode()).hexdigest()
             if r["text"] is not None else None),
            r["gen"]]))
        for r in sim.results]
    out = {"counters": counters, "seeds": len(seeds), "results": results,
           "scheduled_in": {c: g for g, canons in enumerate(sim.schedule)
                            for c in canons}}
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.rename(path + ".tmp", path)
    return out


def expected_path(seed: int, workload: str, root: str = ROOT) -> str:
    return os.path.join(seed_dir(seed, root),
                        f"expected-{_config_key(workload)}.json")


def expected_output(seed: int, workload: str, root: str = ROOT) -> dict:
    """Per-round counters, per-round result counts and the results digest
    of ``workload`` on the seed's pages, cached next to the seed's input.

    The withheld pages are article pages: leaves of the link graph that
    yield one record each. Removing them changes no scheduling decision,
    so the seed's expectation is the base simulation with each withheld
    page turned into a miss in the round that schedules it and its result
    row dropped."""
    path = expected_path(seed, workload, root)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    sim = base_simulation(workload, root)
    with open(os.path.join(ensure_seed(seed, root), "withheld.json")) as f:
        withheld = json.load(f)
    counters = [dict(c) for c in sim["counters"]]
    for w in withheld:
        g = sim["scheduled_in"].get(w["url_canon"])
        if g is not None:
            counters[g]["missing"] = counters[g].get("missing", 0) + 1
    gone = {w["url"] for w in withheld}
    kept = [(g, h) for url, g, h in sim["results"] if url not in gone]
    records = [0] * len(counters)
    for g, _h in kept:
        records[g] += 1
    exp = {"rounds": len(counters), "counters": counters, "records": records,
           "seeds": sim["seeds"],
           "digest": format(sum(h for _g, h in kept) % (1 << 64), "016x")}
    with open(path + ".tmp", "w") as f:
        json.dump(exp, f)
    os.rename(path + ".tmp", path)
    return exp


def ensure_inputs(workload: str, seed: int, root: str = ROOT) -> dict:
    exp = expected_output(seed, workload, root)
    return {"base": ensure_base(root), "seed_dir": seed_dir(seed, root),
            "expected": exp}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    info = ensure_inputs(args.workload, args.seed)
    print(json.dumps({"seed_dir": info["seed_dir"],
                      "rounds": info["expected"]["rounds"]}))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    main()
