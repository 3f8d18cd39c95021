"""Per-round atomic checkpointing with manifest commit protocol.

Iceberg snapshot semantics without the Iceberg runtime jar (absent in
this sandbox — SURVEY.md §7.6): each round's tables are written under
``root/gen=N/<table>/`` as Parquet, then a manifest JSON is committed by
atomic rename into ``root/_manifests/N.json``. A killed or failed run
leaves uncommitted gen directories behind (the round it was in, and the
next round's annotate the crawl stages ahead of the commit), which
resume ignores and the first re-stage into such a gen removes; restart
reads the highest committed manifest and continues from its
frontier/seen — the lineage/counter analog of siren's logged mismatch
counts (toi.py:198-202) made queryable state. A completed crawl
commits every table it stages, so it leaves no uncommitted directory.

On a real cluster, swap ``CheckpointStore`` for the Iceberg catalog
(``df.writeTo(...).createOrReplace()`` per snapshot); the crawl loop only
touches this interface.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root
        # gens whose stale uncommitted dir this store already cleaned
        self._staged_gens: set[int] = set()
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)

    # -- paths ---------------------------------------------------------
    def _gen_dir(self, gen: int) -> str:
        return os.path.join(self.root, f"gen={gen}")

    def _manifest_path(self, gen: int) -> str:
        return os.path.join(self.root, "_manifests", f"{gen}.json")

    # -- commit protocol -------------------------------------------------
    def _clean_stale(self, gen: int) -> None:
        """Drop an uncommitted gen dir left by a killed run (once per gen)."""
        if gen in self._staged_gens:
            return
        gd = self._gen_dir(gen)
        if os.path.exists(gd) and not os.path.exists(self._manifest_path(gen)):
            shutil.rmtree(gd)
        self._staged_gens.add(gen)

    def stage_table(self, gen: int, name: str, df: DataFrame) -> str:
        """Materialize an intermediate table under the (uncommitted) gen
        dir and return its path. It becomes durable only when
        ``write_round`` commits the manifest referencing it."""
        self._clean_stale(gen)
        path = os.path.join(self._gen_dir(gen), name)
        df.write.mode("overwrite").parquet(path)
        return path

    def write_round(self, gen: int, staged: dict[str, str],
                    stats: dict | None = None) -> None:
        """Commit round ``gen`` atomically: its manifest names the
        ``staged`` tables (name -> path ``stage_table`` returned)."""
        manifest = {"gen": gen, "tables": dict(staged), "stats": stats or {}}
        tmp = self._manifest_path(gen) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._manifest_path(gen))  # atomic commit point

    def latest_gen(self) -> int | None:
        md = os.path.join(self.root, "_manifests")
        gens = [
            int(f[:-5]) for f in os.listdir(md)
            if f.endswith(".json")
        ]
        return max(gens) if gens else None

    def manifest(self, gen: int) -> dict:
        with open(self._manifest_path(gen)) as f:
            return json.load(f)

    def read(self, spark: SparkSession, gen: int, name: str) -> DataFrame:
        return spark.read.parquet(self.manifest(gen)["tables"][name])

    def read_all(self, spark: SparkSession, name: str) -> DataFrame | None:
        """Union of table ``name`` across all committed rounds (e.g. results)."""
        last = self.latest_gen()
        if last is None:
            return None
        paths = []
        for g in range(last + 1):
            m = self.manifest(g)
            if name in m["tables"]:
                paths.append(m["tables"][name])
        if not paths:
            return None
        return spark.read.parquet(*paths)


__all__ = ["CheckpointStore"]
