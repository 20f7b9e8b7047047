"""The three tier-lifecycle workloads, each as one repeatable op.

Every op does the same work: ``build`` writes to fresh output and lineage
dirs, ``update`` starts from a pristine copy of the trimmed store and raw
table, ``export`` writes the same fixed pair of exports to empty dirs.
Preparation, checks and clean-up between ops are untimed.
"""

from __future__ import annotations

import os
import shutil

import check
from inputs import NSMOOTH, NUPDATE, TIERS, export_plan, parquet_bytes


class Workload:
    name = ""
    kernel_spans: tuple = ()

    def __init__(self, spark, inp, work: str, tracer):
        self.spark, self.inp, self.work, self.tracer = spark, inp, work, tracer

    def _path(self, *p) -> str:
        return os.path.join(self.work, *p)

    def before(self, k: int) -> None:
        """Untimed set-up of op ``k``."""

    def run(self, k: int) -> None:
        raise NotImplementedError

    def check(self, k: int) -> list[str]:
        raise NotImplementedError

    def stored_bytes_per_raw_byte(self, k: int) -> float:
        raise NotImplementedError

    def after(self, k: int) -> None:
        """Untimed clean-up of op ``k``: its outputs and cached frames."""
        self.spark.catalog.clearCache()

    def probe_input(self):
        """(DataFrame, SmoothConfig or None) the probe UDFs read; None
        when the op runs no kernel."""
        raise NotImplementedError


class Build(Workload):
    """The resumable build: lineage.run_with_checkpoints (CLI ``smooth
    --lineage``) over the bucketed raw table."""

    name = "build"
    kernel_spans = ("tiers.materialize_rollup",)

    def run(self, k):
        from modape_spark import lineage
        from modape_spark.rollup import CFG_ALL

        raw = self.spark.read.parquet(self.inp.dirs["raw"])
        lineage.run_with_checkpoints(
            self.spark, raw, self._path(f"out{k}"), self._path(f"lin{k}"),
            CFG_ALL, n_buckets=32)

    def check(self, k):
        return check.check_build(self._path(f"out{k}"), self._path(f"lin{k}"),
                                 self.inp.n, self.inp.oracle,
                                 self.inp.sample_buckets)

    def stored_bytes_per_raw_byte(self, k):
        return parquet_bytes(self._path(f"out{k}")) / self.inp.raw_bytes

    def after(self, k):
        super().after(k)
        shutil.rmtree(self._path(f"out{k}"), ignore_errors=True)
        shutil.rmtree(self._path(f"lin{k}"), ignore_errors=True)

    def probe_input(self):
        from modape_spark.rollup import CFG_ALL

        raw = self.spark.read.parquet(self.inp.dirs["raw"])
        return raw.select("doc_id", "tokens", "n_tok", "source"), CFG_ALL


class Update(Workload):
    """One forward cycle on the compact store: append a 2-token suffix per
    doc (validated), write the raw table, run the windowed forward rollup
    and write its tail, then splice the tail into each compact tier."""

    name = "update"
    kernel_spans = ("incremental.incremental_rollup",)

    def before(self, k):
        for d in ("raw", "raw_next", "tail", "store"):
            shutil.rmtree(self._path(d), ignore_errors=True)
        shutil.copytree(self.inp.dirs["raw"], self._path("raw"))
        for t in TIERS:
            shutil.copytree(self.inp.dirs[t], self._path("store", t))

    def run(self, k):
        from modape_spark import incremental, tiers
        from modape_spark.rollup import CFG_ALL

        spark, span = self.spark, self.tracer.span
        with span("incremental.append_suffixes"):
            updated = incremental.append_suffixes(
                spark.read.parquet(self._path("raw")),
                spark.read.parquet(self.inp.dirs["batches"]), validate=True)
            updated.write.mode("overwrite").partitionBy("bucket") \
                .parquet(self._path("raw_next"))
        with span("incremental.incremental_rollup"):
            tail = incremental.incremental_rollup(
                spark.read.parquet(self._path("raw_next")), NSMOOTH, NUPDATE,
                CFG_ALL)
            tail.write.mode("overwrite").parquet(self._path("tail"))
        for t in TIERS:
            tiers.apply_tier_compact_update(
                spark, self._path("store", t), t,
                spark.read.parquet(self._path("tail")), NUPDATE)

    def check(self, k):
        return check.check_update(
            {t: self._path("store", t) for t in TIERS},
            self._path("raw_next"), self._path("tail"), self.inp.n,
            self.inp.oracle, self.inp.sample_buckets)

    def stored_bytes_per_raw_byte(self, k):
        return (sum(parquet_bytes(self._path("store", t)) for t in TIERS)
                / parquet_bytes(self._path("raw_next")))

    def probe_input(self):
        from dataclasses import replace

        from modape_spark.rollup import CFG_ALL

        raw = self.spark.read.parquet(self._path("raw_next"))
        return raw.select("doc_id", "tokens", "n_tok", "source"), \
            replace(CFG_ALL, nsmooth=NSMOOTH, nupdate=NUPDATE)


class Export(Workload):
    """Read-only CLI ``window --compact`` exports from the compact store:
    one per-date export and one full-year range export per op."""

    name = "export"

    def __init__(self, *a):
        super().__init__(*a)
        self.plan = export_plan(self.inp.seed)

    def before(self, k):
        for d in ("date", "range"):
            shutil.rmtree(self._path(d), ignore_errors=True)

    def run(self, k):
        from modape_spark import tiers

        p, spark, span = self.plan, self.spark, self.tracer.span
        with span("tiers.export_compact_date"):
            tiers.export_compact_date(
                spark, self.inp.dirs[p["date_tier"]], p["date_tier"],
                p["date"]).write.mode("overwrite").parquet(self._path("date"))
        with span("tiers.export_compact_range"):
            tiers.export_compact_range(
                spark, self.inp.dirs[p["range_tier"]], p["range_tier"],
                p["begin"], p["end"]).write.mode("overwrite") \
                .partitionBy("date").parquet(self._path("range"))

    def check(self, k):
        return check.check_export(self._path("date"), self._path("range"),
                                  self.inp.n, self.inp.oracle, self.plan,
                                  self.inp.lengths)

    def stored_bytes_per_raw_byte(self, k):
        # read-only: the ratio of the store the exports read
        return (sum(parquet_bytes(self.inp.dirs[t]) for t in TIERS)
                / self.inp.raw_bytes)

    def probe_input(self):
        t = self.plan["range_tier"]
        src = self.spark.read.parquet(self.inp.dirs[t])
        return src.select("doc_id", "source", "n_tok", f"{t}_dod"), None


WORKLOADS = {w.name: w for w in (Build, Update, Export)}
