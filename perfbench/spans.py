"""Traced runs: spans around the engine's public functions, Spark's status
store and codegen counters per op, worker-side probe UDFs, and
driver-side single-threaded layer timings.

Spans are kept in memory and reduced once when the run ends.  Nothing
under ``modape_spark/`` changes: the tracer swaps module attributes for
wrappers and restores them afterwards.
"""

from __future__ import annotations

import contextlib
import re
import statistics
import time

import numpy as np
from py4j.protocol import Py4JJavaError

from inputs import KEEP_TAIL, NSMOOTH, NUPDATE, SUFFIX


class Tracer:
    """Records (name, start, end, parent, op id) spans while ``on``."""

    # (module, attribute, span name); names imported into another module
    # are patched there too, since the caller resolves them there
    PATCHES = [
        ("lineage", "run_with_checkpoints", "lineage.run_with_checkpoints"),
        ("lineage", "resume_plan", "lineage.resume_plan"),
        ("lineage", "materialize_rollup", "tiers.materialize_rollup"),
        ("tiers", "materialize_rollup", "tiers.materialize_rollup"),
        ("tiers", "write_table_meta", "tiers.write_table_meta"),
        ("incremental", "validate_append", "incremental.validate_append"),
        ("tiers", "apply_tier_compact_update",
         "tiers.apply_tier_compact_update"),
    ]

    def __init__(self, sql_count=None):
        self.on = False
        self.op = -1
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self._sql_count = sql_count   # SQL execution id watermark, or None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "exec0": self._sql_count() if self._sql_count else 0,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["exec1"] = self._sql_count() if self._sql_count else 0
            self._stack.pop()

    def install(self) -> None:
        import importlib

        for mod, attr, name in self.PATCHES:
            m = importlib.import_module(f"modape_spark.{mod}")
            fn = getattr(m, attr)
            self._saved.append((m, attr, fn))
            setattr(m, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        for m, attr, fn in reversed(self._saved):
            setattr(m, attr, fn)
        self._saved.clear()

    def _wrap(self, fn, name):
        def wrapper(*a, **k):
            with self.span(name):
                return fn(*a, **k)
        wrapper.__wrapped__ = fn
        return wrapper

    # --------------------------------------------------------- reductions

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def totals(self, op: int) -> dict:
        """{span name: summed duration} for one op."""
        out: dict = {}
        for s in self.op_spans(op):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def self_time(self, op: int, name: str) -> float:
        """Span time minus the part of it that its child spans cover."""
        spans = self.op_spans(op)
        idx = {id(s): k for k, s in enumerate(self.spans)}
        total = 0.0
        for s in spans:
            if s["name"] != name:
                continue
            me = idx[id(s)]
            kids = [(c["start"], c["end"]) for c in spans
                    if c["parent"] == me]
            total += (s["end"] - s["start"]) - _union(kids)
        return total

    def coverage(self, op: int) -> float:
        """Share of the op's wall time that its named top-level spans
        cover."""
        spans = self.op_spans(op)
        root = [s for s in spans if s["name"] == "op"][0]
        me = self.spans.index(root)
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == me]
        return _union(kids) / (root["end"] - root["start"])

    def exec_ranges(self, op: int, names) -> list[tuple[int, int]]:
        return [(s["exec0"], s["exec1"]) for s in self.op_spans(op)
                if s["name"] in names]


def _union(iv) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------ Spark status store

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Value of an aggregated SQL metric string ("1,234", "1.2 MiB",
    "total (min, med, max ...)\\n3.4 s (...)")."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-\d,.]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class SparkStatus:
    """Per-op deltas from the status store and Janino's CodegenMetrics,
    read through py4j."""

    STAGE_FIELDS = ("numTasks", "numFailedTasks", "executorRunTime",
                    "executorCpuTime", "inputBytes", "outputBytes",
                    "shuffleWriteBytes", "memoryBytesSpilled",
                    "diskBytesSpilled", "jvmGcTime")

    def __init__(self, spark):
        sc = spark.sparkContext
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.tracker = sc.statusTracker()
        self.codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.mark()

    def sql_count(self) -> int:
        return int(self.sql.executionsCount())

    def _codegen(self) -> tuple[int, float]:
        h = self.codegen.METRIC_COMPILATION_TIME()
        count = int(h.getCount())
        snap = h.getSnapshot()
        # the reservoir keeps every sample up to 1028 compilations
        total = (float(sum(snap.getValues())) if count <= 1028
                 else float(snap.getMean()) * count)
        return count, total

    def mark(self) -> None:
        self._jobs = set(self.tracker.getJobIdsForGroup())
        self._sql0 = self.sql_count()
        self._cg = self._codegen()

    def delta(self, python_ranges=None, scan_path: str | None = None) -> dict:
        """Counters of everything that ran since ``mark``.  Python node
        metrics are summed over all MapInArrow nodes; ``kernel_rows`` only
        over executions inside ``python_ranges``.  Bytes scanned come from
        the scan nodes' "size of files read" (a stage's inputBytes misses
        the scans that feed a Python runner's writer thread);
        ``path_bytes`` counts the scans of ``scan_path`` alone."""
        jobs = sorted(set(self.tracker.getJobIdsForGroup()) - self._jobs)
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {f: 0 for f in self.STAGE_FIELDS}
        out["stages"] = 0
        for sid in sorted(stages):
            try:
                sd = self.store.lastStageAttempt(int(sid))
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if str(sd.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            for f in self.STAGE_FIELDS:
                out[f] += int(getattr(sd, f)())
        out["jobs"] = len(jobs)
        py = {"sent": 0.0, "received": 0.0, "rows": 0.0, "kernel_rows": 0.0}
        out["scan_bytes"] = out["path_bytes"] = 0.0
        end = self.sql_count()
        for eid in range(self._sql0, end):
            try:
                graph = self.sql.planGraph(eid)
                values = self.sql.executionMetrics(eid)
            except Py4JJavaError:  # execution evicted from the store
                continue
            in_kernel = any(a <= eid < b for a, b in (python_ranges or []))
            nodes = graph.allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                kind = str(node.name())
                is_scan = kind.startswith("Scan")
                if not is_scan and "MapInArrow" not in kind:
                    continue
                on_path = bool(is_scan and scan_path
                               and scan_path in str(node.desc()))
                metrics = node.metrics()
                for m in range(metrics.size()):
                    met = metrics.apply(m)
                    opt = values.get(met.accumulatorId())
                    if opt.isEmpty():
                        continue
                    v = parse_metric(str(opt.get()))
                    name = str(met.name())
                    if is_scan:
                        if name == "size of files read":
                            out["scan_bytes"] += v
                            out["path_bytes"] += v if on_path else 0.0
                    elif name == "data sent to Python workers":
                        py["sent"] += v
                    elif name == "data returned from Python workers":
                        py["received"] += v
                    elif name == "number of output rows":
                        py["rows"] += v
                        if in_kernel:
                            py["kernel_rows"] += v
        out["python"] = py
        cg = self._codegen()
        out["codegen_classes"] = cg[0] - self._cg[0]
        out["codegen_ms"] = cg[1] - self._cg[1]
        return out


# ------------------------------------------------------------ probe UDFs


def probe_feed_and_kernel(spark, df, cfg) -> dict:
    """Two benchmark-owned passes over the op's input: a no-op mapInArrow
    (scan + JVM->Python Arrow feed only) and, unless ``cfg`` is None, one
    that calls tiers.process_rollup_arrow (full store) on every batch and
    times the call."""
    import pyarrow as pa

    acc_ns = spark.sparkContext.accumulator(0)

    def noop(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_arrays([pa.array([0], pa.int64())],
                                         names=["rows"])

    def kernel(batches):
        from modape_spark.tiers import process_rollup_arrow

        for b in batches:
            if not b.num_rows:
                continue
            t = time.perf_counter_ns()
            process_rollup_arrow(b, cfg, True, "full")
            acc_ns.add(time.perf_counter_ns() - t)
        yield pa.RecordBatch.from_arrays([pa.array([0], pa.int64())],
                                         names=["rows"])

    t = time.perf_counter()
    df.mapInArrow(noop, "rows long").collect()
    out = {"feed_s": time.perf_counter() - t, "kernel_busy_s": 0.0}
    if cfg is not None:
        df.mapInArrow(kernel, "rows long").collect()
        out["kernel_busy_s"] = acc_ns.value / 1e9
    return out


# ------------------------------------------------- driver-side timings


def driver_layers(tokens: list[np.ndarray], reps: int = 5) -> dict:
    """Single-threaded timings of kernels, rollup and compression on a
    block of the workload's own 742-long rows (median of ``reps``)."""
    from dataclasses import replace

    from modape_spark import ckernel, compression, kernels, rollup
    from modape_spark.rollup import CFG_ALL

    Y = np.stack([t.astype(np.float64) for t in tokens])
    R, n = Y.shape
    keys = ("kernels.lag1corr_batch", "kernels.ws2doptvp_batch",
            "rollup.tinterpolate_multi")
    timers = {k: [] for k in keys}   # per rep, full-length pass only
    cur = dict.fromkeys(keys, 0.0)
    solved = [0]
    saved = []

    def timed(mod, attr, key):
        fn = getattr(mod, attr)
        saved.append((mod, attr, fn))

        def w(*a, **k):
            t = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                cur[key] += time.perf_counter() - t
        setattr(mod, attr, w)

    def counted(attr):
        fn = getattr(ckernel, attr)
        saved.append((ckernel, attr, fn))

        def w(Y, *a, **k):
            solved[0] += Y.shape[0]
            return fn(Y, *a, **k)
        setattr(ckernel, attr, w)

    timed(kernels, "lag1corr_batch", "kernels.lag1corr_batch")
    timed(kernels, "ws2doptvp_batch", "kernels.ws2doptvp_batch")
    timed(rollup, "tinterpolate_multi", "rollup.tinterpolate_multi")
    counted("ws2d_rows_c")
    counted("envelope_rows_c")
    full, windowed, enc, dec = [], [], [], []
    fwd = replace(CFG_ALL, nsmooth=NSMOOTH, nupdate=NUPDATE)
    solved_full = solved_win = 0
    try:
        for _ in range(reps):
            cur.update(dict.fromkeys(keys, 0.0))
            solved[0] = 0
            t = time.perf_counter()
            res = rollup.process_length_group(Y, n, CFG_ALL)
            full.append(time.perf_counter() - t)
            solved_full = solved[0]
            for k in keys:
                timers[k].append(cur[k])
            solved[0] = 0
            t = time.perf_counter()
            # the forward run's physical rows: trimmed history + suffix
            rollup.process_length_group(Y[:, -(KEEP_TAIL + SUFFIX):], n, fwd)
            windowed.append(time.perf_counter() - t)
            solved_win = solved[0]
            t = time.perf_counter()
            blobs = compression.encode_dod_rows(res.smoothed)
            enc.append(time.perf_counter() - t)
            data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
            boffs = np.zeros(R + 1, dtype=np.int64)
            np.cumsum([len(b) for b in blobs], out=boffs[1:])
            t = time.perf_counter()
            compression.decode_dod_rows(data, boffs)
            dec.append(time.perf_counter() - t)
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)
    us = 1e6 / R
    med = statistics.median
    out = {k + ".us_per_seq": med(v) * us for k, v in timers.items()}
    out.update({
        "rollup.process_length_group.us_per_seq": med(full) * us,
        "rollup.process_length_group_windowed.us_per_seq": med(windowed) * us,
        "compression.encode_dod_rows.us_per_seq": med(enc) * us,
        "compression.decode_dod_rows.us_per_seq": med(dec) * us,
        "compression.dod_bytes_per_point": data.size / res.smoothed.size,
        "_solved_full_per_seq": solved_full / R,
        "_solved_windowed_per_seq": solved_win / R,
    })
    return out
