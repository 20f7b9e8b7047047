"""Seeded inputs for the tier-lifecycle benchmark.

Everything here runs before the Spark session starts, so the first timed
op of a run meets a cold engine: no JVM, no Python workers, no codegen.

- ``--seed`` picks only the doc-id range; the tokens come from the repo's
  stateless generator (``modape_spark.fixtures``) unchanged.
- Tables are written with pyarrow in the catalog layout: one
  ``bucket=K`` directory per ``pmod(xxhash64(doc_id), 32)`` bucket.  The
  bucket hash is Spark's XXH64 (seed 42), reimplemented in numpy;
  ``tests/test_perfbench.py`` pins it against Spark.
- The kernel work of preparation (the compact tier store of ``update`` and
  ``export``, and every oracle) runs in a spawned process pool through the
  engine's own public kernel functions, so the main process never loads
  the C kernel before its timed set-up.
"""

from __future__ import annotations

import gc
import json
import multiprocessing
import os
from multiprocessing import resource_tracker
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_BUCKETS = 32          # CLI default (smooth --buckets)
BATCH_ROWS = 128        # session.ARROW_BATCH_ROWS: one kernel block
KEEP_TAIL = 64          # retention: raw rows trimmed to 64 tokens
SUFFIX = 2              # tokens appended per doc by one forward cycle
NSMOOTH, NUPDATE = 16, 4
ID_STRIDE = 1 << 20     # seed -> disjoint doc-id range
EXPORT_YEARS = range(2006, 2018)  # years only 742-long series reach
TIERS = ("smoothed", "dekad", "pentad")

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def first_id(seed: int) -> int:
    """First doc id of a seed's range (ids stay below 10^12, so every
    doc_id is the fixed-width ``doc%012d`` string)."""
    return (int(seed) % 900_000) * ID_STRIDE


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def spark_xxhash64(strings: list[str], seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64`` of UTF-8 strings shorter than 32 bytes, as
    signed int64 (XXH64.hashUnsafeBytes: 8-byte words, one 4-byte word,
    then single bytes, then the avalanche)."""
    raw = [s.encode() for s in strings]
    out = np.empty(len(raw), dtype=np.int64)
    lens = np.array([len(b) for b in raw])
    if lens.size and lens.max() >= 32:
        raise ValueError("spark_xxhash64 handles strings shorter than 32 bytes")
    u = np.uint64
    with np.errstate(over="ignore"):
        for n in np.unique(lens):
            sel = np.flatnonzero(lens == n)
            n = int(n)
            buf = np.frombuffer(b"".join(raw[i] for i in sel),
                                dtype=np.uint8).reshape(sel.size, n)
            h = np.full(sel.size, (seed + _P5 + n) & _M64, dtype=u)
            off = 0
            while off + 8 <= n:
                k = buf[:, off:off + 8].copy().view("<u8").ravel()
                h ^= _rotl(k * u(_P2), 31) * u(_P1)
                h = _rotl(h, 27) * u(_P1) + u(_P4)
                off += 8
            if off + 4 <= n:
                k = buf[:, off:off + 4].copy().view("<u4").ravel().astype(u)
                h ^= k * u(_P1)
                h = _rotl(h, 23) * u(_P2) + u(_P3)
                off += 4
            while off < n:
                h ^= buf[:, off].astype(u) * u(_P5)
                h = _rotl(h, 11) * u(_P1)
                off += 1
            h ^= h >> u(33)
            h *= u(_P2)
            h ^= h >> u(29)
            h *= u(_P3)
            h ^= h >> u(32)
            out[sel] = h.view(np.int64)
    return out


def buckets_of(doc_ids: list[str], n_buckets: int = N_BUCKETS) -> np.ndarray:
    """``pmod(xxhash64(doc_id), n_buckets)`` — tiers.with_bucket."""
    return np.mod(spark_xxhash64(doc_ids), n_buckets).astype(np.int32)


# ---------------------------------------------------------------- pool side


def _tokens_list(arrs, dtype=np.int16) -> pa.Array:
    lens = np.array([a.size for a in arrs], dtype=np.int64)
    off = np.zeros(len(arrs) + 1, dtype=np.int32)
    np.cumsum(lens, out=off[1:])
    flat = (np.concatenate(arrs).astype(dtype) if len(arrs)
            else np.empty(0, dtype=dtype))
    return pa.ListArray.from_arrays(pa.array(off), pa.array(flat))


def _raw_batch(doc_id, tokens, n_tok, source) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(list(doc_id), pa.string()), _tokens_list(tokens),
         pa.array(np.asarray(n_tok, dtype=np.int32)),
         pa.array(list(source), pa.string())],
        names=["doc_id", "tokens", "n_tok", "source"])


def _compact_rollup(raw: pa.RecordBatch) -> pa.RecordBatch:
    """The engine's kernel body (tiers.process_rollup_arrow, compact store)
    over one Arrow batch per 128-row block, as a Spark task would run it."""
    from modape_spark.rollup import CFG_ALL
    from modape_spark.tiers import process_rollup_arrow

    outs = [process_rollup_arrow(raw.slice(i, BATCH_ROWS), CFG_ALL,
                                 True, "compact")
            for i in range(0, raw.num_rows, BATCH_ROWS)]
    return pa.Table.from_batches(outs).combine_chunks().to_batches()[0]


def _chunk(workload: str, start: int, n: int) -> dict:
    """Generate rows [start, start+n) and derive the workload's tables."""
    from modape_spark.fixtures import local_sequences

    cols = local_sequences(n, start)
    tok = list(cols["tokens"])
    out = {}
    if workload == "update":
        hist = [t[:-SUFFIX] for t in tok]
        n_hist = np.array([h.size for h in hist], dtype=np.int32)
        out["store"] = _compact_rollup(_raw_batch(
            cols["doc_id"], hist, n_hist, cols["source"]))
        out["raw"] = _raw_batch(cols["doc_id"], [h[-KEEP_TAIL:] for h in hist],
                                n_hist, cols["source"])
        out["batches"] = pa.RecordBatch.from_arrays(
            [pa.array(list(cols["doc_id"]), pa.string()),
             pa.array(["fwd"] * n, pa.string()),
             pa.array(np.ones(n, dtype=np.int64)),
             _tokens_list([t[-SUFFIX:] for t in tok]),
             pa.array(n_hist)],
            names=["doc_id", "batch_id", "proc_ts", "tokens_suffix",
                   "start_offset"])
    else:
        out["raw"] = _raw_batch(cols["doc_id"], tok, cols["n_tok"],
                                cols["source"])
        if workload == "export":
            out["store"] = _compact_rollup(out["raw"])
    return out


def _oracle(workload: str, ids: list[int]) -> dict:
    """rollup.process_length_group on the sampled rows' generated tokens:
    the values every op's output is checked against."""
    from dataclasses import replace

    from modape_spark.constants import NODATA
    from modape_spark.fixtures import local_sequences
    from modape_spark.grids import grid_for_length
    from modape_spark.rollup import CFG_ALL, process_length_group

    fwd = replace(CFG_ALL, nsmooth=NSMOOTH, nupdate=NUPDATE)
    res = {}
    for i in ids:
        t = local_sequences(1, int(i))["tokens"][0].astype(np.float64)
        hist = t[:-SUFFIX] if workload == "update" else t
        full = process_length_group(hist[None, :], hist.size, CFG_ALL)
        row = {"n_tok": int(hist.size), "covered": bool(full.covered[0]),
               "sopt_log10": float(full.sopt_log10[0]),
               "smoothed": full.smoothed[0].tolist(),
               "dekad": full.interp[10][0].tolist(),
               "pentad": full.interp[5][0].tolist()}
        if workload == "update":
            # the forward run sees the trimmed history plus the suffix; the
            # store keeps its arrays, grown to the new axis with nodata,
            # and takes the last NUPDATE points of the recomputed tail
            phys = np.concatenate([hist[-KEEP_TAIL:], t[-SUFFIX:]])
            tail = process_length_group(phys[None, :], t.size, fwd)
            tails = {"smoothed": tail.smoothed[0], "dekad": tail.interp[10][0],
                     "pentad": tail.interp[5][0]}
            totals = {"smoothed": t.size,
                      "dekad": grid_for_length(t.size, 10).target_ix.size,
                      "pentad": grid_for_length(t.size, 5).target_ix.size}
            row["after"] = {}
            for tier, tl in tails.items():
                old = np.asarray(row[tier])
                arr = np.full(max(totals[tier], old.size), int(NODATA))
                arr[:old.size] = old
                arr[arr.size - NUPDATE:] = tl[tl.size - NUPDATE:]
                row["after"][tier] = arr.tolist()
            row["n_tok_after"] = int(t.size)
            row["tokens_after"] = phys.astype(int).tolist()
        res[int(i)] = row
    return res


def _warm_ckernel() -> bool:
    """Compile (or find cached) the C kernel .so before any timed set-up."""
    from modape_spark import ckernel

    return ckernel.get_lib() is not None


# -------------------------------------------------------------- driver side


@dataclass
class Inputs:
    seed: int
    n: int
    dirs: dict = field(default_factory=dict)     # pristine table dirs
    sample_buckets: list = field(default_factory=list)
    oracle: dict = field(default_factory=dict)
    lengths: dict = field(default_factory=dict)  # n_tok -> row count
    raw_bytes: int = 0
    ckernel_ok: bool = False


def doc_id(i: int) -> str:
    return f"doc{int(i):012d}"


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path)
               for f in fs if f.endswith(".parquet"))


def write_bucketed(table: pa.Table, buckets: np.ndarray, path: str,
                   lengths: list[int] | None = None) -> None:
    """One parquet file per bucket directory (Spark's zstd default), plus
    the engine's lengths sidecar when given."""
    for b in np.unique(buckets):
        d = os.path.join(path, f"bucket={int(b)}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table.take(pa.array(np.flatnonzero(buckets == b))),
                       os.path.join(d, "part-00000.parquet"),
                       compression="zstd", compression_level=3)
    if lengths is not None:
        with open(os.path.join(path, "_modape_meta.json"), "w") as f:
            json.dump({"lengths": sorted(int(n) for n in lengths)}, f)


def _store_columns() -> dict:
    from modape_spark.tiers import COMPACT_TIER_COLUMNS

    return COMPACT_TIER_COLUMNS


def prepare(workload: str, seed: int, n: int, root: str,
            n_sample: int = 48, procs: int = 4) -> Inputs:
    """Write the pristine inputs of one run under ``root`` and compute the
    oracle of a seeded sample of rows.  Deterministic in (seed, n)."""
    start = first_id(seed)
    inp = Inputs(seed, n)
    chunk = max(BATCH_ROWS, -(-n // (4 * procs)) // BATCH_ROWS * BATCH_ROWS)
    chunks = [(s, min(chunk, start + n - s))
             for s in range(start, start + n, chunk)]
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(procs)
    try:
        inp.ckernel_ok = pool.apply(_warm_ckernel)
        parts = pool.starmap(_chunk, [(workload, s, k) for s, k in chunks])
        # asked of the pool: importing tiers here would import pyspark
        # before the timed set-up
        cols = pool.apply(_store_columns)
        tables = {k: pa.Table.from_batches([p[k] for p in parts])
                  for k in parts[0]}
        ids = tables["raw"].column("doc_id").to_pylist()
        buckets = buckets_of(ids)
        rng = np.random.default_rng(seed)
        inp.sample_buckets = sorted(int(b) for b in rng.choice(
            N_BUCKETS, size=4, replace=False))
        cand = np.flatnonzero(np.isin(buckets, inp.sample_buckets))
        picked = rng.choice(cand, size=min(n_sample, cand.size), replace=False)
        sample = sorted(start + int(i) for i in picked)
        # oracle work split across the pool
        groups = [sample[i::procs] for i in range(procs)]
        for part in pool.starmap(_oracle, [(workload, g) for g in groups]):
            inp.oracle.update(part)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    # the spawn context's resource tracker ignores SIGTERM and would live
    # until this process exits: stop it once the pool's semaphores are gone
    del pool
    gc.collect()
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    ntok = tables["raw"].column("n_tok").to_numpy()
    inp.lengths = {int(k): int(v) for k, v in
                   zip(*np.unique(ntok, return_counts=True))}
    inp.dirs["raw"] = os.path.join(root, "raw")
    write_bucketed(tables["raw"], buckets, inp.dirs["raw"], inp.lengths)
    inp.raw_bytes = parquet_bytes(inp.dirs["raw"])
    if "store" in tables:
        for tier in TIERS:
            d = os.path.join(root, "store", tier)
            inp.dirs[tier] = d
            write_bucketed(tables["store"].select(cols[tier]), buckets, d,
                           inp.lengths)
    if "batches" in tables:
        inp.dirs["batches"] = os.path.join(root, "batches")
        os.makedirs(inp.dirs["batches"], exist_ok=True)
        pq.write_table(tables["batches"],
                       os.path.join(inp.dirs["batches"], "part-00000.parquet"),
                       compression="zstd", compression_level=3)
    return inp


def export_plan(seed: int) -> dict:
    """The fixed pair of exports one ``export`` op runs: a per-date export
    of the pentad tier and a full-year range export of the dekad tier.
    The seed picks the year and the date; every pick lies beyond the short
    series' axes, so each op's cost does not depend on the seed."""
    from modape_spark.tiers import dates_for_length

    rng = np.random.default_rng(int(seed) + 7)
    year = int(rng.choice(list(EXPORT_YEARS)))
    begin, end = f"{year}001", f"{year}366"
    pentads = [d for d in dates_for_length(742, "pentad")
               if begin <= d <= end]
    date = pentads[int(rng.integers(len(pentads)))]
    return {"date_tier": "pentad", "date": date,
            "range_tier": "dekad", "begin": begin, "end": end}
