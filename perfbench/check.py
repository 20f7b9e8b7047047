"""Output checks: every op's tables against the driver-side numpy oracle.

Each check reads the op's parquet output with pyarrow (no Spark job), so
checking never warms or loads the engine it measures.  A check returns a
list of error strings; an op fails when the list is not empty.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from inputs import TIERS, doc_id

MAX_ERRORS = 5


def row_count(path: str) -> int:
    """Rows of a parquet directory, from the file footers."""
    return sum(pq.ParquetFile(os.path.join(dp, f)).metadata.num_rows
               for dp, _, fs in os.walk(path)
               for f in fs if f.endswith(".parquet"))


def read_rows(path: str, ids, columns, buckets=None) -> dict:
    """{doc_id: row dict} for the sampled ids (bucket dirs pruned)."""
    dset = ds.dataset(path, format="parquet", partitioning="hive")
    flt = ds.field("doc_id").isin([doc_id(i) for i in ids])
    if buckets is not None and "bucket" in dset.schema.names:
        flt = flt & ds.field("bucket").isin(list(buckets))
    tab = dset.to_table(columns=["doc_id", *columns], filter=flt)
    return {r["doc_id"]: r for r in tab.to_pylist()}


def _decode(payload: bytes) -> list[int]:
    from modape_spark.compression import decode_dod_rows

    vals, _ = decode_dod_rows(np.frombuffer(payload, dtype=np.uint8),
                              np.array([0, len(payload)], dtype=np.int64))
    return vals.tolist()


def _same_float(a, b) -> bool:
    return (a is not None and b is not None
            and (np.float32(a) == np.float32(b)
                 or (math.isnan(a) and math.isnan(b))))


class Errors(list):
    def add(self, msg: str) -> None:
        if len(self) < MAX_ERRORS:
            self.append(msg)


def check_build(out_dir: str, lineage_dir: str, n: int, oracle: dict,
                buckets) -> list[str]:
    """run_with_checkpoints output: a full combined rollup (plain arrays and
    dod payloads) and one lineage row per bucket."""
    err = Errors()
    if (got := row_count(out_dir)) != n:
        err.add(f"build: {got} output rows, want {n}")
    lin = pq.read_table(lineage_dir, columns=["bucket", "rows"]).to_pylist()
    if sum(r["rows"] for r in lin) != n or len({r["bucket"] for r in lin}) != 32:
        err.add(f"build: lineage covers {len(lin)} buckets / "
                f"{sum(r['rows'] for r in lin)} rows, want 32 / {n}")
    cols = ["n_tok", "covered", "sopt_log10", *TIERS,
            *(f"{t}_dod" for t in TIERS), "dekad_total", "pentad_total"]
    rows = read_rows(out_dir, oracle, cols, buckets)
    for i, want in oracle.items():
        r = rows.get(doc_id(i))
        if r is None:
            err.add(f"build: {doc_id(i)} missing")
            continue
        if r["n_tok"] != want["n_tok"] or r["covered"] != want["covered"]:
            err.add(f"build: {doc_id(i)} n_tok/covered differ")
        if not _same_float(r["sopt_log10"], want["sopt_log10"]):
            err.add(f"build: {doc_id(i)} sopt_log10 {r['sopt_log10']} "
                    f"!= {want['sopt_log10']}")
        for t in TIERS:
            if r[t] != want[t] or _decode(r[f"{t}_dod"]) != want[t]:
                err.add(f"build: {doc_id(i)} {t} differs from the oracle")
        if (r["dekad_total"], r["pentad_total"]) != (
                len(want["dekad"]), len(want["pentad"])):
            err.add(f"build: {doc_id(i)} tier totals differ")
    return err


def check_update(store: dict, raw_dir: str, tail_dir: str, n: int,
                 oracle: dict, buckets) -> list[str]:
    """One forward cycle: the raw table carries the suffix, the tail has a
    row per doc, and every compact tier holds the spliced arrays."""
    err = Errors()
    for name, path in (("raw", raw_dir), ("tail", tail_dir),
                       *((t, store[t]) for t in TIERS)):
        if (got := row_count(path)) != n:
            err.add(f"update: {name} has {got} rows, want {n}")
    raw = read_rows(raw_dir, oracle, ["tokens", "n_tok"], buckets)
    tiers = {t: read_rows(store[t], oracle,
                          ["n_tok", f"{t}_dod"]
                          + ([f"{t}_total"] if t != "smoothed" else []),
                          buckets)
             for t in TIERS}
    for i, want in oracle.items():
        d = doc_id(i)
        r = raw.get(d)
        if r is None or r["tokens"] != want["tokens_after"] \
                or r["n_tok"] != want["n_tok_after"]:
            err.add(f"update: raw row {d} missing or not appended")
        for t in TIERS:
            r = tiers[t].get(d)
            if r is None:
                err.add(f"update: {t} row {d} missing")
                continue
            vals = _decode(r[f"{t}_dod"])
            if vals != want["after"][t]:
                err.add(f"update: {t} row {d} differs from the oracle splice")
            if r["n_tok"] != want["n_tok_after"] or (
                    t != "smoothed" and r[f"{t}_total"] != len(vals)):
                err.add(f"update: {t} row {d} grid keys not advanced")
    return err


def export_expect(oracle: dict, plan: dict) -> tuple[dict, dict]:
    """Expected per-date values and per-range (date, value) sets."""
    from modape_spark.tiers import dates_for_length

    date_vals, ranges = {}, {}
    for i, want in oracle.items():
        n = want["n_tok"]
        dates = dates_for_length(n, plan["date_tier"])
        arr = want[plan["date_tier"]]
        k = dates.index(plan["date"]) if plan["date"] in dates else None
        date_vals[doc_id(i)] = (arr[k] if k is not None and k < len(arr)
                                else None)
        arr = want[plan["range_tier"]]
        ranges[doc_id(i)] = sorted(
            (d, arr[k]) for k, d in enumerate(dates_for_length(
                n, plan["range_tier"])) if plan["begin"] <= d <= plan["end"])
    return date_vals, ranges


def range_rows(lengths: dict, plan: dict) -> int:
    from modape_spark.tiers import dates_for_length

    return sum(cnt * sum(plan["begin"] <= d <= plan["end"]
                         for d in dates_for_length(n, plan["range_tier"]))
               for n, cnt in lengths.items())


def check_export(date_dir: str, range_dir: str, n: int, oracle: dict,
                 plan: dict, lengths: dict) -> list[str]:
    err = Errors()
    if (got := row_count(date_dir)) != n:
        err.add(f"export: date export has {got} rows, want {n}")
    if (got := row_count(range_dir)) != (want := range_rows(lengths, plan)):
        err.add(f"export: range export has {got} rows, want {want}")
    date_vals, ranges = export_expect(oracle, plan)
    got_date = read_rows(date_dir, oracle, ["value"])
    dset = ds.dataset(range_dir, format="parquet", partitioning="hive")
    tab = dset.to_table(columns=["doc_id", "date", "value"],
                        filter=ds.field("doc_id").isin(list(ranges)))
    got_range: dict = {}
    for r in tab.to_pylist():
        got_range.setdefault(r["doc_id"], []).append(
            (str(r["date"]), r["value"]))
    for d, v in date_vals.items():
        if d not in got_date or got_date[d]["value"] != v:
            err.add(f"export: date value of {d} is "
                    f"{got_date.get(d, {}).get('value')}, want {v}")
        if sorted(got_range.get(d, [])) != ranges[d]:
            err.add(f"export: range rows of {d} differ from the oracle")
    return err
