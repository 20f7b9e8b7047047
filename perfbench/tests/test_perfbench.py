"""The benchmark's own tests: seeded inputs, the bucket hash, and the output
check.  Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

import check  # noqa: E402
import inputs  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from modape_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cores=2, driver_memory="2g",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _fingerprint(spark, raw_dir):
    from modape_spark.lineage import input_fingerprint

    fp = input_fingerprint(spark.read.parquet(raw_dir), inputs.N_BUCKETS)
    return sorted(tuple(r) for r in fp.collect())


def test_bucket_hash_matches_spark(spark):
    from pyspark.sql import functions as F

    ids = [inputs.doc_id(i) for i in range(0, 3000, 7)] + ["", "a", "x" * 31]
    df = spark.createDataFrame([(s,) for s in ids], "s string")
    got = [r[0] for r in df.select(
        F.pmod(F.xxhash64("s"), F.lit(32)).cast("int")).collect()]
    assert got == inputs.buckets_of(ids).tolist()


def test_seed_alone_determines_inputs(spark, tmp_path):
    dirs = {}
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        dirs[name] = inputs.prepare("build", seed, 256, str(tmp_path / name),
                                    n_sample=8, procs=2).dirs["raw"]
    fa, fb, fc = (_fingerprint(spark, dirs[k]) for k in "abc")
    assert fa == fb
    assert fa != fc


@pytest.fixture(scope="module")
def build_output(spark, tmp_path_factory):
    """One real build op on 64 sequences, checked clean."""
    from modape_spark.lineage import run_with_checkpoints
    from modape_spark.rollup import CFG_ALL

    base = tmp_path_factory.mktemp("build")
    inp = inputs.prepare("build", 9, 64, str(base / "in"), procs=2)
    out, lin = str(base / "out"), str(base / "lin")
    run_with_checkpoints(spark, spark.read.parquet(inp.dirs["raw"]), out, lin,
                         CFG_ALL, n_buckets=inputs.N_BUCKETS)
    assert check.check_build(out, lin, inp.n, inp.oracle,
                             inp.sample_buckets) == []
    return inp, out, lin


def _rewrite_sampled_file(out_dir, sampled, edit):
    """Apply ``edit(table, row)`` to the file holding a sampled row."""
    for dp, _, fs in os.walk(out_dir):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(dp, f)
            tab = pq.read_table(path)
            ids = tab.column("doc_id").to_pylist()
            hit = [k for k, d in enumerate(ids) if d in sampled]
            if hit:
                pq.write_table(edit(tab, hit[0]), path)
                return ids[hit[0]]
    raise AssertionError("no sampled row found")


def test_check_rejects_corrupted_tier_value(build_output, tmp_path):
    import shutil

    inp, out, lin = build_output
    bad = str(tmp_path / "out")
    shutil.copytree(out, bad)

    def corrupt(tab, row):
        dekad = tab.column("dekad").to_pylist()
        dekad[row][len(dekad[row]) // 2] += 1
        k = tab.schema.get_field_index("dekad")
        field = tab.schema.field(k)
        return tab.set_column(k, field, pa.array(dekad, field.type))

    doc = _rewrite_sampled_file(
        bad, {inputs.doc_id(i) for i in inp.oracle}, corrupt)
    errors = check.check_build(bad, lin, inp.n, inp.oracle, inp.sample_buckets)
    assert any(doc in e and "dekad" in e for e in errors), errors


def test_check_rejects_missing_row(build_output, tmp_path):
    import shutil

    inp, out, lin = build_output
    bad = str(tmp_path / "out")
    shutil.copytree(out, bad)

    def drop(tab, row):
        return tab.filter(pc.not_equal(tab.column("doc_id"),
                                       tab.column("doc_id")[row]))

    doc = _rewrite_sampled_file(
        bad, {inputs.doc_id(i) for i in inp.oracle}, drop)
    errors = check.check_build(bad, lin, inp.n, inp.oracle, inp.sample_buckets)
    assert any("output rows" in e for e in errors), errors
    assert any(doc in e and "missing" in e for e in errors), errors
