#!/usr/bin/env python3
"""Tier-lifecycle benchmark of modape_spark: resumable build, forward
update and compact export, one closed-loop client, one op at a time.

    python3 perfbench/run.py --workload build|update|export --seed N \
        --seconds S --trace 0|1

Run it from the repository root.  Each run starts a fresh process on
``local[$(nproc)]``, writes its seeded inputs under ``.perfbench_work/``,
times the engine's set-up, then runs ops until ``--seconds`` have passed
and at least MIN_OPS of them ran, checking every op's output against a
numpy oracle.  Lines starting with ``#`` are for humans; the last line of
standard output is the JSON result.  ``--trace 1`` reports the per-layer
metrics instead of the end-to-end ones (see NOTES.md).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_ROWS = 4096
# ops per run: the first op plus the steady ops that fit the run budget
# (see NOTES.md); a traced run alternates traced and untraced ops
MIN_OPS = {"build": 2, "update": 2, "export": 6}
MIN_OPS_TRACED = 4
DEADLINE_S = 150.0     # no op may be due to end later (a run ends in 180 s)
CORES = len(os.sched_getaffinity(0))   # nproc

END_TO_END = {"setup_s": "s", "first_op_s": "s", "seq_per_s": "seq/s",
              "cpu_s_per_kseq": "s", "stored_bytes_per_raw_byte": "ratio",
              "peak_rss_mb": "MB"}


T0 = time.perf_counter()


def say(msg: str) -> None:
    print(f"# [{time.perf_counter() - T0:6.1f} s] {msg}", flush=True)


def environment(workload: str, seed: int) -> dict:
    """Keep every file the run writes inside the checkout: its own temp
    dir (and the C kernel's .so cache under it), Spark local dirs, the
    JVM's tmpdir; make the checkout importable by Spark's workers."""
    base = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(base, "tmp")
    for d in (run_dir, tmp, os.path.join(run_dir, "jvm-tmp"),
              os.path.join(run_dir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return {"run": run_dir, "tmp": tmp}


def so_cache(tmp: str) -> list[str]:
    return glob.glob(os.path.join(tmp, "modape_spark_ckernel", "*.so"))


def setup_engine(workload: str, run_dir: str):
    """The timed set-up: session.get_spark plus the C kernel loaded."""
    t0 = time.perf_counter()
    from modape_spark import session

    spark = session.get_spark(
        app_name=f"perfbench-{workload}", cores=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'jvm-tmp')} "
                "-XX:-UsePerfData",
        })
    t1 = time.perf_counter()
    from modape_spark import ckernel

    if ckernel.get_lib() is None:
        raise RuntimeError("the C kernel did not load")
    t2 = time.perf_counter()
    return spark, {"setup_s": t2 - t0, "get_spark_s": t1 - t0,
                   "get_lib_s": t2 - t1}


def stop_engine(spark) -> None:
    """Stop Spark, its JVM and every Python worker, and wait for them."""
    import host
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass  # reaped below
    SparkContext._gateway = SparkContext._jvm = None
    left = host.reap()
    if left:
        say(f"reaped {len(left)} leftover process(es)")


def run_ops(wl, args, tracer, status, pss) -> list[dict]:
    import host

    ops = []
    window0 = None
    need = MIN_OPS_TRACED if args.trace else MIN_OPS[wl.name]
    k = 0
    while True:
        wl.before(k)
        traced = bool(args.trace) and k % 2 == 0
        tracer.on, tracer.op = traced, k
        if status is not None:
            status.mark()
        rec = {"k": k, "traced": traced, "errors": []}
        stat0 = host.cpu_times()
        cpu0 = host.tree_cpu_s()
        pss.active = True
        t = time.perf_counter()
        window0 = window0 or t
        try:
            with tracer.span("op"):
                wl.run(k)
        except Exception as exc:  # an op that raises is a failed op
            traceback.print_exc()
            rec["errors"].append(f"op raised {type(exc).__name__}: {exc}")
        rec["wall_s"] = time.perf_counter() - t
        pss.active = False
        rec["cpu_s"] = host.tree_cpu_s() - cpu0
        rec["steal"] = host.steal_share(stat0, host.cpu_times())
        tracer.on = False
        if traced:
            rec["spark"] = status.delta(tracer.exec_ranges(k, wl.kernel_spans),
                                        wl.inp.dirs["raw"])
        if not rec["errors"]:
            try:
                rec["errors"] = wl.check(k)
                rec["stored_ratio"] = wl.stored_bytes_per_raw_byte(k)
            except Exception as exc:  # unreadable output fails the op
                traceback.print_exc()
                rec["errors"].append(
                    f"check raised {type(exc).__name__}: {exc}")
        ops.append(rec)
        say(f"op {k}{' traced' if traced else ''}: {rec['wall_s']:.3f} s wall, "
            f"{rec['cpu_s']:.2f} cpu-s, host steal {100 * rec['steal']:.1f}%, "
            + ("check ok" if not rec["errors"] else
               "FAILED: " + "; ".join(rec["errors"])))
        now = time.perf_counter()
        if ((k + 1 >= need and now - window0 >= args.seconds)
                or now - T0 + rec["wall_s"] > DEADLINE_S):
            # the last op's tables stay: the traced probes read them
            return ops
        wl.after(k)
        k += 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "update", "export"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "modape_spark", "tiers.py")):
        print(f"perfbench: no modape_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    env = environment(args.workload, args.seed)
    try:
        return measure(args, env)
    finally:
        import host

        host.reap()  # anything a failed run left behind
        shutil.rmtree(env["run"], ignore_errors=True)


def measure(args, env) -> int:
    import host
    import inputs

    cached = bool(so_cache(env["tmp"]))
    t = time.perf_counter()
    inp = inputs.prepare(args.workload, args.seed, N_ROWS,
                         os.path.join(env["run"], "inputs"))
    say(f"inputs: {N_ROWS} sequences from id {inputs.first_id(args.seed)}"
        f", prepared in {time.perf_counter() - t:.1f} s (untimed)")
    if not inp.ckernel_ok:
        print("perfbench: the C kernel could not be built", file=sys.stderr)
        return 3
    so_mtime = max(os.path.getmtime(p) for p in so_cache(env["tmp"]))
    t_setup = time.time()
    spark, setup = setup_engine(args.workload, env["run"])
    say(f"setup {setup['setup_s']:.3f} s (get_spark {setup['get_spark_s']:.3f}"
        f" s, ckernel {setup['get_lib_s']:.4f} s); ckernel .so cache hit at "
        f"setup: {so_mtime < t_setup}; compiled during preparation: "
        f"{not cached}")
    from lifecycle import WORKLOADS
    from spans import SparkStatus, Tracer

    status = SparkStatus(spark) if args.trace else None
    tracer = Tracer(status.sql_count if status else None)
    if args.trace:
        tracer.install()
    wl = WORKLOADS[args.workload](spark, inp, env["run"], tracer)
    from pyspark import SparkContext

    cpu0 = host.cpu_times()
    try:
        with host.PeakPss(SparkContext._gateway.proc.pid) as pss:
            ops = run_ops(wl, args, tracer, status, pss)
        steal = host.steal_share(cpu0, host.cpu_times())
        layers = (traced_layers(wl, ops, tracer, setup, pss.peak_jvm)
                  if args.trace else None)
    finally:
        tracer.uninstall()
        stop_engine(spark)
    say("engine stopped")
    say(f"host steal share during the ops: {100 * steal:.2f}%; peak PSS "
        f"without the JVM {pss.peak:.0f} MB over {pss.peak_procs} processes;"
        f" JVM peak RSS {pss.peak_jvm:.0f} MB")
    failed = sum(1 for r in ops if r["errors"])
    # the first op is cold, and the earlier half of the warm ops still
    # settle (JIT): the later half of the warm ops is steady
    steady = [r for r in ops[1 + (len(ops) - 1) // 2:] if not r["errors"]]
    say("steady-op rule: the later half of the ops after the first (warm "
        "ops keep getting faster for several ops, see NOTES.md). steady "
        "walls: " + ", ".join(f"{r['wall_s']:.3f}" for r in steady))
    if args.trace:
        metrics = layers
    else:
        walls = [r["wall_s"] for r in steady]
        cpus = [r["cpu_s"] for r in steady]
        metrics = {
            "setup_s": setup["setup_s"],
            "first_op_s": ops[0]["wall_s"],
            "seq_per_s": N_ROWS / statistics.median(walls) if walls else 0.0,
            "cpu_s_per_kseq": (statistics.median(cpus) / (N_ROWS / 1000)
                               if cpus else 0.0),
            "stored_bytes_per_raw_byte": statistics.median(
                [r["stored_ratio"] for r in ops if "stored_ratio" in r] or [0]),
            "peak_rss_mb": pss.peak,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in metrics.items()}
    print(json.dumps({"correct": failed == 0 and bool(steady),
                      "attempted": len(ops), "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def traced_layers(wl, ops, tracer, setup, jvm_peak_rss_mb) -> dict:
    """Per-layer metrics of a traced run (units in NOTES.md)."""
    import inputs
    from spans import driver_layers, probe_feed_and_kernel

    n = wl.inp.n
    med = statistics.median
    traced = [r for r in ops[1:] if r["traced"] and not r["errors"]] \
        or [ops[0]]
    untraced = [r for r in ops[1:] if not r["traced"] and not r["errors"]]
    span_names = ["tiers.materialize_rollup", "tiers.write_table_meta",
                  "tiers.apply_tier_compact_update",
                  "tiers.export_compact_date", "tiers.export_compact_range",
                  "lineage.resume_plan", "incremental.validate_append",
                  "incremental.append_suffixes",
                  "incremental.incremental_rollup"]
    m: dict = {"session.get_spark_s": (setup["get_spark_s"], "s"),
               "ckernel.get_lib_s": (setup["get_lib_s"], "s")}
    for name in span_names:
        m[f"{name}_s"] = (med([tracer.totals(r["k"]).get(name, 0.0)
                               for r in traced]), "s")
    m["lineage.run_with_checkpoints.self_s"] = (med(
        [tracer.self_time(r["k"], "lineage.run_with_checkpoints")
         for r in traced]), "s")

    def sp(key, scale=1.0):
        return med([r["spark"][key] * scale for r in traced])

    m["lineage.raw_bytes_read_per_raw_byte"] = (
        sp("path_bytes") / wl.inp.raw_bytes if wl.name == "build" else 0.0,
        "ratio")
    m["tiers.kernel_rows_per_seq"] = (
        med([r["spark"]["python"]["kernel_rows"] for r in traced]) / n,
        "count")
    first = ops[0]["spark"]
    run_s = sp("executorRunTime", 1e-3)
    m.update({
        "spark.jobs": (sp("jobs"), "count"),
        "spark.stages": (sp("stages"), "count"),
        "spark.tasks": (sp("numTasks"), "count"),
        "spark.failed_tasks": (sum(r["spark"]["numFailedTasks"]
                                   for r in ops if "spark" in r), "count"),
        "spark.codegen_compile_ms": (first["codegen_ms"], "ms"),
        "spark.codegen_classes": (first["codegen_classes"], "count"),
        "spark.executor_run_s": (run_s, "s"),
        "spark.executor_cpu_s": (sp("executorCpuTime", 1e-9), "s"),
        "spark.core_idle_share": (1 - run_s / (med(
            [r["wall_s"] for r in traced]) * CORES), "share"),
        "spark.input_bytes": (sp("scan_bytes"), "B"),
        "spark.shuffle_write_bytes": (sp("shuffleWriteBytes"), "B"),
        "spark.python_bytes_sent": (med(
            [r["spark"]["python"]["sent"] for r in traced]), "B"),
        "spark.python_bytes_received": (med(
            [r["spark"]["python"]["received"] for r in traced]), "B"),
        "spark.output_bytes": (sp("outputBytes"), "B"),
        "spark.jvm_gc_s": (sp("jvmGcTime", 1e-3), "s"),
        "spark.spill_bytes": (med([r["spark"]["memoryBytesSpilled"]
                                   + r["spark"]["diskBytesSpilled"]
                                   for r in traced]), "B"),
        "spark.jvm_peak_rss_mb": (jvm_peak_rss_mb, "MB"),
    })
    # worker-side layers: benchmark-owned probe UDFs over the op's input
    df, cfg = wl.probe_input()
    probe = probe_feed_and_kernel(wl.spark, df, cfg)
    m["tiers.feed_s"] = (probe["feed_s"], "s")
    m["tiers.kernel_busy_s"] = (probe["kernel_busy_s"], "s")
    # driver-side single-threaded timings on the workload's own rows
    from modape_spark.fixtures import local_sequences

    block = [t for t in local_sequences(512, inputs.first_id(wl.inp.seed))
             ["tokens"] if t.size == 742][:128]
    dl = driver_layers(block)
    solved = {"build": dl.pop("_solved_full_per_seq"),
              "update": dl.pop("_solved_windowed_per_seq"), "export": 0.0}
    m["ckernel.rows_solved_per_seq"] = (solved[wl.name], "count")
    for k, v in dl.items():
        m[k] = (v, "B" if k.endswith("bytes_per_point") else "us")
    m["trace.overhead_share"] = (
        med([r["wall_s"] for r in traced]) / med([r["wall_s"]
                                                  for r in untraced]) - 1
        if untraced else 0.0, "share")
    m["trace.span_coverage"] = (med([tracer.coverage(r["k"])
                                     for r in traced]), "share")
    say(f"tracing overhead {100 * m['trace.overhead_share'][0]:+.1f}% "
        f"(traced vs untraced steady op), span coverage of op wall "
        f"{100 * m['trace.span_coverage'][0]:.1f}%")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
