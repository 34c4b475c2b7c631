"""Benchmark of the linkage engine's production path.

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. One process starts Spark on ``local[<cores>]``
(``get_spark`` + ``warm_python_workers``), generates the workload's inputs
from ``--seed``, runs warm-up operations, and then repeats the workload's
operation for ``--seconds``; every operation's output is checked against the
planted truth. With ``--trace 1`` a separate traced run follows, calling each
layer's public function under its own span and Spark job group.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). Spans and per-run
detail are written to ``.perfbench_out/`` when the run ends. Work files live
under ``.perfbench_work/`` and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER_MEM = "2g"

# (name, unit, better) of the end-to-end metrics, reported with --trace 0
END_TO_END = [
    ("wall_s", "s", "lower"),
    ("records_per_s", "1/s", "higher"),
    ("setup_s", "s", "lower"),
    ("peak_exec_mem_mb", "MB", "lower"),
    ("accuracy", "ratio", "higher"),
]

COMMON = [
    ("wall_s", "s", "lower"),
    ("exec_run_s", "s", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("py_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("rows_out", "rows", "lower"),
    ("stages", "count", "lower"),
    ("task_skew", "ratio", "lower"),
]
SPARK_LAYERS = {
    "session": [("start_s", "s", "lower"), ("warm_s", "s", "lower")],
    "normalize": [],
    "blocking": [("max_block_rows", "rows", "lower"), ("hot_blocks", "count", "lower")],
    "pairs": [("emitted_rows", "rows", "lower"), ("dedup_ratio", "ratio", "higher")],
    "payload": [],
    "arrow": [],
    "scoring": [("exact_share", "ratio", "higher"), ("match_yield", "ratio", "higher")],
    "closest": [],
    "clustering": [("rounds", "count", "lower"), ("edges_max_round", "rows", "lower")],
    "plans": [
        ("checkpoint_mb", "MB", "lower"),
        ("checkpoint_bytes_per_input_byte", "ratio", "lower"),
    ],
}
KERNEL = [
    ("wall_s", "s", "lower"),
    ("exit_identical", "count", "higher"),
    ("exit_ldiff", "count", "higher"),
    ("hist_kills", "count", "higher"),
    ("dp_pairs", "count", "lower"),
    ("dp_cells", "count", "lower"),
    ("pairs_per_s_1core", "1/s", "higher"),
]
TRACE = [
    ("layer_sum_s", "s", "lower"),
    ("untraced_wall_s", "s", "lower"),
    ("overhead_s", "s", "lower"),
    ("sum_ratio", "ratio", "lower"),
    ("self_s", "s", "lower"),
]


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, reported with --trace 1;
    a layer the workload does not run reports zeros."""
    out = []
    for layer, extra in SPARK_LAYERS.items():
        out += [(f"{layer}.{n}", u, b) for n, u, b in COMMON + extra]
    out += [(f"kernel.{n}", u, b) for n, u, b in KERNEL]
    out += [(f"trace.{n}", u, b) for n, u, b in TRACE]
    out.append(("host.steal_share", "ratio", "lower"))
    return out


def _environment(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the work dir, and
    give Spark one task thread per core."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        "-Duser.timezone=UTC' pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _median(values: list) -> float:
    return statistics.median(values) if values else 0.0


def measure(args, work: str) -> dict:
    import tracing
    import workloads
    from levenshtein_spark.session import get_spark, release_caches, warm_python_workers

    wl = workloads.WORKLOADS[args.workload]()
    steal0 = tracing.cpu_times()
    t0 = time.perf_counter()
    # input generation is pure Python; a child process runs it alongside the
    # JVM start and the Python-worker warm-up (in a thread it contended with
    # their py4j calls for the GIL and slowed start-up by ~5 s). The child
    # exits once the task is done, and is joined at interpreter exit. It is
    # forked while this process has no other threads yet; unlike spawn, fork
    # starts no resource-tracker process that would outlive the benchmark.
    pool = ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork"))
    generated = pool.submit(wl.generate, args.seed)
    pool.shutdown(wait=False)
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tracer = tracing.Tracer(sc, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with tracer.span("session") as warm:
            warm_python_workers(spark)
        with tracer.span("inputs"):
            wl.prepare(spark, work, generated.result())
        session = {
            "start_s": start_s,
            "warm_s": tracer.wall(warm),
            **tracing.stage_summary(sc, tracing.group_stages(sc, warm["group"])),
            "rows_out": 0,
        }
        session["wall_s"] = session["start_s"] + session["warm_s"]

        for i in range(wl.warmup_ops):
            with tracer.span("warmup"):
                try:
                    wl.check(wl.run(spark, f"warmup{i}", warmup=True))
                except Exception:
                    traceback.print_exc()  # the measured operations count failures
            release_caches(include_pinned=True)
        setup_s = time.perf_counter() - t0

        ops: list[dict] = []
        first = None
        failed = 0
        t_meas = time.perf_counter()
        while not ops or time.perf_counter() - t_meas < args.seconds:
            name = f"op{len(ops)}"
            with tracer.span(name) as rec:
                try:
                    result = wl.run(spark, name)
                except Exception:
                    traceback.print_exc()
                    result = None
            op = {"wall_s": tracer.wall(rec), "ok": False}
            if not ops:
                first = result
            if result is not None:
                stages = tracing.group_stages(sc, rec["group"])
                op["peak_exec_mem_mb"] = tracing.peak_exec_mem_mb(stages)
                try:
                    op.update(wl.check(result))
                except Exception:
                    traceback.print_exc()
            release_caches(include_pinned=True)
            failed += not op["ok"]
            ops.append(op)

        # the output is deterministic: every operation must return what the
        # first one did, and that answer gets one deeper check per run
        ref = ops[0].get("fingerprint")
        try:
            verified = first is not None and wl.verify(first)
        except Exception:
            traceback.print_exc()
            verified = False
        for op in ops:
            if op["ok"] and not (verified and op.get("fingerprint") == ref):
                op["ok"] = False
                failed += 1

        done = [o for o in ops if "accuracy" in o]  # ran and was checked
        wall = _median([o["wall_s"] for o in done])
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "records": wl.records,
            "input_bytes": wl.input_bytes,
            "ops": ops,
            "attempted": len(ops),
            "failed": failed,
            "verified": verified,
            "e2e": {
                "wall_s": wall,
                "records_per_s": wl.records / wall if wall else 0.0,
                "setup_s": setup_s,
                "peak_exec_mem_mb": _median([o["peak_exec_mem_mb"] for o in done]),
                "accuracy": _median([o.get("accuracy", 0.0) for o in ops]),
            },
        }

        if args.trace:
            with tracer.span("traced_run") as root:
                try:
                    layers, result = wl.traced(spark, tracer, root["id"])
                except Exception:
                    traceback.print_exc()
                    layers, result = {}, {"ok": False}
            # the traced run must reproduce the measured operations' output
            if result.get("fingerprint") != ref:
                result["ok"] = False
            report["attempted"] += 1
            report["failed"] += not result["ok"]
            report["traced_check"] = result
            layer_sum = sum(layers.get(n, {}).get("wall_s", 0.0) for n in wl.sum_layers)
            layers["session"] = session
            layers["trace"] = {
                "layer_sum_s": layer_sum,
                "untraced_wall_s": wall,
                "overhead_s": layer_sum - wall,
                "sum_ratio": layer_sum / wall if wall else 0.0,
                "self_s": tracer.self_time(root),
            }
            report["layers"] = layers
        report["kernel_pairs_per_s_1core"] = tracing.kernel_clock()
        report["steal_share"] = tracing.steal_share(steal0, tracing.cpu_times())
        report["spans"] = tracer.spans
        return report
    finally:
        _stop_spark(spark)


def layer_values(report: dict) -> dict:
    layers = report["layers"]
    layers.setdefault("kernel", {})["pairs_per_s_1core"] = report["kernel_pairs_per_s_1core"]
    layers["host"] = {"steal_share": report["steal_share"]}
    values = {}
    for name, _, _ in per_layer_metrics():
        layer, metric = name.split(".", 1)
        values[name] = float(layers.get(layer, {}).get(metric, 0.0))
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "levenshtein_spark", "__init__.py")):
        print(f"levenshtein_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    try:
        report = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{report['spans'][0]['run_id']}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)

    e2e = report["e2e"]
    n_ok = report["attempted"] - report["failed"]
    print(f"{args.workload} seed={args.seed}: {report['records']} records, "
          f"{n_ok}/{report['attempted']} operations correct "
          f"(error_rate {report['failed'] / report['attempted']:.4f})")
    for name, unit, _ in END_TO_END:
        print(f"  {name:<34} {e2e[name]:.6g} {unit}")
    walls = [o["wall_s"] for o in report["ops"]]
    print(f"  op walls (s): {', '.join(f'{w:.3f}' for w in walls)}")
    for key in ("fingerprint", "checkpoint_bytes_per_input_byte"):
        vals = [o[key] for o in report["ops"] if key in o]
        if vals:
            print(f"  {key}: {', '.join(map(str, sorted(set(vals))))}")
    print(f"  kernel pairs/s (1 core, fixed mix): {report['kernel_pairs_per_s_1core']:.0f}; "
          f"steal share {report['steal_share']:.4f}")

    if args.trace:
        metrics = layer_values(report)
        ratio = metrics["trace.sum_ratio"]
        print(f"  traced layer sum {metrics['trace.layer_sum_s']:.3f} s vs untraced "
              f"{metrics['trace.untraced_wall_s']:.3f} s (ratio {ratio:.3f}, "
              f"{'within' if abs(ratio - 1) <= 0.10 else 'OUTSIDE'} 10%)")
        units = {n: u for n, u, _ in per_layer_metrics()}
    else:
        metrics = e2e
        units = {n: u for n, u, _ in END_TO_END}
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
