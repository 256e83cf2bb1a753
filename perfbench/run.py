#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload dump_refresh --seed 1 --seconds 20 --trace 0

Order of a run: generate the inputs from the seed (untimed, before Spark
starts); start one fresh Spark session on ``local[<cores>]`` and do the
workload's set-up (together ``setup_s``); run the workload's untimed
warm-up passes; run ``--seconds`` worth of timed passes (a count fixed
per workload, see ``timed_passes``); check the outputs against truth
computed apart from the program; stop Spark and wait for its processes
to end.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` each plain pass is followed by a traced pass of the same
work and the last line carries the per-layer metrics plus the tracing
overhead. Either way a fuller record (per-pass samples, host steal,
spans) is written under ``.bench_results/`` at the root of the checkout.

Everything the run writes stays inside the checkout: inputs, Spark's
local dirs and temp files live under ``.bench_work/`` and are removed at
the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def timed_passes(wl, seconds: float) -> int:
    """The timed window as a count of passes: ``seconds`` over the
    workload's nominal pass time. Every run of a workload then does the
    same work, whatever the host's speed, so medians compare the same
    pass positions and the failed share is the same in every run."""
    return max(1, round(seconds / wl.PASS_NOMINAL_S))


def _stop_spark(spark, tree) -> None:
    """Stop Spark, end its JVM, and wait until no child process is left."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(tree.pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)


def run(args, work: str) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    from wikidata_to_surrealdb_spark.session import get_spark

    import meter
    import workloads

    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    tree = meter.ProcTree()
    steal0 = meter.host_steal_s()
    tree.start_sampling(every_s=0.5)
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    session_s = time.perf_counter() - t0
    try:
        meters = (tree, meter.StatusStore(spark))
        setups = wl.setup(spark)
        setup_s = session_s + (statistics.median(setups) if setups else 0.0)
        warmup = [wl.warm_pass(spark) for _ in range(wl.WARMUP)]
        tracer = meter.Tracer()
        passes, traced_walls, layers = [], [], []
        for _ in range(timed_passes(wl, args.seconds)):
            passes.append(wl.run_pass(spark, meters))
            if args.trace:
                t1 = time.perf_counter()
                layers.append(wl.traced_pass(spark, meters, tracer))
                traced_walls.append(time.perf_counter() - t1)
        if args.trace:
            # passes still speed up as the JIT warms: a closing plain pass
            # brackets the traced ones, so the overhead is not flattered
            passes.append(wl.run_pass(spark, meters))
        peak_mb = tree.stop_sampling()
        errors, attempted, failed = wl.check()
    finally:
        _stop_spark(spark, tree)
    steal_s = meter.host_steal_s() - steal0

    pass_s = statistics.median(p["wall"] for p in passes)
    measured = {
        "setup_s": setup_s,
        "program.pass_s": pass_s,
        "pass_cpu_s": statistics.median(p["cpu"] for p in passes),
        "program.task_cpu_s": statistics.median(p["task_cpu"] for p in passes),
        "program.peak_rss_mb": peak_mb,
        "session.start_s": session_s,
        "host.steal_s": steal_s,
    }
    measured.update({n: statistics.median(p["layer"][n] for p in passes) for n in passes[0].get("layer", ())})
    if args.trace:
        measured.update({n: statistics.median(m[n] for m in layers) for n in layers[0]})
        measured["trace.overhead_s"] = statistics.median(traced_walls) - pass_s
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    # a per-layer metric of a layer the workload never enters reads 0
    shown = bench["per_layer"] if args.trace else bench["end_to_end"]
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]} for m in shown},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": cores, "inputs": wl.inputs, "generate_s": gen_s, "session_s": session_s,
        "setups": setups, "warmup_walls": warmup, "host_steal_s": steal_s, "errors": errors,
        "measured": measured,
        "passes": [{k: v for k, v in p.items() if k in ("wall", "cpu", "task_cpu", "layer", "script_ms")}
                   for p in passes],
        "traced_walls": traced_walls,
        "spans": tracer.spans,
        "result": result,
    }
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("dump_refresh", "pipeline_ops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's shuffle/spill dirs, the JVM's and Python's temp files and
    # the streaming checkpoints all go under the work dir
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # a capped driver heap keeps resident memory from following the JVM's
    # heap-growth choices (and leaves room on a shared host)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    try:
        result, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".bench_results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, default=str)
    for e in record["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    print(f"record: {path}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
