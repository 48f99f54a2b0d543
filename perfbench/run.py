"""Benchmark entry point: one workload, one closed loop, one JSON result line.

    python3 perfbench/run.py --workload planted_louvain --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke          # every workload once, tiny inputs

Run from the root of a checkout. The run builds its seeded input (cached
under ``.bench_cache/``), starts one Spark driver on ``local[$(nproc)]``,
sets up (session start + input load + one untimed warm-up iteration), then
runs iterations back to back until ``--seconds`` have passed and checks the
last iteration's outputs against independent oracles (perfbench/gate.py).
All scratch files (Spark local dirs, JVM tmpdir, warehouse) stay under
``.bench_cache/`` and the driver JVM is stopped and waited for before exit.

``--trace 0`` prints every end-to-end metric; ``--trace 1`` alternates
untraced and traced iterations and prints the per-layer metrics derived from
the traced ones (see perfbench/trace.py and layers.py), plus the tracing
overhead. The last stdout line is always the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
CACHE = ROOT / ".bench_cache"
ITERATION_TIMEOUT_S = 120.0
RUN_DEADLINE_S = 150.0  # start no iteration that could end past this


def machine_env() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def configure_process(env: dict) -> dict:
    """Keep every file the run writes inside the checkout and size the
    driver to the machine. Must run before the JVM starts."""
    tmp = CACHE / f"tmp-{os.getpid()}"
    (tmp / "local").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    # get_spark defaults the driver heap to 24g; these inputs need far less
    heap_mb = min(1024, env["mem_total_mb"] // 8)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    return {
        "spark.local.dir": str(tmp / "local"),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # -Xms = -Xmx: a fixed-size heap, so peak RSS does not depend on
        # when the collector decided to grow it
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def stop_spark(spark) -> None:
    """Stop Spark, then close the gateway JVM's stdin (its exit signal) and
    wait for it to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def run_workload(wl, spark, seconds: float, trace: bool, t_process: float) -> dict:
    """Set-up + warm-up + timed loop + gate for one workload on a live
    session. Returns the raw measurements."""
    from perfbench import layers
    from perfbench.trace import Tracer, group_counts

    sc = spark.sparkContext
    tracer = Tracer(sc) if trace else None
    t0 = time.monotonic()
    if tracer:
        tracer.install()
        with tracer.span("setup", iteration="setup"):
            wl.setup(spark)
            warm = wl.iteration()
        tracer.uninstall()
    else:
        wl.setup(spark)
        warm = wl.iteration()
    setup_s = time.monotonic() - t0
    wl.release(warm)
    if trace:
        # The JVM keeps warming for a few iterations: the first after the
        # warm-up runs ~20 % slower than the fourth. The traced run spends a
        # second warm-up and orders its iterations U T T U (U = untraced,
        # T = traced), so what drift is left cancels out of the
        # traced-minus-untraced overhead.
        wl.release(wl.iteration())

    walls, untraced, traced, digests = [], [], [], []
    attempted = failed = 0
    last = None
    min_iterations = 4 if trace else 1
    t_loop = time.monotonic()
    i = 0
    while i < min_iterations or time.monotonic() - t_loop < seconds:
        expected = max(walls) if walls else 0.0
        if i > 0 and time.monotonic() - t_process + 1.2 * expected > RUN_DEADLINE_S:
            break
        is_traced = trace and i % 4 in (1, 2)
        attempted += 1
        if is_traced:
            tracer.install()
            wl.force_span = tracer.span
        elif trace:
            sc.setJobGroup(f"it{i}", "untraced iteration")
        try:
            t = time.monotonic()
            if is_traced:
                with tracer.span("iteration", iteration=f"it{i}"):
                    out = wl.iteration()
            else:
                out = wl.iteration()
            wall = time.monotonic() - t
        except Exception:
            traceback.print_exc()
            failed += 1
            i += 1
            continue
        finally:
            if is_traced:
                tracer.uninstall()
                del wl.force_span
        if wall > ITERATION_TIMEOUT_S:
            print(f"iteration {i} took {wall:.1f}s > {ITERATION_TIMEOUT_S}s", file=sys.stderr)
            failed += 1
        walls.append(wall)
        digests.append(wl.digests(out))
        if is_traced:
            tracer.collect_jobs([s for s in tracer.spans if s.iteration == f"it{i}"])
            traced.append((f"it{i}", wall, out))
        elif trace:
            untraced.append((group_counts(sc, f"it{i}"), wall, out))
        if last is not None:
            wl.release(last)
        last = out
        i += 1

    if last is None:
        return {"attempted": attempted, "failed": failed, "setup_s": setup_s}
    # correctness gate: once, outside every timer, on the last outputs
    attempted += 1
    t_gate = time.monotonic()
    try:
        errors = wl.check(last, digests)
    except Exception:
        traceback.print_exc()
        errors = ["gate raised"]
    for e in errors:
        print("CHECK FAILED:", e, file=sys.stderr)
    failed += bool(errors)
    modularity, supersteps = wl.quality(last)
    gate_s = time.monotonic() - t_gate
    result = {
        "attempted": attempted, "failed": failed, "setup_s": setup_s,
        "walls": walls, "gate_s": gate_s, "modularity": modularity, "supersteps": supersteps,
        "directed_edges": wl.input_graph(last).stats.num_directed_edges,
        "peak_rss_mb": jvm_peak_rss_mb(spark),
    }
    if trace and not (traced and untraced):
        result["failed"] += 1  # a failed iteration left one side of U T T U empty
    elif trace:
        result["layers"] = layers.per_layer(wl, tracer, untraced, traced)
        result["self_time_s"] = layers.self_times(tracer)
        result["spans"] = [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "iteration": s.iteration, "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks}
            for s in tracer.spans
        ]
    return result


def end_to_end(r: dict) -> dict:
    job_s = statistics.median(r["walls"])
    return {
        "job_s": (job_s, "s"),
        "edges_per_s": (r["directed_edges"] / job_s, "1/s"),
        "setup_s": (r["setup_s"], "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "modularity": (r["modularity"], "Q"),
        "supersteps": (r["supersteps"], "count"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one iteration per workload, gate only")
    args = ap.parse_args(argv)
    t_process = time.monotonic()

    if not (ROOT / "graftlouvain" / "__init__.py").is_file():
        print(f"no graftlouvain package under {ROOT}: run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.smoke:
        names = [args.workload] if args.workload else list(WORKLOADS)
    elif args.workload in WORKLOADS:
        names = [args.workload]
    else:
        print(f"--workload must be one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    env = machine_env()
    conf = configure_process(env)
    workloads = [WORKLOADS[n]("smoke" if args.smoke else "full") for n in names]
    gen_s = {wl.name: wl.prepare(CACHE, args.seed) for wl in workloads}

    import graftlouvain.session as session_mod

    env["load_before"] = loadavg()
    t = time.monotonic()
    spark = session_mod.get_spark(
        app_name="perfbench", master=f"local[{env['nproc']}]",
        shuffle_partitions=env["nproc"], extra_conf=conf,
    )
    get_spark_s = time.monotonic() - t
    results = {}
    try:
        env["spark"] = spark.version
        env["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        for wl in workloads:
            try:
                r = run_workload(wl, spark, 0 if args.smoke else args.seconds,
                                 bool(args.trace), t_process)
            finally:
                wl.close()
            r["setup_s"] += get_spark_s
            results[wl.name] = r
    finally:
        stop_spark(spark)
        env["load_after"] = loadavg()
        shutil.rmtree(Path(os.environ["TMPDIR"]), ignore_errors=True)
    env["input_gen_s"] = gen_s
    print(json.dumps({"env": env}))

    if args.smoke:
        bad = {n: r["failed"] for n, r in results.items() if r["failed"] or "walls" not in r}
        print(json.dumps({"smoke": "fail" if bad else "ok", "failed": bad}))
        return 1 if bad else 0

    r = results[names[0]]
    metrics = {}
    if "walls" in r:
        print(json.dumps({"job_s_samples": r["walls"], "gate_s": r["gate_s"]}))
        if args.trace and "layers" in r:
            spans = CACHE / "traces" / f"{names[0]}-s{args.seed}.jsonl"
            spans.parent.mkdir(parents=True, exist_ok=True)
            spans.write_text("".join(json.dumps(s) + "\n" for s in r["spans"]))
            print(json.dumps({"self_time_s": r["self_time_s"], "spans_file": str(spans)}))
            metrics = r["layers"]
            metrics["session.get_spark_s"] = (get_spark_s, "s")
        elif not args.trace:
            metrics = end_to_end(r)
    print(json.dumps({
        "correct": r["failed"] == 0 and "walls" in r,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
