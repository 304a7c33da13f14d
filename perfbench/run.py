"""Benchmark of the tiling engine: one command, one workload per call.

    python3 perfbench/run.py --workload points_z13_sparse --seed 1 --seconds 5 --trace 0

Run it from the repository root. One client issues one operation at a time
(closed loop) against Spark local[nproc]; every operation's output is checked.
With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics, and spans plus the full layer
breakdown are written to ``.perfbench/trace/``. Human-readable lines before
the last one give every workload-specific metric with its unit.

Run state (fixture cache, Spark scratch, stored tiles) lives under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_env(root: str, run_dir: str, work: str) -> dict[str, str]:
    """Fit Spark to this host from outside the package: cores, driver
    memory, run-private scratch, and the repository on the workers' path."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem_mib = min(8192, max(1024, mem_kib // 1024 // 4))
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{mem_mib}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_FIXTURE_DIR": os.path.join(work, "fixtures"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    return env


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def fmt_dist(xs) -> str:
    """Median plus the highest percentile the sample supports (max here:
    a run holds fewer than eleven operations)."""
    return f"median {median(xs):.6g} max {max(xs):.6g} n={len(xs)}"


def layer_metrics(spark, tracer, wl, traced, untraced_s) -> dict:
    """The per-layer breakdown (medians over the traced operations), a
    superset of BENCHMARK.json's per-layer metrics."""
    from tracing import drain_listener_bus, spark_counters

    drain_listener_bus(spark)
    extras = wl.traced_extras(tracer, traced)
    drain_listener_bus(spark)
    rows = []
    for op in traced + wl.extra_ops:
        sub = tracer.subtree(op.span_id)
        root = sub[0]
        wall = root["end"] - root["start"]
        by_layer: dict[str, list[dict]] = {}
        for s in sub[1:]:
            by_layer.setdefault(s["name"].split(".")[0], []).append(s)
        row = {}
        if not op.extra:
            c = spark_counters(spark, [s["group"] for s in sub])
            row.update({
                "op.wall_s": wall,
                "op.plan_s": sum(s["end"] - s["start"] for s in sub if s["name"].endswith(".plan")),
                "op.run_s": sum(s["end"] - s["start"] for s in sub if s["name"].endswith(".run")),
                "op.s_per_job": wall / max(1, c["jobs"]),
                **{f"op.{k}": float(c[k]) for k in (
                    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                    "shuffle_bytes", "shuffle_records", "failed_tasks")},
            })
        for layer, spans in by_layer.items():
            lc = spark_counters(spark, [s["group"] for s in spans])
            plan = sum(s["end"] - s["start"] for s in spans if s["name"].endswith(".plan"))
            run = sum(s["end"] - s["start"] for s in spans if s["name"].endswith(".run"))
            row[f"{layer}.plan_s"] = plan
            row[f"{layer}.run_s"] = run
            row[f"{layer}.share"] = (plan + run) / wall
            row[f"{layer}.s_per_job"] = (plan + run) / max(1, lc["jobs"])
            for k in ("jobs", "stages", "python_s", "python_bytes_in", "python_bytes_out",
                      "shuffle_bytes", "shuffle_records", "broadcast_bytes",
                      "failed_tasks", "executor_run_s"):
                row[f"{layer}.{k}"] = float(lc[k])
            row[f"{layer}.python_share"] = lc["python_s"] / lc["executor_run_s"] \
                if lc["executor_run_s"] else 0.0
            if layer == "encode":
                row["encode.input_scan_ratio"] = lc["scan_rows"] / wl.rows
            if layer == "pip":
                row["pip.candidates_per_match"] = op.stats["joined"] / op.stats["inside"]
            if layer == "knn":
                row["knn.candidates_per_result"] = lc["join_rows"] / (wl.K * wl.QUERIES)
        rows.append(row)
    keys = sorted({k for r in rows for k in r})
    detail = {k: median([r[k] for r in rows if k in r]) for k in keys}
    detail["trace.overhead_share"] = median([o.total_s for o in traced]) / untraced_s - 1.0
    detail.update(extras)
    spans = tracer.spans
    detail["session.start_s"] = next(s["end"] - s["start"] for s in spans if s["name"] == "session.start")
    detail["sources.load_s"] = next(s["end"] - s["start"] for s in spans if s["name"] == "sources.load")
    if "compression.compress_tiles_per_s" in detail:
        detail["compression.compress_us_per_tile"] = 1e6 / detail["compression.compress_tiles_per_s"]
        detail["compression.decompress_us_per_tile"] = 1e6 / detail["compression.decompress_tiles_per_s"]
    if "geometry.clip_simplify_geoms_per_s" in detail:
        detail["geometry.clip_simplify_us_per_geom"] = 1e6 / detail["geometry.clip_simplify_geoms_per_s"]
    return detail


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until it has ended."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    jvm.terminate()
    jvm.wait(timeout=60)


def build_fixture(rows: int) -> None:
    """Generate the FIXTURES.md images table (in its own process, so the
    measured run starts from a cold JVM like every other run)."""
    from mapnik_vector_tile_spark.session import get_spark
    from mapnik_vector_tile_spark.sources import images

    spark = get_spark(app_name="perfbench-fixture")
    try:
        images.ensure_images(spark, rows, os.environ["SPARK_GRAFT_FIXTURE_DIR"])
    finally:
        stop_spark(spark)


def ensure_fixture(root: str, rows: int) -> float:
    """Seconds spent generating the fixture; 0 when it is already there."""
    from mapnik_vector_tile_spark.sources import images

    path = images.fixture_path(rows, os.environ["SPARK_GRAFT_FIXTURE_DIR"])
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return 0.0
    t0 = time.perf_counter()
    code = f"import sys; sys.path[:0] = [{HERE!r}, {root!r}]; import run; run.build_fixture({rows})"
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True)
    return time.perf_counter() - t0


def run(args, root: str) -> int:
    from pyspark import SparkContext

    import workloads as W
    from mapnik_vector_tile_spark.session import get_spark
    from tracing import ProcTree, Tracer

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)  # metric names and units
    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, "runs", run_id)
    env = host_env(root, run_dir, work)
    tmp = env["TMPDIR"]
    tracer = Tracer(run_id, enabled=bool(args.trace))
    off = Tracer(run_id, enabled=False)
    fixture_build_s = ensure_fixture(root, W.ROWS)

    t0, driver_cpu0 = time.perf_counter(), time.process_time()
    with tracer.span("session.start", layer="session"):
        spark = get_spark(
            app_name="perfbench",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                                          "-XX:-UseDynamicNumberOfCompilerThreads"},
        )
    session_s = time.perf_counter() - t0
    driver_setup_cpu_s = time.process_time() - driver_cpu0
    tracer.bind(spark)
    jvm_pid = SparkContext._gateway.proc.pid
    attempted = failed = 0
    try:
        with ProcTree(jvm_pid) as procs:
            wl = W.WORKLOADS[args.workload](
                spark, args.seed, run_dir, int(env["SPARK_GRAFT_CPUS"])
            )
            wl.name = args.workload
            wl.driver_cpu = procs.driver_cpu_s
            t0, driver_cpu0 = time.perf_counter(), procs.driver_cpu_s()
            with tracer.span("sources.load", layer="sources.images"):
                wl.load()
            load_s = time.perf_counter() - t0
            driver_setup_cpu_s += procs.driver_cpu_s() - driver_cpu0
            t0, cpu0 = time.perf_counter(), procs.cpu_s()
            wl.prepare()
            prepare_s, prepare_cpu_s = time.perf_counter() - t0, procs.cpu_s() - cpu0

            def one(tr, out: list) -> None:
                nonlocal attempted, failed
                attempted += 1
                # JIT compilation left over from the single warm-up varies
                # from run to run and is not the operation's work: left out
                cpu0 = procs.cpu_s() - procs.jit_cpu_s()
                try:
                    op = wl.op(tr)
                    op.cpu_s = procs.cpu_s() - procs.jit_cpu_s() - cpu0 + op.driver_cpu_s
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    traceback.print_exc()
                    failed += 1
                    return
                if not op.ok:
                    print("check failed: " + "; ".join(op.errors), file=sys.stderr)
                    failed += 1
                out.append(op)

            t0 = time.perf_counter()
            driver_setup_cpu_s += wl.warm_up(off).driver_cpu_s
            warmup_s = time.perf_counter() - t0
            setup_wall_s = session_s + load_s + warmup_s
            # CPU time of the engine's processes from JVM launch to here,
            # less the expectations' Spark job, plus this process's CPU time
            # over session start, load and the warm-up's timed parts:
            # steadier than the wall clock on a host whose neighbours take a
            # varying share of the CPUs
            setup_s = procs.cpu_s() - prepare_cpu_s + driver_setup_cpu_s
            print(f"set-up: session {session_s:.2f}s, load {load_s:.2f}s, warm-up {warmup_s:.2f}s "
                  f"(untimed: fixture build {fixture_build_s:.2f}s, expectations {prepare_s:.2f}s)",
                  file=sys.stderr)

            # untraced operations; a traced run interleaves traced ones
            # (U T U T U ...) so both kinds see the same warm-up drift
            ops, traced = [], []
            start = time.perf_counter()
            while True:
                one(off, ops)
                if args.trace:
                    one(tracer, traced)
                if time.perf_counter() - start >= args.seconds:
                    break
            if args.trace:
                one(off, ops)
            peak_rss_mb = procs.peak_rss / 2**20
        ops_s = [o.total_s for o in ops] or [float("nan")]
        ops_cpu_s = [o.cpu_s for o in ops] or [float("nan")]

        if args.trace:
            if not traced:
                print("no traced operation completed", file=sys.stderr)
                return 1
            detail = layer_metrics(spark, tracer, wl, traced, median(ops_s))
            detail["memory.peak_rss_mb"] = peak_rss_mb
            for o in wl.extra_ops:
                attempted += 1
                if not o.ok:
                    print("check failed: " + "; ".join(o.errors), file=sys.stderr)
                    failed += 1
            for k in sorted(detail):
                print(f"layer {args.workload} {k} {detail[k]:.6g}")
            path = os.path.join(work, "trace", f"{run_id}.json")
            tracer.write(path, {"workload": args.workload, "seed": args.seed, "layers": detail})
            print(f"spans written to {os.path.relpath(path, root)}")
            # a layer this workload does not call did no work: 0
            metrics = {m["name"]: {"value": float(detail.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in spec["per_layer"]}

        report = {
            "setup_s": (setup_s, "s"),
            "setup_wall_s": (setup_wall_s, "s"),
            "op_s": (median(ops_s), "s"),
            "op_cpu_s": (median(ops_cpu_s), "s"),
            "op_driver_cpu_s": (median([o.driver_cpu_s for o in ops]), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "fixture_build_s": (fixture_build_s, "s"),
            "failed_ops_share": (failed / attempted, "share"),
        }
        for k, v in report.items():
            print(f"metric {args.workload} {k} {v[0]:.6g} {v[1]}")
        print(f"metric {args.workload} op_s {fmt_dist(ops_s)} s")
        print(f"metric {args.workload} op_cpu_s {fmt_dist(ops_cpu_s)} s")
        for name, (vals, unit) in (wl.headline(ops) if ops else {}).items():
            print(f"metric {args.workload} {name} {fmt_dist(vals)} {unit}")
        if not args.trace:
            metrics = {m["name"]: {"value": report[m["name"]][0], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mapnik_vector_tile_spark", "__init__.py")):
        print("perfbench: run from the repository root (mapnik_vector_tile_spark/ not found "
              "in the working directory)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    return run(args, root)


if __name__ == "__main__":
    sys.exit(main())
