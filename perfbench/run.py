"""Benchmark runner: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload pure_formats --seed 1 --seconds 15 --trace 0

Run from the repository root. One process builds a ``local[N]`` session
through ``session.get_spark`` with N = the cores this process may run on,
generates its inputs from the seed, warms up with one untimed pass of the
workload's own operations, then runs passes in a closed loop until
``--seconds`` have elapsed (always finishing the pass in progress). After
the loop it checks outputs against their oracles, untimed.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes: traced passes tag every layer call with a
Spark job group and read Spark's status stores after each call; the
per-layer metrics come from the traced passes, and the traced-minus-
untraced difference is reported as the tracing overhead.

Everything the run writes (inputs, Spark scratch and local dirs, JVM temp
files, the pipeline's warehouse) lives in ``.perfbench_run/`` under the
repository root and is removed at exit. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: JVM heap of the driver: small enough to share a 4-core box, and fixed
#: (-Xms = -Xmx) so that peak RSS does not depend on when the collector
#: decides to grow the heap.
DRIVER_MEMORY = "2g"
CODEC_METRICS = [
    f"codec.{fmt}_{way}_s" for way in ("decode", "encode") for fmt in ("parquet", "orc")
] + [
    f"codec.{c}_mb_s" for c in
    ("brotli_decode", "zstd_decode", "snappy_decode", "brotli_encode")
]


def _process_start() -> float:
    """Seconds since boot at which this process started."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of the library, Spark and the JVM into
    ``run_dir``; returns the Spark conf that carries the JVM-side ones."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": jvm_opts,  # the JVM spark-submit runs first
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "PERFBENCH_RUN": run_dir,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    })
    os.environ.pop("SDEP_BENCH_REUSE_FIXTURES", None)
    sys.path[:0] = [ROOT, HERE]
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{DRIVER_MEMORY}",
    }


def _marked_pids(run_dir: str) -> list[int]:
    """Processes (other than this one) started with this run's marker."""
    marker = f"PERFBENCH_RUN={run_dir}\0".encode()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if marker in f.read():
                    pids.append(int(entry))
        except OSError:
            pass
    return pids


def _stop_spark(spark, run_dir: str) -> None:
    """Stop the session and the JVM, then wait for every process the JVM
    started (Python worker daemons) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while _marked_pids(run_dir):
        if time.monotonic() > deadline:
            for pid in _marked_pids(run_dir):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that still has at
    least ten samples above it, or None with fewer than 20 samples."""
    n = len(values)
    if n < 20:
        return None
    pct = math.floor(100 * (n - 10) / n)
    return pct, statistics.quantiles(values, n=100)[pct - 1]


def _geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _summarise(passes: list[list[tuple[str, float]]]) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for ops in passes:
        for op, t in ops:
            by_op.setdefault(op, []).append(t)
    return {
        "pass_s": statistics.median(sum(t for _, t in ops) for ops in passes),
        "op_geomean_s": _geomean([statistics.median(v) for v in by_op.values()]),
        "by_op": {op: statistics.median(v) for op, v in by_op.items()},
    }


def _phase_metrics(phases: dict, passes) -> dict[str, float]:
    """The workload's own phase times, as medians over passes: a phase of
    one operation name is timed per call, a mix of several per pass."""
    out = {}
    for metric, names in phases.items():
        if len(names) == 1:
            vals = [t for ops in passes for op, t in ops if op in names]
        else:
            vals = [sum(t for op, t in ops if op in names) for ops in passes]
        out[metric] = statistics.median(vals)
    return out


def _unit(name: str) -> str:
    if name.endswith("_mb_s"):
        return "MB/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes_per_row"):
        return "B/row"
    if "bytes" in name:
        return "B"
    if name.endswith("amplification"):
        return "ratio"
    return "count"


def _layer_metrics(traced_passes) -> dict[str, float]:
    """Per-layer metrics: medians over traced passes of per-pass sums."""
    from sparkstats import CallStats

    rows = []
    for _, traces, extra in traced_passes:
        layer: dict[str, CallStats] = {}
        for name, st in traces:
            layer.setdefault(name, CallStats())
            layer[name] += st
        ops = CallStats()  # every call of the pass itself
        pipe = CallStats()
        for name, st in layer.items():
            if name != "sources.read_table":
                ops += st
            if name.startswith("pipeline."):
                pipe += st
        build = layer.get("catalog.build", CallStats())
        read = layer.get("sources.read_table", CallStats())
        rows.append({
            "catalog.build_s": build.wall_s,
            "catalog.eager_jobs": build.jobs,
            "sources.read_table_s": read.wall_s,
            "sources.read_table_jobs": read.jobs,
            "pipeline.jobs": pipe.jobs,
            "pipeline.job_s": pipe.job_s,
            "pipeline.driver_s": pipe.wall_s - pipe.job_s,
            "pipeline.rewritten_partitions": extra.get("rewritten_partitions", 0),
            "pipeline.bytes_written": pipe.output_bytes,
            "pipeline.write_amplification": extra.get("write_amplification", 0),
            "plan.exchanges": ops.exchanges,
            "plan.broadcasts": ops.broadcasts,
            "plan.shuffle_write_bytes": ops.shuffle_write_bytes,
            "plan.spill_bytes": ops.spill_bytes,
            "jvm.tasks": ops.tasks,
            "jvm.task_run_s": ops.task_run_s,
            "jvm.task_cpu_s": ops.task_cpu_s,
            "jvm.gc_s": ops.gc_s,
            "jvm.input_bytes": ops.input_bytes,
            "jvm.output_bytes": ops.output_bytes,
            "arrow.python_run_s": ops.py_run_s,
            "arrow.python_start_s": ops.py_start_s,
            "arrow.bytes_to_python": ops.bytes_to_py,
            "arrow.bytes_from_python": ops.bytes_from_py,
            "_wall_s": ops.wall_s,
            "_job_s": ops.job_s,
        })
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def _where_time_goes(workload: str, layers: dict, cpus: int) -> str:
    wall = layers["_wall_s"]
    share = lambda s: f"{s:.2f} s ({100 * s / wall:.0f}%)"  # noqa: E731
    parts = [
        f"traced pass {wall:.2f} s",
        f"inside Spark jobs {share(layers['_job_s'])}",
        f"driver-side outside jobs {share(wall - layers['_job_s'])}",
    ]
    if layers["catalog.build_s"]:
        parts.append(
            f"plan build in catalog fn {share(layers['catalog.build_s'])}"
            f" with {layers['catalog.eager_jobs']:.0f} eager jobs"
        )
    if layers["pipeline.jobs"]:
        parts.append(
            f"pipeline driver work (listing, header probes, moves, swaps)"
            f" {share(layers['pipeline.driver_s'])}"
        )
    parts.append(
        f"task time {layers['jvm.task_run_s']:.2f} s over {cpus} slots"
        f" (cpu {layers['jvm.task_cpu_s']:.2f} s, gc {layers['jvm.gc_s']:.2f} s,"
        f" python workers {layers['arrow.python_run_s']:.2f} s)"
    )
    parts.append(
        f"{layers['plan.exchanges']:.0f} exchanges,"
        f" {layers['plan.broadcasts']:.0f} broadcasts,"
        f" {layers['plan.shuffle_write_bytes'] / 1e6:.1f} MB shuffled"
    )
    return f"where the time goes [{workload}]: " + "; ".join(parts)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["daily_upsert", "pure_formats"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(run_dir)
    spark = None
    try:
        conf = _isolate(run_dir)
        from simple_data_engineering_project_spark.session import get_spark

        import datagen
        from sparkstats import Recorder
        from workloads import WORKLOADS, OpFailed

        cpus = len(os.sched_getaffinity(0))
        load1 = os.getloadavg()[0]
        data_dir = os.path.join(run_dir, "data")
        cls = WORKLOADS[args.workload]
        t0 = time.perf_counter()
        if cls.scale_factor:
            datagen.generate(data_dir, cls.scale_factor, args.seed)
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
        get_spark_s = time.perf_counter() - t0

        work_dir = os.path.join(run_dir, "work")
        os.makedirs(work_dir)
        wl = cls(spark, data_dir, work_dir, args.seed)
        wl.run_pass(None)  # warm-up: the workload's own operations, untimed
        setup_s = time.clock_gettime(time.CLOCK_BOOTTIME) - _process_start() - gen_s

        rec = Recorder(spark) if args.trace else None
        plain, traced = [], []
        attempted = failed = 0
        deadline = time.perf_counter() + args.seconds
        ticks0 = _cpu_ticks()
        while True:
            use = rec if args.trace and len(plain) > len(traced) else None
            wl.traces = []
            if use is not None:
                rec.sync()
            try:
                ops = wl.run_pass(use)
            except Exception as exc:  # a failing op ends the run, reported
                attempted += 1
                failed += 1
                print(f"pass failed: {exc}", file=sys.stderr)
                if not isinstance(exc, OpFailed):
                    traceback.print_exc()
                break
            attempted += len(ops)
            if use is None:
                plain.append(ops)
            else:
                wl.probe_layers(use)
                traced.append((ops, list(wl.traces), dict(wl.extra)))
            stored_bytes_per_row = wl.extra.get("stored_bytes_per_row", 0.0)
            # traced runs end on an untraced pass (u, t, u, ...), so each
            # traced pass sits between two untraced ones and a warm-up
            # trend cancels out of the traced-minus-untraced overhead
            if time.perf_counter() >= deadline and (
                not args.trace or len(plain) == len(traced) + 1 > 1
            ):
                break

        steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
        t0 = time.perf_counter()
        checked, failures = wl.check()
        check_s = time.perf_counter() - t0
        attempted += checked
        failed += len(failures)
        for op, why in failures.items():
            print(f"check failed: {op}: {why}", file=sys.stderr)
        rss = (_vm_hwm_mb("self"), _vm_hwm_mb(spark.sparkContext._gateway.proc.pid))
    finally:
        try:
            _stop_spark(spark, run_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            parent = os.path.dirname(run_dir)
            if not os.listdir(parent):
                os.rmdir(parent)

    if not plain or (args.trace and not traced):
        return 1  # the failing pass is reported on stderr
    e2e = _summarise(plain)
    phases = _phase_metrics(wl.phases, plain)
    pass_times = [sum(t for _, t in ops) for ops in plain]
    tail = _tail(pass_times)
    print(
        f"perfbench workload={args.workload} seed={args.seed} cores={cpus}"
        f" slots={cpus} load1={load1:.2f} steal={100 * steal / total:.1f}%"
        f" trace={args.trace}"
        f" passes={len(plain)} untraced + {len(traced)} traced"
    )
    print("ops (median s): " + ", ".join(
        f"{op}={t:.3f}" for op, t in e2e["by_op"].items()
    ))
    print(
        f"pass_s median {e2e['pass_s']:.3f} over {len(pass_times)} passes"
        f" ({' '.join(f'{t:.2f}' for t in pass_times)})"
        + (f", p{tail[0]} {tail[1]:.3f}" if tail else "")
        + "; " + ", ".join(f"{k}={v:.3f}" for k, v in phases.items())
        + f"; setup_s {setup_s:.2f} (get_spark {get_spark_s:.2f},"
        f" inputs {gen_s:.2f} excluded); checks {check_s:.2f} s untimed;"
        f" peak rss python {rss[0]:.0f} MB + jvm {rss[1]:.0f} MB"
    )
    if args.trace:
        layers = _layer_metrics(traced)
        traced_e2e = _summarise([ops for ops, _, _ in traced])
        overhead = {
            "trace.overhead_pass_s": traced_e2e["pass_s"] - e2e["pass_s"],
            "trace.overhead_op_geomean_s":
                traced_e2e["op_geomean_s"] - e2e["op_geomean_s"],
        }
        print(_where_time_goes(args.workload, layers, cpus))
        print("tracing overhead (traced - untraced): " + ", ".join(
            f"{k}={v:+.3f} s" for k, v in overhead.items()
        ) + "; set-up is untraced and peak_rss_mb is process-wide")
        values = {
            "session.get_spark_s": get_spark_s,
            **{k: v for k, v in layers.items() if not k.startswith("_")},
            **dict.fromkeys(CODEC_METRICS, 0.0),
            **{k: v for k, v in traced[-1][2].items() if k.startswith("codec.")},
            **{m: 0.0 for w in WORKLOADS.values() for m in w.phases},
            **phases,
            "stored_bytes_per_row": stored_bytes_per_row,
            **overhead,
        }
        metrics = {k: _metric(v, _unit(k)) for k, v in values.items()}
    else:
        metrics = {
            "pass_s": _metric(e2e["pass_s"], "s"),
            "op_geomean_s": _metric(e2e["op_geomean_s"], "s"),
            "setup_s": _metric(setup_s, "s"),
            "peak_rss_mb": _metric(sum(rss), "MB"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
