#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload crawl_join --seed 1 --seconds 22 --trace 0

Run from the repository root. The runner starts a local Spark session pinned
to local[nproc], generates the workload's inputs from --seed, computes the
reference answer, runs an untimed warm-up repetition, and then repeats the
workload in a closed loop for --seconds, checking every repetition against the
reference. With --trace 0 it prints the end-to-end metrics; with --trace 1 it
also runs one traced repetition and prints the per-layer metrics instead.

The last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; the lines before it are a readable report
that also names the metrics the JSON cannot carry (the failed share, the tail
percentile and its sample count). Results and the span trace are written under
`.bench_out/` in the repository root; all scratch files go to a work directory
there that is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_join", "city_seed")
RUN_LIMIT_S = 170  # the whole process, set-up and teardown included
REP_TIMEOUT_S = 60  # a repetition slower than this counts as failed
DRIVER_MEMORY = "2g"
OUT_DIR = ".bench_out"  # results and traces, relative to the repository root

END_TO_END = [
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("items_per_s", "items/s", "higher"),
    ("rep_ms_p50", "ms", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("cpu_s_per_kitem", "s", "lower"),
]

# layers that run Spark jobs get <layer>.jobs, .tasks and .failed_tasks
JOB_LAYERS = (
    "sources", "extract", "cells", "ownership", "spatial_join", "tile_counts",
    "params", "build3d", "batch_table", "b3dm", "tileset", "stream",
)
SELF_TIME_LAYERS = (
    "extract", "cells", "ownership", "tile_counts", "params", "build3d",
    "batch_table", "b3dm", "tileset",
)
PER_LAYER = (
    [("session.start_s", "s", "lower"), ("sources.scan_s", "s", "lower"),
     ("sources.rows", "count", "higher"), ("sources.bytes", "bytes", "lower")]
    + [(f"{layer}.self_s", "s", "lower") for layer in SELF_TIME_LAYERS]
    + [
        ("extract.pages", "count", "higher"),
        ("extract.geotag_ratio", "ratio", "higher"),
        ("cells.buildings", "count", "higher"),
        ("cells.cells_per_building", "count", "lower"),
        ("ownership.tiles", "count", "higher"),
        ("spatial_join.build_s", "s", "lower"),
        ("spatial_join.refine_s", "s", "lower"),
        ("spatial_join.candidates", "count", "lower"),
        ("spatial_join.matches", "count", "higher"),
        ("spatial_join.match_ratio", "ratio", "higher"),
        ("build3d.tiles", "count", "higher"),
        ("build3d.vertices_per_building", "count", "lower"),
        ("batch_table.tiles", "count", "higher"),
        ("b3dm.files", "count", "higher"),
        ("b3dm.bytes", "bytes", "lower"),
        ("b3dm.bytes_per_building", "bytes", "lower"),
        ("tileset.nodes", "count", "higher"),
        ("stream.add_batch_ms_p50", "ms", "lower"),
        ("stream.planning_ms_p50", "ms", "lower"),
        ("stream.wal_commit_ms_p50", "ms", "lower"),
        ("stream.rows_per_trigger", "count", "higher"),
        ("stream.state_rows", "count", "lower"),
        ("stream.state_mem_bytes", "bytes", "lower"),
    ]
    + [(f"{layer}.{k}", "count", "lower") for layer in JOB_LAYERS
       for k in ("jobs", "tasks", "failed_tasks")]
    + [("trace.overhead_s", "s", "lower")]
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _kill_tree(procstat) -> None:
    for pid in procstat.tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _watchdog(procstat, limit_s: float) -> threading.Timer:
    """Past the limit: kill every child process and exit without a result."""

    def fire():
        print(f"perfbench: run exceeded {limit_s:.0f} s, aborting", file=sys.stderr, flush=True)
        _kill_tree(procstat)
        os._exit(3)

    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()
    return t


def start_session(workdir: str, cores: int):
    from osm_data_3d_tiles_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # a heap committed and touched in full at start, so resident memory
            # does not depend on how much of it the collector has used so far;
            # no hsperfdata files under /tmp; JVM temp files into the work dir
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(workdir, "checkpoints"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM ignored the close; it is killed later
            pass


def named_metrics(workload: str, e2e: dict, wl) -> list[tuple[str, float, str]]:
    """The end-to-end metrics under the workload-specific names used when the
    benchmark was specified, for the readable report."""
    if workload == "crawl_join":
        return [("docs_per_s", e2e["items_per_s"], "docs/s")]
    per_building = getattr(wl, "last_bytes", 0) / max(getattr(wl, "n_items", 0), 1)
    return [("buildings_per_s", e2e["items_per_s"], "buildings/s"),
            ("b3dm_bytes_per_building", per_building, "bytes")]


def make_workload(name: str, spark, workdir: str, seed: int, cores: int):
    from perfbench import workloads as w

    if name == "crawl_join":
        return w.CrawlJoin(spark, workdir, seed, partitions=cores)
    return w.CitySeed(spark, workdir, seed)


class Runner:
    def __init__(self, args, workdir: str):
        self.args = args
        self.workdir = workdir
        self.cores = nproc()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []  # one message per failure
        self.reps = []

    def fail(self, message: str) -> None:
        self.failed += 1
        self.failures.append(message)

    def attempt(self, wl):
        """One repetition; an exception, a timeout or a failed check is a failure."""
        self.attempted += 1
        try:
            rep = wl.run_once()
        except Exception:  # noqa: BLE001 - a failed repetition is counted, not fatal
            self.fail(traceback.format_exc(limit=3))
            return None
        if rep.seconds > REP_TIMEOUT_S:
            rep.problems.append(f"repetition took {rep.seconds:.1f} s > {REP_TIMEOUT_S} s")
        if rep.problems:
            self.fail("; ".join(rep.problems))
        return rep

    def run(self) -> tuple[dict, dict]:
        from perfbench import procstat, stats

        a = self.args
        t_s0 = time.perf_counter()
        self.spark = start_session(self.workdir, self.cores)
        t_s1 = time.perf_counter()
        wl = self.wl = make_workload(a.workload, self.spark, self.workdir, a.seed, self.cores)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare_reference()
        ref_s = time.perf_counter() - t0
        warm = [self.attempt(wl) for _ in range(wl.warm_reps)]
        # process age covers interpreter start, imports, the session, the inputs
        # and the warm-up; the reference answer is the benchmark's own work
        setup_s = procstat.process_age_s() - ref_s

        sampler = procstat.TreeSampler()
        sampler.start()
        steal0 = procstat.steal_ticks()
        t_begin = time.perf_counter()
        while True:
            # stop when the next repetition would end more than half a
            # repetition past --seconds, so a run measures about --seconds
            # whatever the repetition length
            elapsed = time.perf_counter() - t_begin
            rep_s = stats.median([r.seconds for r in self.reps]) if self.reps else 0.0
            if elapsed + rep_s / 2 >= a.seconds:
                break
            rep = self.attempt(wl)
            if rep is not None:
                self.reps.append(rep)
        sampler.stop()
        measured_s = time.perf_counter() - t_begin
        steal_s = (procstat.steal_ticks() - steal0) / procstat.TICK

        latencies = [r.seconds * 1000.0 for r in self.reps]

        items = sum(r.items for r in self.reps)
        tail_pct, tail_ms, tail_n = stats.tail_percentile(latencies or [0.0])
        e2e = {
            "setup_s": setup_s,
            "items_per_s": stats.median([r.items / r.seconds for r in self.reps] or [0.0]),
            "rep_ms_p50": stats.median(latencies or [0.0]),
            "peak_rss_mb": sampler.peak_rss / 2**20,
            "cpu_s_per_kitem": sampler.cpu_s / max(items / 1000.0, 1e-9),
        }
        info = {
            "item": wl.item,
            "cores": self.cores,
            "driver_memory": DRIVER_MEMORY,
            "shuffle_partitions": self.cores,
            "session_start_s": t_s1 - t_s0,
            "generate_s": gen_s,
            "reference_s": ref_s,
            "timed_reps": len(self.reps),
            "rep_ms_tail": tail_ms,
            "tail_percentile": tail_pct,
            "tail_samples": tail_n,
            "cpu_s": sampler.cpu_s,
            "measured_s": measured_s,
            # CPU time the hypervisor gave to other guests while this run
            # wanted it, per CPU and second: how busy the host was
            "steal_frac": steal_s / (measured_s * os.cpu_count()),
            "latencies_ms": latencies,
            "warm_up_ms": [r.seconds * 1000.0 for r in warm if r is not None],
        }

        info["named_metrics"] = named_metrics(a.workload, e2e, wl)
        layer = self.traced(t_s0, t_s1) if a.trace else None
        return e2e, {"info": info, "per_layer": layer}

    def traced(self, t_s0: float, t_s1: float) -> dict:
        from perfbench import stats
        from perfbench.trace import Tracer

        a = self.args
        tracer = Tracer(self.spark, trace_id=f"{a.workload}-seed{a.seed}")
        tracer.record("session", t_s0, t_s1)
        values = {name: 0.0 for name, _, _ in PER_LAYER}
        values.update(self.wl.traced(tracer))
        # the traced run's own checks (the stream probe's counts) count as one
        # more attempt
        self.attempted += 1
        if self.wl.trace_problems:
            self.fail("traced run: " + "; ".join(self.wl.trace_problems))
        tracer.finish()
        totals = tracer.layer_totals()
        values["session.start_s"] = t_s1 - t_s0
        values["sources.scan_s"] = totals.get("sources", {}).get("self_s", 0.0)
        for layer in SELF_TIME_LAYERS:
            values[f"{layer}.self_s"] = totals.get(layer, {}).get("self_s", 0.0)
        for layer in JOB_LAYERS:
            for k in ("jobs", "tasks", "failed_tasks"):
                values[f"{layer}.{k}"] = totals.get(layer, {}).get(k, 0)
        root = next(s for s in tracer.spans if s.name == a.workload)
        untraced_s = stats.median([r.seconds for r in self.reps] or [0.0])
        values["trace.overhead_s"] = (root.end - root.start) - untraced_s
        tracer.write(
            os.path.join(ROOT, OUT_DIR, f"{a.workload}-seed{a.seed}-trace.json"),
            {"layers": totals, "per_layer": values},
        )
        return values


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "osm_data_3d_tiles_spark", "__init__.py")):
        print("perfbench: the osm_data_3d_tiles_spark package is not next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procstat

    cores = nproc()
    workdir = os.path.join(ROOT, OUT_DIR, f"work-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # Spark's scratch directory; the variable wins over any spark.local.dir setting
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    watchdog = _watchdog(procstat, RUN_LIMIT_S)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runner = Runner(args, workdir)
    try:
        e2e, extra = runner.run()
    finally:
        try:
            if runner.spark is not None:
                stop_session(runner.spark)
        except Exception:  # noqa: BLE001 - the JVM is killed below either way
            traceback.print_exc()
        finally:
            _kill_tree(procstat)
            shutil.rmtree(workdir, ignore_errors=True)
            watchdog.cancel()

    failed = runner.failed
    names = [n for n, _, _ in (PER_LAYER if args.trace else END_TO_END)]
    units = {n: u for n, u, _ in PER_LAYER + END_TO_END}
    values = extra["per_layer"] if args.trace else e2e
    info = extra["info"]
    result = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }
    with open(os.path.join(ROOT, OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump({**result, "end_to_end": e2e, "info": info, "failures": runner.failures}, f, indent=1)

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"cores={info['cores']} shuffle_partitions={info['shuffle_partitions']} "
          f"driver_memory={info['driver_memory']} timed_reps={info['timed_reps']} "
          f"steal={info['steal_frac']:.3f}")
    print(f"# failed_frac={failed / max(runner.attempted, 1):.4f} ({failed}/{runner.attempted})")
    for n, u, _ in END_TO_END:
        print(f"# {n} = {e2e[n]:.6g} {u}")
    print(f"# rep_ms_tail = {info['rep_ms_tail']:.6g} ms (p{info['tail_percentile']:.1f} "
          f"of {info['tail_samples']} samples; p100 is the maximum)")
    for n, v, u in info["named_metrics"]:
        print(f"# {n} = {v:.6g} {u}")
    for msg in runner.failures[:5]:
        print(f"# failure: {msg.strip().splitlines()[-1]}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
