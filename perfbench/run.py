"""Benchmark of the engine: the L0->L1->L2 pipeline and the query registry.

    python3 perfbench/run.py --workload site_l0_l2 --seed 1 --seconds 12 --trace 0

Run from the repository root.  One process, one closed-loop client, at
``local[<cores>]``.  The run generates its inputs from ``--seed`` under
``.perfbench_work/``, sets up a session with ``get_spark``, runs the cold
pass and the measured warm passes, checks the outputs and prints one JSON
object as its last line.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` starts the
JVM with Spark's event log on (uncompressed, non-rolling, set from this
file) and reports per-layer metrics from the log.  ``perfbench/README.md``
defines every metric.
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
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "3g"
SECONDS_PER_PASS = 12  # --seconds per measured warm pass

# spans reported per layer; every traced run reports all of them, with 0
# for a layer its workload does not enter.  (``levels.load_calibrations``
# is also a span, counted in the totals but not reported on its own.)
SPANS = (
    "levels.level0_to_level1",
    "sinks.write_csv_single.l1",
    "sinks.write_parquet.l1",
    "levels.load_level1_csv",
    "levels.level1_to_level2",
    "levels.fleet_level1_to_level2",
    "sinks.write_csv_single.l2",
    "sinks.to_netcdf",
    "sinks.write_parquet.l2",
    "levels.calc_depth_tdr",
    "levels.fleet_calc_depth_tdr",
)
SPAN_FIELDS = {"wall_s": "s", "jobs": "count", "exec_run_s": "s",
               "driver_gap_s": "s", "shuffle_mb": "MB", "input_mb": "MB"}
# spans that scan the L0 text, and spans that scan the L1 product
L0_SPANS = ("levels.level0_to_level1", "sinks.write_csv_single.l1", "sinks.write_parquet.l1")
L1_SPANS = ("levels.load_level1_csv", "levels.level1_to_level2",
            "levels.fleet_level1_to_level2", "sinks.write_csv_single.l2",
            "sinks.to_netcdf", "sinks.write_parquet.l2", "levels.calc_depth_tdr",
            "levels.fleet_calc_depth_tdr")
FAMILY_FIELDS = {"build_s": ("wall_s", ".build"), "execute_s": ("wall_s", ".execute"),
                 "jobs": ("jobs", ""), "driver_gap_s": ("driver_gap_s", "")}


def process_start() -> float:
    """Epoch time this process started, from /proc (0.01 s resolution)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM"))
    return kb / 1024.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


EVENT_LOG = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def prepare_env(trace: bool) -> None:
    """Keep every file the run writes inside the checkout; with ``trace``,
    start the JVM with the event log on."""
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update(
        # bench.py's calib_io drift canary scans this directory's lineitem
        SPARK_GRAFT_SF_DIR=os.path.join(HERE, "data", "registry"),
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    if trace:
        conf = " ".join(f"--conf {k}={v}" for k, v in EVENT_LOG.items())
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"{conf} pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def set_event_log(spark, on: bool) -> None:
    """Event-log conf for the NEXT SparkContext in this JVM: SparkConf
    loads ``spark.*`` JVM system properties as defaults, and spark-submit
    passes its ``--conf`` settings as system properties."""
    system = spark._jvm.java.lang.System
    for k, v in EVENT_LOG.items():
        if on:
            system.setProperty(k, v)
        else:
            system.clearProperty(k)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def pass_metrics(passes, input_rows: int, cpu: bool) -> dict[str, tuple[float, str]]:
    """The median measured pass, its L1/L2 split and input rows per second,
    in CPU seconds of the benchmark's process tree (``cpu``) or in wall
    seconds."""
    key, sfx = ("cpu", "_cpu") if cpu else ("wall", "")
    med = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
    return {
        f"{key}_s": (med[f"{key}_s"], "s"),
        f"l1{sfx}_s": (med[f"l1{sfx}_s"], "s"),
        f"l2{sfx}_s": (med[f"l2{sfx}_s"], "s"),
        f"rows_per{sfx}_s": (input_rows / med[f"{key}_s"], "1/s"),
    }


def query_percentiles(spans) -> dict[str, tuple[float, str]]:
    """p50 and p75 of the registry queries' build + execute walls over the
    measured passes; 0 on the pipelines, whose spans are unlike stages
    rather than samples of one kind of call."""
    calls: dict[tuple[int, str], float] = {}
    for s in spans:
        if s.name.startswith("registry."):
            call = (s.pass_no, s.name.rsplit(".", 1)[0])
            calls[call] = calls.get(call, 0.0) + s.wall
    q = statistics.quantiles(calls.values(), n=4) if len(calls) > 1 else [0.0] * 3
    return {"query_p50_s": (q[1], "s"), "query_p75_s": (q[2], "s")}


def per_layer(costs, walls: dict[int, float], l0_bytes: int, l1_bytes: int):
    """Per-layer metrics from ``spans.span_costs`` output, as medians over
    the traced passes whose walls ``walls`` maps.  Returns (metrics,
    problems)."""
    from workloads import FAMILIES, family

    def med(fn):
        return statistics.median(fn(p) for p in walls)

    def total(p, field, keep=lambda name: True):
        return sum(getattr(c, field) for (q, n), c in costs.items() if q == p and keep(n))

    out: dict[str, tuple[float, str]] = {}
    for name in SPANS:
        for f, unit in SPAN_FIELDS.items():
            out[f"{name}.{f}"] = (med(lambda p: total(p, f, lambda n: n == name)), unit)
    out["jobs_total"] = (med(lambda p: total(p, "jobs")), "count")
    out["exec_cpu_s_total"] = (med(lambda p: total(p, "exec_cpu_s")), "s")
    out["gc_s_total"] = (med(lambda p: total(p, "gc_s")), "s")
    out["spill_mb_total"] = (med(lambda p: total(p, "spill_mb")), "MB")
    out["core_util"] = (med(lambda p: total(p, "exec_run_s") / (walls[p] * cores())), "ratio")
    for key, spans, size in (("l0_read_amp", L0_SPANS, l0_bytes),
                             ("l1_read_amp", L1_SPANS, l1_bytes)):
        amp = med(lambda p: total(p, "input_mb", lambda n: n in spans) * 1e6 / size) if size else 0.0
        out[key] = (amp, "ratio")
    for fam in FAMILIES:
        for metric, (field, suffix) in FAMILY_FIELDS.items():
            def mine(n, suffix=suffix, fam=fam):
                return (n.startswith("registry.") and n.endswith(suffix)
                        and family(n.split(".")[1]) == fam)
            unit = "count" if field == "jobs" else "s"
            out[f"registry.{fam}.{metric}"] = (med(lambda p: total(p, field, mine)), unit)
    coverage = {p: total(p, "wall_s") / walls[p] for p in walls}
    out["span_coverage"] = (statistics.median(coverage.values()), "ratio")
    problems = [f"traced pass {p}: spans cover {c:.4f} of the pass wall"
                for p, c in coverage.items() if not 0.97 <= c <= 1.0 + 1e-9]
    return out, problems


class Run:
    def __init__(self, workload: str, seed: int, seconds: float):
        from workloads import WORKLOADS

        self.cls = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds

    def session(self):
        from cassandra_fs_pp_spark.session import get_spark

        return get_spark("perfbench")

    def measured_passes(self, tr, cold) -> list[dict[str, float]]:
        """The passes the metrics describe: one warm pass after the cold
        one per ``SECONDS_PER_PASS`` of ``seconds``, or the cold pass itself
        for a workload that is not ``warm``.

        The fleet's first warm passes still carry the JIT compilation of
        its per-station code, and their CPU and wall moved by 15-20% from
        run to run against about 7% for its cold pass, which is also the
        one a daily one-shot ``cli`` run pays.  On the site the first warm
        pass is the steadier (about 4% against 12% for its cold pass); the
        registry serves queries from a long-lived session, so a warm pass
        is what its users wait for.  The pass count depends only on
        ``seconds``, never on how fast passes run, because passes keep
        getting faster as the JVM warms up."""
        if not self.cls.warm:
            return [cold]
        n = max(1, round(self.seconds / SECONDS_PER_PASS))
        return [self.run_pass(tr, k) for k in range(1, n + 1)]

    def run_pass(self, tr, k: int) -> dict[str, float]:
        tr.pass_no = k
        self.out = os.path.join(WORK, "out", str(k))
        shutil.rmtree(self.out, ignore_errors=True)
        return self.wl.run_pass(tr, self.out)

    def restart(self, event_log: bool):
        """A new SparkContext in the same (warm) JVM; returns its tracer."""
        from spans import Tracer

        set_event_log(self.spark, event_log)
        self.spark.stop()
        self.spark = self.wl.spark = self.session()
        return Tracer(self.spark)

    def main(self, trace: bool) -> dict:
        from spans import Tracer

        t_start = process_start()
        self.spark = self.session()
        phases = {"setup": time.time() - t_start}
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

        t = time.time()
        self.wl = self.cls(self.spark, os.path.join(WORK, "data"), self.seed)
        phases["inputs"] = time.time() - t
        tr = Tracer(self.spark)
        cold = self.run_pass(tr, 0)
        passes = self.measured_passes(tr, cold)
        first = 1 if self.cls.warm else 0
        spans = [s for s in tr.spans if s.pass_no >= first]
        t = time.time()
        checks, problems = self.wl.check(self.out)
        phases["checks"] = time.time() - t
        attempted = len(tr.spans) + checks
        if trace:
            metrics, p, extra = self.traced(tr, passes, first)
            metrics.update(pass_metrics(passes, self.wl.input_rows, cpu=False))
            metrics.update(query_percentiles(spans))
            metrics["cold_wall_s"] = (cold["wall_s"], "s")
            metrics["driver_peak_rss_mb"] = (peak_rss_mb("self") + peak_rss_mb(jvm_pid), "MB")
            problems += p
            attempted += extra
        else:
            unstolen = statistics.median(p["unstolen_wall_s"] for p in passes)
            metrics = {"setup_s": (phases["setup"], "s"), "unstolen_wall_s": (unstolen, "s"),
                       **pass_metrics(passes, self.wl.input_rows, cpu=True)}
        drift = host_drift(self.spark)
        stop_spark(self.spark)

        for msg in problems:
            print("CHECK FAILED:", msg, file=sys.stderr)
        context = {
            "workload": self.cls.name, "seed": self.seed, "nproc": cores(),
            "master": f"local[{cores()}]", "driver_memory": DRIVER_MEMORY,
            "input_rows": self.wl.input_rows, "input_bytes": self.wl.input_bytes,
            "cold_wall_s": round(cold["wall_s"], 3),
            "measured_walls_s": [round(w["wall_s"], 3) for w in passes],
            # machine CPU seconds stolen by the hypervisor in the cold and
            # measured passes: what makes walls on a shared host unsteady
            "steal_s": [round(w["steal_s"], 2) for w in [cold] + (passes if first else [])],
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            **drift,
            **versions(),
        }
        print(json.dumps({"context": context}), file=sys.stderr)
        return {
            "correct": not problems,
            "attempted": attempted,
            "failed": len(problems),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def traced(self, tr, passes, first: int):
        """Per-layer metrics of the measured passes, which ran with the
        event log on, and the tracing overhead: one more pass untraced,
        then one traced, each after a SparkContext restart.  Returns
        (metrics, problems, checks made)."""
        from spans import parse_event_log, span_costs

        l1_bytes = self.wl.l1_bytes(self.out)
        walls = {first + i: p["wall_s"] for i, p in enumerate(passes)}
        log_dir = os.path.join(WORK, "eventlog")
        untraced = self.run_pass(self.restart(event_log=False), 1)
        # the first context has stopped, so its log is complete
        (log,) = os.listdir(log_dir)
        groups = parse_event_log(os.path.join(log_dir, log))
        traced = self.run_pass(self.restart(event_log=True), 1)
        l0_bytes = self.wl.input_bytes if self.wl.reads_l0 else 0
        out, problems = per_layer(span_costs(tr.spans, groups), walls, l0_bytes, l1_bytes)
        if len(os.listdir(log_dir)) != 2:
            problems.append("the overhead's untraced pass ran with the event log on")
        # both after a restart; the traced pass runs one pass later, on a
        # warmer JVM, so the figure errs low
        out["trace_overhead_s"] = (traced["wall_s"] - untraced["wall_s"], "s")
        return out, problems, len(walls)


def host_drift(spark) -> dict[str, float]:
    """bench.py's drift canaries (a fixed codegen sum and a fixed Parquet
    scan), run after the measured passes: how fast the host was."""
    import bench

    return {"calib": bench._calibrate(spark), "calib_io": bench._calibrate_io(spark)}


def versions() -> dict[str, str]:
    import numpy
    import pandas
    import pyspark

    return {"spark": pyspark.__version__, "pandas": pandas.__version__,
            "numpy": numpy.__version__}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("site_l0_l2", "fleet_l0_l2", "registry_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    for need in ("cassandra_fs_pp_spark", "bench.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"{need} not found in {ROOT}: run from a full checkout", file=sys.stderr)
            return 2
    os.chdir(ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    prepare_env(bool(a.trace))
    sys.path[:0] = [HERE, ROOT]
    try:
        result = Run(a.workload, a.seed, a.seconds).main(bool(a.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
