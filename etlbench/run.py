"""Benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 etlbench/run.py --workload daily_lookback_load --seed 1 --seconds 12 --trace 0

The run generates the workload's inputs from the seed, starts the
engine's Spark session on local[nproc] in a fresh JVM and runs the
workload's untimed warm-up (together, the set-up), runs the workload's
check ops, times rounds of ops sized to ``--seconds``, checks every
op's output against what a correct engine produces, and prints the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) as the last line of standard output. A line before it
carries details for reading: host load, CPU calibration, op walls and
any errors.

A traced run makes four rounds, in the order untraced, traced, traced,
untraced; per-layer values come from the two traced rounds, and
``trace.overhead_s`` is their wall time minus that of the untraced ones.

Everything is written under ``.etlbench_work/`` in the current
directory and removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".etlbench_work")

sys.path[:0] = [HERE, ROOT]
try:
    import workloads  # imports the engine package from ROOT
    from evidence_images_etl_airflow_spark.session import get_session
    from layers import Tracer
    from pyspark import SparkContext
except ImportError as e:
    sys.exit(f"etlbench: cannot import the engine from {ROOT}: {e}")

DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "total_s": "s",
    "op_geomean_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.scan_jobs": "count",
    "sources.files_listed": "count",
    "sources.files_read": "count",
    "sources.reread_ratio": "ratio",
    "plans.transform_s": "s",
    "sinks.append_s": "s",
    "sinks.rows_appended": "count",
    "sinks.rows_skipped": "count",
    "sinks.merge_s": "s",
    "sinks.bytes_written_mb": "MB",
    "sinks.write_amp": "ratio",
    "sinks.target_files": "count",
    "sinks.storage_amp": "ratio",
    "streaming.trigger_s": "s",
    "streaming.batches": "count",
    "streaming.checkpoint_files": "count",
    "caching.live_persists": "count",
    "caching.persistent_rdds": "count",
    "workload.first_call_extra_s": "s",
    "workload.build_s": "s",
    "workload.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "spark.stage_retries": "count",
    "trace.overhead_s": "s",
}


class Aborted(Exception):
    """An op raised and the workload's later ops would run on a broken state."""


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of the machine's memory, between 1 and 2 GiB: the inputs
    are small and the machine may be shared."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1024, min(2048, kb // 1024 // 4))}m"


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cal_loop() -> float:
    """bench.py's single-thread host calibration: seconds for a fixed
    pure-Python loop, recorded for reading, not gating."""
    t0 = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tail(walls: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples above it; with fewer
    than 20 samples no such percentile reaches past the median, so the
    maximum is reported instead."""
    xs = sorted(walls)
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return xs[math.ceil(len(xs) * p / 100) - 1], f"p{p}"
    return xs[-1], "max"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    """One run: the Spark session, its JVM and the run's work directory."""

    def __init__(self, args) -> None:
        self.args = args
        self.cpus = host_cpus()
        self.work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.failed = 0
        self.attempted = 0
        self.errors: list[str] = []
        self.check_s = 0.0  # wall time of the output checks
        self.detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    # --- session lifecycle --------------------------------------------------
    def conf(self) -> dict[str, str]:
        return {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed-size heap, touched in full at start, keeps the JVM's
            # peak RSS from following the GC's sizing and region use
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.work}/tmp"
            ),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of the run for the traced read
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }

    def jvm_pid(self) -> int:
        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        gw = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            if gw is not None:
                gw.shutdown()
                proc = gw.proc
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None

    # --- ops ----------------------------------------------------------------
    def count_op(self, error: str | None) -> None:
        """Tally one checked op; ``error`` is None when it passed."""
        self.attempted += 1
        if error:
            self.failed += 1
            self.errors.append(error)

    def run_ops(self, wl, ops, tracer=workloads.NULL) -> list[tuple[str, float]]:
        """Run ops one at a time: time each, then check its output
        untimed. Returns (name, wall) per op; raises Aborted when
        an op raised and the workload cannot go on."""
        out = []
        for op in ops:
            op.prepare()
            wl.tracer = tracer
            tracer.begin_op()
            t0 = time.perf_counter()
            try:
                got, err = op.run(), None
            except Exception as e:
                got, err = None, f"{op.name} raised {type(e).__name__}: {str(e)[:300]}"
            wall = time.perf_counter() - t0
            tracer.end_op()
            raised = err is not None
            if not raised:
                wl.record(tracer.enabled)
                t1 = time.perf_counter()
                try:
                    err = op.check(got)
                except Exception as e:
                    err = f"{op.name}: check raised {type(e).__name__}: {str(e)[:300]}"
                self.check_s += time.perf_counter() - t1
            wl.tracer = workloads.NULL
            self.count_op(err)
            out.append((op.name, wall))
            if raised and wl.stop_on_error:
                raise Aborted(err)
        return out

    def run(self) -> dict:
        a = self.args
        cls = workloads.WORKLOADS[a.workload]
        n = max(cls.min_rounds, round(a.seconds / cls.op_seconds))
        rounds = 4 if a.trace else n
        self.detail["host"] = {
            "cpus": self.cpus,
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "loadavg_start": loadavg(),
            "cal_s": cal_loop(),
        }
        t0 = time.perf_counter()
        wl = cls(self.work, a.seed, rounds)
        self.detail["generate_s"] = time.perf_counter() - t0
        try:
            return self.measure(wl, rounds)
        finally:
            wl.close()

    def measure(self, wl, rounds: int) -> dict:
        a = self.args
        t0 = time.perf_counter()
        self.spark = wl.spark = get_session("etlbench", cpus=self.cpus, extra_conf=self.conf())
        start_s = time.perf_counter() - t0
        tracer = Tracer(self.spark) if a.trace else None
        timed: list[tuple[str, float, bool]] = []
        warm: list[tuple[str, float]] = []
        try:
            warm = self.run_ops(wl, wl.warm_up_ops())
            self.run_ops(wl, wl.check_ops(thorough=bool(a.trace)))
            for r in range(rounds):
                traced = tracer is not None and workloads.traced_round(r)
                ops = wl.round(r)
                timed += [(n, w, traced) for n, w in self.run_ops(wl, ops, tracer if traced else workloads.NULL)]
            t1 = time.perf_counter()
            self.count_op(wl.check_final())
            self.check_s += time.perf_counter() - t1
        except Aborted:
            pass
        rss = vm_hwm_mb(self.jvm_pid()) + vm_hwm_mb("self")
        walls = [w for _, w, t in timed if not t]
        self.detail["session_start_s"] = start_s
        self.detail["check_s"] = self.check_s
        self.detail["warm_up_walls_s"] = [w for _, w in warm]
        self.detail["op_walls_s"] = walls
        if not timed:
            raise RuntimeError("no timed op ran: " + "; ".join(self.errors))
        if not a.trace:
            tail_s, tail_p = tail(walls)
            self.detail["op_tail"] = {"percentile": tail_p, "n": len(walls)}
            return {
                "setup_s": start_s + sum(w for _, w in warm),
                "total_s": sum(walls),
                "op_geomean_s": statistics.geometric_mean(walls),
                "op_p50_s": statistics.median(walls),
                "op_tail_s": tail_s,
                "peak_rss_mb": rss,
            }

        m = tracer.finish(self.cpus)
        traced_walls = [w for _, w, t in timed if t]
        self.detail["traced_op_walls_s"] = traced_walls
        m["session.start_s"] = start_s
        m["trace.overhead_s"] = sum(traced_walls) - sum(walls)
        # first warm-up wall minus the median timed wall, summed over the
        # ops that run both in set-up and in the rounds (the sweep's queries)
        by_name: dict[str, list[float]] = {}
        for name, w, t in timed:
            if not t:
                by_name.setdefault(name, []).append(w)
        first_call = {}
        for name, w in warm:
            first_call.setdefault(name, w)
        m["workload.first_call_extra_s"] = sum(
            w - statistics.median(by_name[name]) for name, w in first_call.items() if name in by_name
        )
        m["sources.reread_ratio"] = m.get("sources.rows_scanned", 0.0) / max(1.0, m.get("sources.rows_landed", 0.0))
        m["sinks.rows_skipped"] = m.get("sources.kept_rows_scanned", 0.0) - m.get("sinks.rows_appended", 0.0)
        target_bytes, loaded_bytes = wl.storage()
        m["sinks.storage_amp"] = target_bytes / loaded_bytes if loaded_bytes else 0.0
        landed_bytes = m.get("sources.bytes_landed", 0.0)
        m["sinks.write_amp"] = m.get("sinks.bytes_written_mb", 0.0) * 1024 * 1024 / landed_bytes if landed_bytes else 0.0
        # share of the traced ops' wall time spent in each span
        self.detail["span_share"] = {
            k[:-2]: v / sum(traced_walls) for k, v in sorted(m.items()) if k.endswith("_s") and k[:-2] in tracer.span_jobs
        }
        return {name: float(m.get(name, 0.0)) for name in PER_LAYER}


def main(argv=None) -> int:
    args = parse_args(argv)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    bench = Bench(args)
    os.makedirs(os.path.join(bench.work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(bench.work, "tmp")
    tempfile.tempdir = None
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        values = bench.run()
    except Exception as e:
        print(f"etlbench: run failed: {type(e).__name__}: {e}", file=sys.stderr)
        for line in bench.errors:
            print(f"etlbench: {line}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        try:
            bench.close()
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)
            if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
                os.rmdir(WORK_ROOT)
    units = PER_LAYER if args.trace else END_TO_END
    bench.detail["host"]["loadavg_end"] = loadavg()
    bench.detail["errors"] = bench.errors
    print(json.dumps({"detail": bench.detail}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
