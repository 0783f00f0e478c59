"""The repo benchmark: timed sync runs and near-dup dedup, one workload per call.

    python3 perfbench/run.py --workload sync_delta_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. One call:

1. generates the workload's inputs from ``--seed`` (untimed, in a helper
   process that also hosts the DuckDB oracle),
2. sets up three times and reports the median as ``setup_s``: each set-up
   is ``session.get_spark`` + a first trivial job + building the preset
   and running its ``ImportPipeline.setup()`` preflight. The first one
   also launches the JVM; its time is reported as ``session.start_s``,
3. runs a cold pass, then warm passes back to back for ``--seconds``
   (closed loop, one client, ``local[nproc]``), restoring the target
   before and checking every pass against the oracle after its timed
   span,
4. with ``--trace 1``, interleaves untraced and traced passes and
   reports per-layer metrics instead of end-to-end ones.

The last stdout line is one JSON object: ``correct``, ``attempted``
(source rows or documents over all passes), ``failed`` (rows of passes
that raised or failed a check) and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5
# warm passes still speed up for a while as the JIT compiles the
# per-job driver code; the first WARMUP of them are not reported
WARMUP = 3
MIN_WARM = 3
# name prefixes of HotSpot's JIT compiler and G1 GC threads
JVM_SELF_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ")


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _environment(tmp: str, trace: bool) -> None:
    """Process environment for Spark, set before the JVM starts."""
    # Python workers start in the JVM's working directory; without this
    # DbapiTarget.apply fails with ModuleNotFoundError for the program's
    # package whenever the benchmark is started from another directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_UI"] = "true" if trace else "false"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7]


def _process_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _die_with_parent() -> None:
    """Oracle worker initializer: the kernel kills the worker if this
    process dies without shutting the pool down (PR_SET_PDEATHSIG)."""
    import ctypes

    ctypes.CDLL(None).prctl(1, signal.SIGKILL)


def _stop_resource_tracker() -> None:
    """The spawn pool's queues start multiprocessing's resource tracker,
    which would otherwise outlive this process for a moment after it
    exits; stop it now and wait for it to end."""
    import gc
    from multiprocessing import resource_tracker

    gc.collect()  # drop the shut-down pool's semaphores first
    resource_tracker._resource_tracker._stop()


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Bench:
    def __init__(self, args, tmp: str, pool) -> None:
        import gen
        from workloads import WORKLOADS

        self.args = args
        self.tmp = tmp
        inputs = os.path.join(tmp, "inputs")
        self.info = pool.submit(gen.generate, args.workload, args.seed, args.scale, inputs).result()
        self.workload = WORKLOADS[args.workload](args.workload, inputs, tmp, self.info, pool)
        self.workload.prepare()
        _log("inputs ready")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.layer_samples: list[dict] = []

    # -- session ---------------------------------------------------------- #
    def _start(self) -> float:
        from wwwision_importservice_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.range(10).count()
        self.workload.setup(self.spark)
        return time.perf_counter() - t0

    def setups(self) -> list[float]:
        times = [self._start()]
        for _ in range(SETUPS - 1):
            self.spark.stop()
            times.append(self._start())
        return times

    def stop(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them;
        also when the JVM no longer answers (a signal that arrives in the
        middle of a py4j call leaves its connection unusable)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        tree = _process_tree(proc.pid)
        for step in (self.spark.stop if self.spark else None, gateway.shutdown):
            try:
                if step:
                    step()
            except Exception:
                traceback.print_exc()
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid in tree[1:]:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        pids = [os.getpid()] + _process_tree(SparkContext._gateway.proc.pid)
        return sum(_hwm_mb(p) for p in pids)

    # -- passes ----------------------------------------------------------- #
    def _tree_cpu_s(self) -> float:
        """CPU seconds used so far by the threads that run the program's
        code: this process, the JVM's task and service threads and the
        Python workers; without the JVM's JIT compiler and GC threads.

        Those two are the JVM managing itself, and their CPU follows its
        ergonomics rather than the passes' work: compiling takes 1-2.5 s
        of a warm pass for ten passes or more, at a rate that differs from
        run to run, and HotSpot starts and ends compiler threads as its
        queue changes; G1 resizes the young generation from measured pause
        times, so on a busier host the same pass triggers several young
        collections where it triggered none before. The sum runs over the
        live threads, plus each process's reaped children (the Python
        workers that exited).
        """
        from pyspark import SparkContext

        ticks = 0
        for pid in [os.getpid()] + _process_tree(SparkContext._gateway.proc.pid):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    ticks += sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[13:15])
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                        head, fields = fh.read().rsplit(")", 1)
                except OSError:
                    continue
                if not head.split("(", 1)[1].startswith(JVM_SELF_THREADS):
                    ticks += sum(int(x) for x in fields.split()[11:13])
        return ticks / os.sysconf("SC_CLK_TCK")

    def one_pass(self, traced=None) -> tuple[float, float, float] | None:
        """Restore, run (timed), check. Returns the pass's wall time, the
        CPU seconds the driver and the JVM tree spent in it and the share
        of the machine's CPU time the host stole meanwhile; or None when
        the pass raised or failed its check (its rows count as failed)."""
        w = self.workload
        w.restore()
        self.attempted += w.rows
        ticks = _cpu_ticks()
        try:
            cpu0 = self._tree_cpu_s()
            t0 = time.perf_counter()
            if traced:
                wall, result, metrics = w.traced_pass(*traced)
            else:
                result = w.run_pass()
                wall = time.perf_counter() - t0
            cpu = self._tree_cpu_s() - cpu0
            total, steal = (b - a for a, b in zip(ticks, _cpu_ticks()))
            problems = w.check(result)
        except Exception:
            traceback.print_exc()
            problems = ["pass raised"]
        if problems:
            _log(f"pass failed: {problems}")
            self.failed += w.rows
            return None
        steal_share = steal / max(total, 1)
        _log(f"pass {'traced ' if traced else ''}{wall:.3f}s, cpu {cpu:.2f}s, host steal {steal_share:.2f}")
        if traced:
            self.layer_samples.append(metrics)
        return wall, cpu, steal_share

    def run(self) -> dict:
        setups = self.setups()
        _log(f"setups {[round(t, 3) for t in setups]}")
        cold = self.one_pass()
        if cold is None:
            return {}
        if self.args.trace:
            return self._traced(setups)
        warm = []
        deadline = time.monotonic() + self.args.seconds
        while time.monotonic() < deadline or len(warm) < WARMUP + MIN_WARM:
            sample = self.one_pass()
            if sample is None:
                return {}
            warm.append(sample)
        return {
            "setup_s": statistics.median(setups),
            "cold_pass_s": cold[0],
            "pass_cpu_s": statistics.median(cpu for _, cpu, _ in warm[WARMUP:]),
            "peak_rss_mb": self.peak_rss_mb(),
        }

    def _traced(self, setups: list[float]) -> dict:
        from tracing import StageMetrics, Tracer

        tracer = Tracer(self.spark)
        stages = StageMetrics(self.spark)
        plain, traced = [], []
        deadline = time.monotonic() + self.args.seconds
        for _ in range(WARMUP):
            if self.one_pass() is None:
                return {}
        sc = self.spark.sparkContext
        jobs = []
        n = 0
        while time.monotonic() < deadline or len(traced) < 2:
            trace_id = f"{self.args.workload}-{self.args.seed}-{n}"
            tracer.start_trace(trace_id)
            if n % 2:
                sample = self.one_pass((tracer, stages))
            else:
                # job and stage counts of the program itself, untraced
                sc.setJobGroup(trace_id, "untraced pass")
                sample = self.one_pass()
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs.append(stages.by_group({trace_id})[trace_id])
            if sample is None:
                return {}
            (traced if n % 2 else plain).append(sample)
            n += 1
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans_{self.args.workload}_{self.args.seed}.jsonl"))
        if not traced or not plain:
            return {}
        keys = self.layer_samples[0].keys()
        out = {k: statistics.median(s[k] for s in self.layer_samples) for k in keys}
        out["session.start_s"] = setups[0]
        if self.workload.pipeline_layer:
            out["pipeline.jobs"] = statistics.median(j["jobs"] for j in jobs)
            out["pipeline.stages"] = statistics.median(j["stages"] for j in jobs)
        wall = statistics.median(w for w, _, _ in plain)
        out["pass.wall_s"] = wall
        out["pass.rows_per_s"] = self.workload.rows / wall
        out["host.steal_share"] = statistics.median(st for _, _, st in plain + traced)
        out["trace.overhead_s"] = statistics.median(w for w, _, _ in traced) - wall
        return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use a tiny one)")
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, ROOT]
    import workloads  # fails here when the program is not next to the benchmark

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_work"))
    _environment(tmp, bool(args.trace))
    bench = None
    try:
        with ProcessPoolExecutor(1, mp_context=get_context("spawn"), initializer=_die_with_parent) as pool:
            bench = Bench(args, tmp, pool)
            try:
                values = bench.run()
            finally:
                # a SIGTERM now waits until everything has stopped
                signal.pthread_sigmask(signal.SIG_BLOCK, {signal.SIGTERM})
                bench.stop()
                _log("stopped")
    finally:
        signal.pthread_sigmask(signal.SIG_BLOCK, {signal.SIGTERM})
        _stop_resource_tracker()
        shutil.rmtree(tmp, ignore_errors=True)
        signal.pthread_sigmask(signal.SIG_UNBLOCK, {signal.SIGTERM})

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if args.trace and values:
        # a layer this workload never calls did no work
        values = {**dict.fromkeys(missing, 0), **values}
        missing = []
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in wanted
        if m["name"] in values
    }
    info = {k: v for k, v in bench.info.items() if k != "clusters"}
    print(f"# {args.workload} seed={args.seed} inputs={json.dumps(info)} missing={missing}")
    print(json.dumps({
        "correct": bench.failed == 0 and not missing,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
