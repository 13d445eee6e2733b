"""defuddle-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cc_extract --seed 1 --seconds 15 --trace 0

Run from the repository root. The run

1. stages the workload's seeded inputs under ``.perfbench_work/`` (not
   timed, not part of any metric);
2. sets up a ``local[nproc]`` session three times, each set-up being
   ``get_spark`` plus an untimed pass of the workload's own job over a
   small seeded slice, and reports the median as ``setup_s``; the first
   set-up also launches the JVM, and its pass runs over the full input
   so that the JVM's JIT is warm too;
3. after each set-up, repeats the timed job for a third of
   ``--seconds`` (at least once), checks every output, and reports
   medians over all the timed jobs.

``peak_rss_mb`` is the peak resident set (``VmHWM``) of the Python
daemon, plus that of the largest Python worker times the workers the
tasks can hold at once, plus the JVM's own figures: the heap it retains past young
collections (median over the timed jobs, each started after a full
collection), its non-heap memory and the peak of Spark's off-heap Arrow
allocator. The JVM's resident set is not used: it holds whatever heap the
collector chose to grow, which is a collector decision, not the program's.

``--trace 1`` then starts a fresh session with Spark's event log on, runs
the job once more with one job description per public call, and prints
the per-layer metrics of BENCHMARK.json instead of the end-to-end ones.
Earlier stdout lines carry the run's context (nproc, load, heap, sizes);
the last line is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3
# The session's 16g default can exceed the host's memory; these inputs need
# far less.
DRIVER_MEMORY = "2g"
JVM_OPTIONS = "-XX:+UseParallelGC -XX:-UsePerfData"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Session:
    """Owns the local Spark session and its JVM for one run."""

    def __init__(self, work: str, cores: int):
        self.work, self.cores = work, cores
        self.spark = None
        self.contexts = 0

    def start(self, master_cores: int | None = None, event_log: bool = False):
        from defuddle_spark.spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"{JVM_OPTIONS} -Djava.io.tmpdir={os.environ['TMPDIR']}"}
        if event_log:
            log_dir = os.path.join(self.work, "events", str(self.contexts))
            os.makedirs(log_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + log_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
            self.event_log = log_dir
        self.contexts += 1
        t0 = time.perf_counter()
        self.spark = get_spark(cores=master_cores or self.cores,
                               app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return time.perf_counter() - t0

    def stop_context(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        """Stop the context, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop_context()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def describe(self, text: str | None):
        """Label the Spark jobs this thread submits next (None clears)."""
        self.spark.sparkContext.setJobDescription(text)


def _pin_env(root: str, work: str) -> None:
    """Everything the run writes, Spark's scratch and temp files included,
    stays under ``work``."""
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var])
    tempfile.tempdir = os.environ["TMPDIR"]  # in case it was already cached
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def _result(correct, attempted, failed, metrics, units) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    try:
        import defuddle_spark.spark.session  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {root}: {exc}",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_env(root, work)
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    staged = wl.stage(os.path.join(work, "stage"), args.seed)
    stage_s = time.perf_counter() - t0

    import probes

    sess = Session(work, cores)
    problems = []
    try:
        starts, warms, setup = [], [], []
        iters, heap_peaks = [], []
        timed = steal_s = 0.0
        for k in range(SETUPS):
            if k:
                sess.stop_context()
            starts.append(sess.start())
            # The first set-up warms with the full input: besides the
            # Python workers it warms the JVM's JIT, which outlives the
            # context restarts. The first full jobs of a fresh JVM run up
            # to a third slower than later ones.
            src = "input" if k == 0 else "warm"
            t0 = time.perf_counter()
            out = os.path.join(work, f"warm{k}")
            res = wl.job(sess.spark, staged, src, out)
            warms.append(time.perf_counter() - t0)
            setup.append(starts[-1] + warms[-1])
            if src == "input":
                problems.extend(wl.check(staged, out, res)[2])
            shutil.rmtree(out)
            # Each set-up is followed by its share of the timed jobs, so
            # the timed window spans the whole run: a slow stretch of a
            # shared host then reaches only some of the jobs the medians
            # are taken over.
            while timed < args.seconds * (k + 1) / SETUPS or len(iters) <= k:
                out = os.path.join(work, f"out{len(iters)}")
                probes.jvm_heap_reset(sess.spark._jvm)
                steal0 = probes.cpu_steal_s()
                c0 = probes.tree_cpu_s(sess.jvm_pid)
                t0 = time.perf_counter()
                res = wl.job(sess.spark, staged, "input", out)
                job_s = time.perf_counter() - t0
                cpu_s = probes.tree_cpu_s(sess.jvm_pid) - c0
                steal_s += probes.cpu_steal_s() - steal0
                timed += job_s
                heap_peaks.append(probes.jvm_memory_mb(sess.spark._jvm)["heap_peak"])
                attempted, failed, bad = wl.check(staged, out, res)
                problems.extend(bad)
                iters.append((job_s, cpu_s, attempted, failed))
                shutil.rmtree(out)
                os.sync()  # no write-back of this iteration lands in the next
        rss = probes.tree_peak_rss_mb(sess.jvm_pid)
        jvm_hwm = rss.pop((0, sess.jvm_pid))
        python_mb = probes.python_peak_mb(rss, wl.python_udfs * cores)
        jvm_mem = probes.jvm_memory_mb(sess.spark._jvm)
        jvm_mem["heap_peak"] = statistics.median(heap_peaks)

        layers = None
        if args.trace:
            import layers as layer_trace
            layers, bad = layer_trace.run(
                wl, sess, staged, work,
                untraced_job_s=statistics.median(i[0] for i in iters))
            problems.extend(bad)
            layers.update({
                "session.first_start_s": starts[0],
                "session.start_s": statistics.median(starts),
                "session.warmup_s": statistics.median(warms),
            })
    finally:
        sess.close()

    attempted = sum(i[2] for i in iters)
    failed = sum(i[3] for i in iters)
    job_s = statistics.median(i[0] for i in iters)
    docs, mb = staged["docs"], staged["bytes"] / 1e6
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    print(json.dumps({"workload": wl.name, "seed": args.seed, "nproc": cores,
                      "loadavg": load, "driver_memory": DRIVER_MEMORY,
                      "docs": docs, "input_mb": round(mb, 3),
                      "stage_s": round(stage_s, 3), "iterations": len(iters),
                      # CPU time the hypervisor gave to other guests while
                      # the timed jobs ran: high values explain slow runs
                      "steal_s": round(steal_s, 3),
                      "job_s_each": [round(i[0], 4) for i in iters],
                      "setup_s_each": [round(s, 4) for s in setup],
                      "jvm_vmhwm_mb": round(jvm_hwm, 1),
                      "jvm_mb": {k: round(v, 1) for k, v in jvm_mem.items()},
                      "heap_peak_mb_each": [round(v, 1) for v in heap_peaks],
                      "python_vmhwm_mb": sorted(round(v, 1) for v in rss.values()),
                      "python_mb": round(python_mb, 1),
                      "problems": problems[:10]}))
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        missing = set(units) - set(layers)
        extra = set(layers) - set(units)
        if missing or extra:
            raise RuntimeError(f"per-layer metrics out of step with "
                               f"BENCHMARK.json: missing {sorted(missing)}, "
                               f"unlisted {sorted(extra)}")
        metrics = {k: layers[k] for k in units}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {
            "job_s": job_s,
            "docs_per_s": docs / job_s,
            "input_mb_per_s": mb / job_s,
            "cpu_ms_per_doc": 1e3 * statistics.median(i[1] for i in iters) / docs,
            "peak_rss_mb": python_mb + sum(jvm_mem.values()),
            "setup_s": statistics.median(setup),
        }
    print(_result(failed == 0 and not problems, attempted, failed, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
