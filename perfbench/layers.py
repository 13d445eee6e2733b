"""The traced run: per-layer metrics for one workload.

After the untimed end-to-end iterations, a fresh context with Spark's
event log on runs the workload's job once more, with one job description
per public call (``<module>.<function>``). The stages of each description
are folded into its layer: executor run time, CPU, GC, shuffle, spill and
the Python SQL metrics (``time to run Python workers``, ...). Kernel stage
times come from replaying the kernel stage by stage on a seeded sample of
the workload's own pages in this process, on one core.

Reconciliation: the traced job's window holds cores x job_s core-seconds.
Each is put in one term, measured on its own:

- ``kernel_s``: docs x the kernel's one-core rate from the replay;
- ``warc_s``: Spark's Python time of a separate ``read_warc`` job;
- ``handoff_jvm_s``: executor run time of the Python stages less the two
  above: the Arrow/pandas hand-off and the JVM's scan and write sides;
- ``commit_s``: executor run time of the job's other stages (sinks,
  manifest commits);
- ``idle_core_s``: cores that ran no task while one of our jobs ran;
- ``driver_s``: every core while no Spark job ran (planning, listing and
  the driver's own writes).

What is left is ``trace.unattributed_s``: per-task time outside the
executor's run time, and jobs run under another description. The run is
marked incorrect when it exceeds 10% of cores x job_s, when a term comes
out negative (the replayed kernel rate and Spark's task time disagree),
when the kernel stage times miss the kernel total by more than 10%, or
when the traced job's output fails its check.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import kernel_stages
import probes

TOLERANCE = 0.10
WARC_DESC = "warc.read_warc"
LAYER_METRICS = (
    "session.first_start_s", "session.start_s", "session.warmup_s",
    "warc.records", "warc.mb_per_s_1core", "warc.stage_s",
    "pipeline.executor_run_s", "pipeline.executor_cpu_s", "pipeline.gc_s",
    "pipeline.python_total_s", "pipeline.python_boot_init_s",
    "pipeline.arrow_sent_mb", "pipeline.arrow_recv_mb", "pipeline.handoff_s",
    "pipeline.tasks", "pipeline.task_max_over_p50", "pipeline.idle_core_frac",
    "pipeline.shuffle_write_mb", "pipeline.scaling_eff_1to4",
    "kernel.busy_s", "kernel.ms_per_doc_1core", "kernel.us_per_kb_1core",
    "kernel.p50_ms", "kernel.p99_ms", "kernel.retry_frac",
    "kernel.extractor_mix", "kernel.stage_sum_over_total",
    "dom.parse_ms", "schema_org.ms", "metadata.ms", "selectors.ms",
    "scoring.ms", "standardize.ms", "extractors.ms",
    "manifest.groups", "manifest.commit_s", "manifest.out_bytes_per_in_byte",
    "manifest.resume_noop_s",
    "trace.job_s", "trace.overhead_s", "trace.kernel_s", "trace.warc_s",
    "trace.handoff_jvm_s", "trace.commit_s", "trace.idle_core_s",
    "trace.driver_s", "trace.unattributed_s", "trace.reconcile_ratio",
)


def run(wl, sess, staged: dict, work: str, untraced_job_s: float) -> tuple:
    """``(metrics, problems)``: per-layer metrics, layers the workload does
    not use reading 0, and what failed the run's checks."""
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    tracer = {"cc_extract": _cc_extract, "warc_heavy_tail": _warc}[wl.name]
    sess.stop_context()
    sess.start(event_log=True)
    warm = os.path.join(work, "trace_warm")
    wl.job(sess.spark, staged, "warm", warm)
    shutil.rmtree(warm)
    out = os.path.join(work, "trace_out")
    res, desc, (t0_ms, t1_ms) = tracer(wl, sess, staged, out, m)
    _a, failed, problems = wl.check(staged, out, res)
    if failed:
        problems = [f"traced job: {failed} failed docs"] + problems
    shutil.rmtree(out)
    sess.stop_context()  # closes the event log
    stages, jobs = probes.read_event_log(sess.event_log)
    job_stages = [s for s in stages.values() if s["desc"] == desc]
    py = [s for s in job_stages if s["python"][probes.PY_TOTAL] > 0]
    job_s = (t1_ms - t0_ms) / 1e3
    total = sess.cores * job_s
    ct = probes.core_time(job_stages, jobs, desc.__eq__, sess.cores, t0_ms, t1_ms)
    f = _pipeline(m, py, ct["idle"] / total)
    kernel_s = staged["docs"] * m["kernel.ms_per_doc_1core"] / 1e3
    warc_s = probes.fold([s for s in stages.values()
                          if s["desc"] == WARC_DESC])["python_total_s"]
    # the kernel's own parse_time_ms (kernel.busy_s) starts after the first
    # parse and the metadata pass: subtracting it would count those as
    # hand-off, so the replayed one-core rate stands in for it
    m["pipeline.handoff_s"] = f["python_total_s"] - kernel_s - warc_s
    terms = {
        "kernel_s": kernel_s, "warc_s": warc_s,
        "handoff_jvm_s": f["run_s"] - kernel_s - warc_s,
        "commit_s": sum(s["run_ms"] for s in job_stages if s not in py) / 1e3,
        "idle_core_s": ct["idle"], "driver_s": ct["driver"],
    }
    attributed = sum(terms.values())
    m.update({f"trace.{k}": v for k, v in terms.items()})
    m.update({"trace.job_s": job_s, "trace.overhead_s": job_s - untraced_job_s,
              "trace.unattributed_s": total - attributed,
              "trace.reconcile_ratio": attributed / total})
    problems += [f"trace.{k} = {v:.3f} s < 0" for k, v in terms.items() if v < 0]
    for name in ("trace.reconcile_ratio", "kernel.stage_sum_over_total"):
        if abs(m[name] - 1.0) > TOLERANCE:
            problems.append(f"{name} = {m[name]:.3f}, outside 1 +- {TOLERANCE}")
    if wl.name == "cc_extract":
        m["manifest.commit_s"] = terms["commit_s"]
        m["pipeline.scaling_eff_1to4"] = _scaling(sess, staged)
    return m, problems


def _timed(sess, desc: str, fn):
    """(result, wall ms at start, wall ms at end) of ``fn`` run under one
    job description."""
    sess.describe(desc)
    t0 = time.time() * 1e3
    try:
        res = fn()
    finally:
        sess.describe(None)
    return res, t0, time.time() * 1e3


def _pipeline(m: dict, stages: list, idle_frac: float) -> dict:
    f = probes.fold(stages)
    m.update({
        "pipeline.executor_run_s": f["run_s"],
        "pipeline.executor_cpu_s": f["cpu_s"], "pipeline.gc_s": f["gc_s"],
        "pipeline.python_total_s": f["python_total_s"],
        "pipeline.python_boot_init_s": f["python_boot_init_s"],
        "pipeline.arrow_sent_mb": f["arrow_sent_mb"],
        "pipeline.arrow_recv_mb": f["arrow_recv_mb"],
        "pipeline.tasks": f["tasks"],
        "pipeline.task_max_over_p50": f["task_max_over_p50"],
        "pipeline.idle_core_frac": idle_frac,
        "pipeline.shuffle_write_mb": f["shuffle_write_mb"],
    })
    return f


def _kernel(m: dict, out_data: str, sample: list) -> None:
    """Kernel counts from the job's own output rows, and one-core stage
    times from the in-process replay."""
    import pyarrow.parquet as pq

    t = pq.read_table(out_data, columns=["parse_time_ms", "retry_used",
                                         "extractor_type"])
    ms = sorted(t.column("parse_time_ms").to_pylist())
    n = len(ms)
    m["kernel.busy_s"] = sum(ms) / 1e3
    m["kernel.p50_ms"] = float(statistics.median(ms))
    m["kernel.p99_ms"] = float(ms[min(n - 1, int(0.99 * n))])
    m["kernel.retry_frac"] = sum(bool(x) for x in t.column("retry_used").to_pylist()) / n
    m["kernel.extractor_mix"] = sum(
        x is not None for x in t.column("extractor_type").to_pylist()) / n
    st = kernel_stages.measure(sample)
    m["kernel.ms_per_doc_1core"] = st["total_ms"]
    m["kernel.us_per_kb_1core"] = st["us_per_kb"]
    for stage in kernel_stages.STAGES:
        name = "dom.parse_ms" if stage == "dom.parse" else f"{stage}.ms"
        m[name] = st[f"{stage}_ms"]
    m["kernel.stage_sum_over_total"] = sum(
        st[f"{s}_ms"] for s in kernel_stages.STAGES) / st["total_ms"]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def _cc_extract(wl, sess, staged, out, m):
    desc = "manifest.run_extraction_job"
    res, t0, t1 = _timed(sess, desc, lambda: wl.job(sess.spark, staged, "input", out))
    m["manifest.groups"] = res["groups_run"]
    m["manifest.out_bytes_per_in_byte"] = _dir_bytes(os.path.join(out, "data")) / staged["bytes"]
    _r, r0, r1 = _timed(sess, "manifest.resume", lambda: wl.job(sess.spark, staged, "input", out))
    m["manifest.resume_noop_s"] = (r1 - r0) / 1e3
    _kernel(m, os.path.join(out, "data"), staged["sample"])
    return res, desc, (t0, t1)


def _scaling(sess, staged) -> float:
    """Throughput at local[cores] over cores x throughput at local[1], on
    half the cc_extract input through extract_pages."""
    from defuddle_spark.spark.pipeline import extract_pages

    inp = os.path.join(staged["root"], "input")
    files = sorted(os.path.join(inp, f) for f in os.listdir(inp))
    part = files[:len(files) // 2]
    times = {}
    for cores in (1, sess.cores):
        sess.start(master_cores=cores)
        spark = sess.spark
        warm = spark.read.parquet(os.path.join(staged["root"], "warm"))
        extract_pages(warm).write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        extract_pages(spark.read.parquet(*part)).write.format("noop").mode("overwrite").save()
        times[cores] = time.perf_counter() - t0
        sess.stop_context()
    return times[1] / (sess.cores * times[sess.cores])


def _warc(wl, sess, staged, out, m):
    from defuddle_spark.spark.warc import iter_warc_records, read_warc

    desc = "pipeline.extract_pages"
    res, t0, t1 = _timed(sess, desc, lambda: wl.job(sess.spark, staged, "input", out))
    inp = os.path.join(staged["root"], "input")
    n, s0, s1 = _timed(sess, WARC_DESC, lambda: read_warc(sess.spark, inp).count())
    m["warc.records"] = n
    m["warc.stage_s"] = (s1 - s0) / 1e3
    payload, c0 = 0, time.perf_counter()
    for f in sorted(os.listdir(inp)):
        with open(os.path.join(inp, f), "rb") as fh:
            payload += sum(len(r["payload"]) for r in iter_warc_records(fh.read()))
    m["warc.mb_per_s_1core"] = payload / 1e6 / (time.perf_counter() - c0)
    _kernel(m, os.path.join(out, "data"), staged["sample"])
    return res, desc, (t0, t1)
