#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Runs from the repository root. One local[nproc] Spark session runs the
workload's jobs back to back: the first job ends set-up, the workload's
untimed warm-up jobs follow, and the jobs after them are timed until
--seconds have passed (at least two). Every job's output is checked after
the clock stops. The last stdout line is the result object; the line before
it is the run record (per-job times, host conditions).

--trace 1 is a separate run for per-layer metrics: Spark's event log is on,
set-up's jobs are labelled "setup", and after one untimed warm-up job the
jobs run in rounds of untraced, traced (spans + job descriptions) and,
where the workload has a sink, noop-sink jobs, for at least TRACE_SECONDS
and an even number of rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

T_IMPORT = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".kgbench"
# Every run times at least this many jobs, after the workload's untimed
# warm-up jobs. BENCHMARK.json sets run_seconds to 1, so a run times
# exactly two: with a time window the job count followed host speed (two
# jobs on a slow minute, three on a fast one), and the median jumped
# between the warm-up-heavy mean of two jobs and the second of three.
MIN_TIMED = 2
# The traced run keeps adding rounds until this long has passed and the
# number of rounds is even, so that every kind of job sits at the same
# mean place in a round. That is one ABBA block (two rounds) on every
# workload: a traced kg_resume run with two blocks took 117 s on a slow
# host, which a full comparison's time budget cannot spare.
TRACE_SECONDS = 20
# Driver heap cap (the package's SPARK_DRIVER_MEM knob, default 8g), a
# fixed young generation and the serial collector. The heap still grows
# only as it is used and is never pre-touched. G1 (the default) grows the
# heap by how much time recent collections took, so on a shared host the
# driver JVM's peak RSS varied by a quarter between identical runs
# (1.98-2.60 GB on doc_dedup); the serial collector sizes the old
# generation by the live data left after a collection (1.64-1.68 GB), and
# leaves the cores to the tasks instead of to concurrent GC threads.
DRIVER_MEM = "3g"
YOUNG_GEN = "512m"
GC = "-XX:+UseSerialGC"
MB = 1e6


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_conditions(before: list[int], load_before: tuple) -> dict:
    """nproc, 1-minute loadavg before/after, and the steal share of CPU
    time (from /proc/stat) over the run."""
    after = _cpu_times()
    d = [a - b for a, b in zip(after, before)]
    steal = d[7] if len(d) > 7 else 0
    return {"nproc": _cpus(), "loadavg_before": load_before[0],
            "loadavg_after": os.getloadavg()[0],
            "steal_frac": steal / max(1, sum(d[:8]))}


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class MemSampler(threading.Thread):
    """Samples summed RSS of the driver JVM and its Python workers (its
    descendant processes) every 0.2 s; keeps the peaks. The process tree
    is re-read once a second, which keeps the sampler's own share of the
    driver's interpreter small."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak_kb, self.peak_workers_kb = jvm_pid, 0, 0
        self.peak_jvm_kb, self.max_workers = 0, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        tick, workers_pids = 0, []
        while not self._stop_evt.is_set():
            if tick % 5 == 0:
                workers_pids = _descendants(self.pid)
            tick += 1
            jvm = _rss_kb(self.pid)
            workers = sum(_rss_kb(p) for p in workers_pids)
            self.peak_kb = max(self.peak_kb, jvm + workers)
            self.peak_workers_kb = max(self.peak_workers_kb, workers)
            self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
            self.max_workers = max(self.max_workers, len(workers_pids))
            self._stop_evt.wait(0.2)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def _old_gen_peak_mb(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getName() == "Tenured Gen":  # the serial collector's
            return pool.getPeakUsage().getUsed() / MB
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched; wait for both."""
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
        except Exception:  # noqa: BLE001 — still running: kill and reap
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _session(scratch: Path, trace: bool):
    from quad_processor_util_spark.session import get_spark

    conf = {
        "spark.local.dir": str(scratch / "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={scratch / 'tmp'} -Xmn{YOUNG_GEN} {GC}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (scratch / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(scratch / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("kgbench", parallelism=_cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from workloads import WORKLOADS, inputs_for

    inputs = inputs_for(WORK / "cache", workload, seed)
    scratch = WORK / "run" / str(os.getpid())
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("local", "tmp"):
        (scratch / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(scratch / "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "local")

    cpu0, load0 = _cpu_times(), os.getloadavg()
    t0 = time.perf_counter()
    spark = _session(scratch, trace)
    start_s = time.perf_counter() - t0
    from pyspark import SparkContext

    sampler = MemSampler(SparkContext._gateway.proc.pid)
    sampler.start()
    tracer = None
    if trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
    wl = WORKLOADS[workload](spark, inputs, scratch, tracer)
    try:
        if trace:
            # the event log splits out set-up's Python worker start-up
            spark.sparkContext.setJobDescription("setup")
        wl.setup()
        results = [wl.job(0)]
        spark.sparkContext.setJobDescription(None)
        setup_s = time.perf_counter() - t0
        jobs = [{"kind": "setup", "s": setup_s}]
        if trace:
            _traced_loop(wl, tracer, seconds, results, jobs)
        else:
            _timed_loop(wl, seconds, results, jobs)
        old_gen = _old_gen_peak_mb(spark) if trace else 0.0
    finally:
        sampler.stop()
        if tracer is not None:
            tracer.uninstall()
        _stop_spark(spark)

    checks = [wl.check(r) for r in results]
    passed = sum(ok for ok, _ in checks)
    timed = [j["s"] for j in jobs if j["kind"] == "timed"]
    job_s = _median(timed)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "rows": wl.rows,
        "job_times_s": [round(j["s"], 4) for j in jobs],
        "job_kinds": [j["kind"] for j in jobs],
        "host": host_conditions(cpu0, load0),
        "peak_rss_mb": {"total": sampler.peak_kb * 1024 / MB,
                        "jvm": sampler.peak_jvm_kb * 1024 / MB,
                        "py_workers": sampler.peak_workers_kb * 1024 / MB,
                        "py_processes": sampler.max_workers},
    }
    if trace:
        metrics = _layer_metrics(wl, tracer, scratch, jobs)
        metrics["session.start_s"] = start_s
        metrics["driver.old_gen_peak_mb"] = old_gen
        metrics["py_worker.peak_rss_mb"] = sampler.peak_workers_kb * 1024 / MB
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": wl.rows / job_s,
            "peak_rss_mb": sampler.peak_kb * 1024 / MB,
            "out_mb": _median([b for _, b in checks]) / MB,
            "pass_frac": passed / len(checks),
        }
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in bench["per_layer" if trace else "end_to_end"]}
    shutil.rmtree(scratch, ignore_errors=True)
    record["run_wall_s"] = round(time.perf_counter() - T_IMPORT, 2)
    return {
        "record": record,
        "result": {
            "correct": passed == len(checks),
            "attempted": len(checks),
            "failed": len(checks) - passed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        },
    }


def _timed_loop(wl, seconds, results, jobs) -> None:
    i = 1
    for _ in range(wl.warmup):
        t = time.perf_counter()
        results.append(wl.job(i))
        jobs.append({"kind": "warmup", "s": time.perf_counter() - t})
        i += 1
    start = time.perf_counter()
    timed = 0
    while True:
        t = time.perf_counter()
        results.append(wl.job(i))
        jobs.append({"kind": "timed", "s": time.perf_counter() - t})
        i += 1
        timed += 1
        if time.perf_counter() - start >= seconds and timed >= MIN_TIMED:
            return


def _traced_loop(wl, tracer, seconds, results, jobs) -> None:
    """Rounds of (untraced, traced[, noop sink]) jobs; each labelled by
    its job description so the event log can be split per job."""
    sc = wl.spark.sparkContext
    # one untimed job first: the first job after set-up is still far up the
    # warm-up curve and would bias whichever kind ran it
    t = time.perf_counter()
    results.append(wl.job(1))
    jobs.append({"kind": "warmup", "s": time.perf_counter() - t})
    start = time.perf_counter()
    i, rounds = 2, 0
    while True:
        kinds = ["untraced", "traced"] + (["noop"] if wl.has_sink else [])
        # ABBA order, so a warm-up trend does not favour either kind
        for kind in kinds if rounds % 2 == 0 else kinds[::-1]:
            label = f"{kind}{i}"
            tracer.label = label
            sc.setJobDescription(label)
            tracer.active = kind == "traced"
            t = time.perf_counter()
            res = wl.job(i, sink=kind != "noop")
            el = time.perf_counter() - t
            tracer.active = False
            if kind == "traced":
                # row counts of the captured frames: extra jobs, after the
                # clock
                sc.setJobDescription(f"probe{i}")
                wl.probe_counts()
            sc.setJobDescription(None)
            if kind != "noop":
                results.append(res)
            jobs.append({"kind": kind, "s": el, "label": label})
            i += 1
        rounds += 1
        if time.perf_counter() - start >= max(seconds, TRACE_SECONDS) \
                and rounds % 2 == 0:
            return


def _balanced(a: list[dict], b: list[dict]) -> float:
    """Mean a job time minus mean b job time. Over an even number of ABBA
    rounds both kinds sit at the same mean place in a round, so a linear
    warm-up trend cancels."""
    return (sum(j["s"] for j in a) / len(a)
            - sum(j["s"] for j in b) / len(b))


def _kernel(wl) -> tuple[float, float]:
    """extract_batch_arrow called in-process on the workload's turns as
    10k-row Arrow batches in stable order: (us per turn, mean distinct-text
    share per batch)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pandas as pd
    from quad_processor_util_spark.datagen import build_gazetteer
    from quad_processor_util_spark.plans.extract_vec import extract_batch_arrow

    t = pq.read_table(wl.inp / "transcripts.parquet",
                      columns=["conv_id", "turn_idx", "role", "text", "tool"])
    t = t.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    gaz = build_gazetteer(pd.read_parquet(wl.inp / "catalog.parquet"))
    batches = t.to_batches(max_chunksize=10_000)
    shares = [len(pc.unique(b.column("text"))) / b.num_rows for b in batches]
    emit_unknown = wl.name == "kg_build"
    start = time.perf_counter()
    for b in batches:
        extract_batch_arrow(b, gaz, emit_unknown=emit_unknown)
    us = (time.perf_counter() - start) * 1e6 / t.num_rows
    return us, sum(shares) / len(shares)


def _layer_metrics(wl, tracer, scratch: Path, jobs) -> dict:
    from tracing import (
        EventLog,
        LAZY,
        event_log_file,
        is_conv_exchange,
        is_extract,
        is_identity_exchange,
        span_seconds,
        top_level_seconds,
        under_canonicalize,
    )

    log = EventLog(event_log_file(str(scratch / "eventlog")))
    cores = _cpus()
    traced = [j for j in jobs if j["kind"] == "traced"]
    untraced = [j for j in jobs if j["kind"] == "untraced"]
    noop = [j for j in jobs if j["kind"] == "noop"]
    per: dict[str, list[float]] = {}

    def add(name, v):
        per.setdefault(name, []).append(float(v))

    for j in traced:
        lb = j["label"]
        ms = lambda pick, m: log.metric_sum(lb, pick, m)  # noqa: E731
        add("sources.scan_mb", ms(lambda n: n.name.startswith("Scan"),
                                  "size of files read") / MB)
        add("sources.files_written", ms(lambda n: True,
                                        "number of written files"))
        add("sources.bytes_written_mb", ms(lambda n: True,
                                           "written output") / MB)
        add("stable_order.shuffle_mb",
            ms(is_conv_exchange, "shuffle bytes written") / MB)
        add("stable_order.spill_mb",
            ms(lambda n: n.name == "Sort" and n.text.startswith(
                "Sort [conv_id#"), "spill size") / MB)
        total = ms(is_extract, "time to run Python workers") / 1e3
        sent = ms(is_extract, "data sent to Python workers") / MB
        back = ms(is_extract, "data returned from Python workers") / MB
        add("extract.python_total_s", total)
        add("extract.to_python_mb", sent)
        add("extract.from_python_mb", back)
        add("extract.out_in_bytes_ratio", back / sent if sent else 0.0)
        add("linking.call_s", span_seconds(tracer.spans, lb, "linking"))
        add("cc.call_s", top_level_seconds(tracer.spans, lb,
                                           {"cc", "cc.components"}))
        add("cc.jobs", len(log.job_ids(lb, "cc")))
        add("canonicalize.broadcast_mb",
            ms(under_canonicalize, "data size") / MB)
        rows_in, rows_out = log.dedup_rows(lb)
        add("nt_dedup.rows_in", rows_in)
        add("nt_dedup.rows_out", rows_out)
        add("nt_dedup.shuffle_mb",
            ms(is_identity_exchange, "shuffle bytes written") / MB)
        buckets = [log.job_wall_s(lb, f"checkpoint.bucket{b}")
                   for b in range(1, tracer.bucket + 1)] \
            if wl.name == "kg_resume" else []
        add("checkpoint.buckets_run", len(buckets))
        add("checkpoint.bucket_s", _median(buckets))
        add("checkpoint.probe_s", log.job_wall_s(lb, "checkpoint.probe")
            if wl.name == "kg_resume" else 0.0)
        add("checkpoint.jobs", len(log.job_ids(lb))
            if wl.name == "kg_resume" else 0)
        add("dedup.clusters_call_s",
            span_seconds(tracer.spans, lb, "dedup.clusters"))
        add("dedup.clusters_action_s",
            span_seconds(tracer.spans, lb, "dedup.clusters.action"))
        add("dedup.jaccard_call_s",
            span_seconds(tracer.spans, lb, "dedup.jaccard"))
        add("dedup.jaccard_action_s",
            span_seconds(tracer.spans, lb, "dedup.jaccard.action"))
        add("dedup.single_partition_exchanges", log.count_nodes(
            lb, lambda n: n.name == "Exchange" and "SinglePartition" in n.text))
        add("driver.call_s", top_level_seconds(tracer.spans, lb, LAZY))
        add("executor.busy_frac",
            log.task_sum(lb, "run_ms") / 1e3 / (cores * j["s"]))
        add("executor.gc_s", log.task_sum(lb, "gc_ms") / 1e3)
        add("executor.failed_tasks", log.task_sum(lb, "failed"))
        add("spark.jobs", len(log.job_ids(lb)))
        add("spark.stages", log.stages(lb))

    out = {k: _median(v) for k, v in per.items()}
    n_traced = max(1, len(traced))
    c = tracer.counts
    cands = c.get("linking.candidates", 0) / n_traced
    links = c.get("linking", 0) / n_traced
    lsh = c.get("dedup.lsh", 0) / n_traced
    ver = c.get("dedup.verify", 0) / n_traced
    out["linking.candidates"] = cands
    out["linking.links"] = links
    out["linking.links_per_candidate"] = links / cands if cands else 0.0
    out["dedup.lsh_candidates"] = lsh
    out["dedup.verified_pairs"] = ver
    out["dedup.verified_per_candidate"] = ver / lsh if lsh else 0.0
    out["sources.sink_s"] = _balanced(untraced, noop) if noop else 0.0
    out["trace.overhead_s"] = _balanced(traced, untraced)
    if wl.family == "kg":
        us, share = _kernel(wl)
    else:
        us, share = 0.0, 0.0
    out["extract_vec.kernel_us_per_turn"] = us
    out["extract_vec.distinct_text_frac"] = share
    # Python workers start (and are reused from then on) in set-up
    out["extract.python_boot_s"] = log.metric_sum(
        "setup", is_extract, "time to start Python workers") / 1e3
    out["extract.python_init_s"] = log.metric_sum(
        "setup", is_extract, "time to initialize Python workers") / 1e3
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "quad_processor_util_spark").is_dir():
        print(f"kgbench: no quad_processor_util_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out["record"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
