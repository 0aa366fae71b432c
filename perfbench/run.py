#!/usr/bin/env python3
"""Lake benchmark: incremental-upsert ETL, lake reads and corpus curation.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 5 --trace 0

Starts the engine with ``session.get_spark_session`` on ``local[nproc]``,
generates the workload's inputs from ``--seed``, seeds the engine, warms
up once, then runs closed-loop operations for at least ``--seconds`` and
at least the workload's minimum operation count, and checks every
output. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``; with ``--trace 1`` the per-layer metrics of
a run that alternates untraced and traced operations for twice as long.
The line before it is a report with the workload's named metrics, the
input sizes and the effective Spark configuration. See README.md.
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
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_hudi_etl_pipeline_spark"
RSS_INTERVAL_S = 0.2
DRIVER_MEM = "2g"

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_cpu_s": "s", "items_per_cpu_s": "1/s"}


# --------------------------------------------------------------------------
# Process tree: memory and CPU
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def engine_cpu_s() -> float:
    """CPU seconds used so far by this process (the driver-side Python of
    the engine) and its descendants (the JVM and its Python workers),
    counting children those processes have already reaped."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK") + time.process_time()


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def engine_rss_kb() -> int:
    """Summed RSS of the driver JVM and the Python daemons and workers it
    started. Each address space is counted once: when the JVM launches a
    command (``chmod``, ``setsid``, ...), the child shares the JVM's memory
    until it execs and reads as a second ``java`` with the JVM's RSS, so
    ``java`` processes under the JVM, and the commands they become, are
    left out, as is the benchmark's own interpreter."""
    kids, python = _children(), os.path.realpath(sys.executable)
    total, todo = 0, [(os.getpid(), False)]  # (pid, is under the JVM)
    while todo:
        pid, under_jvm = todo.pop()
        for c in kids.get(pid, []):
            exe = _exe(c)
            counted = exe == python if under_jvm else os.path.basename(exe) == "java"
            if counted:
                total += _rss_kb(c)
            todo.append((c, under_jvm or counted))
    return total


class RssSampler(threading.Thread):
    """Peak of ``engine_rss_kb`` over the run."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(RSS_INTERVAL_S):
            self.peak_kb = max(self.peak_kb, engine_rss_kb())

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# Engine start/stop
# --------------------------------------------------------------------------


def launcher_env(work: str) -> dict[str, str]:
    """Environment the engine is launched with: every core this process
    may use, scratch space inside the work directory, and a fixed 2 GiB
    driver heap (the session's 16g default exceeds small hosts; a heap
    the workloads fill keeps the peak RSS from following GC sizing)."""
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_ENV": "local",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(work, "tmp"),
        # the JVM spark-submit runs first to build the driver command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
    }


def start_engine(work: str):
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    tmp = os.environ["TMPDIR"]
    spark = get_spark_session(
        app_name="perfbench",
        extra_configs={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap is committed up front, so the peak RSS does
            # not follow when the collector chooses to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_engine(spark) -> None:
    """Stop Spark and the JVM it runs in, then wait until every process
    it started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for grace in (30.0, 5.0):  # wait, then kill what is left and wait again
        deadline = time.monotonic() + grace
        while any(map(_running, started)) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in filter(_running, started):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _running(pid: int) -> bool:
    """The process exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def effective_config(spark) -> dict[str, str]:
    conf = dict(spark.sparkContext.getConf().getAll())
    keys = (
        "spark.master",
        "spark.driver.memory",
        "spark.default.parallelism",
        "spark.serializer",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.ui.showConsoleProgress",
    )
    out = {k: conf.get(k) for k in keys}
    out["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
    jsc = spark.sparkContext._jsc.sc()
    infos = jsc.statusTracker().getExecutorInfos()
    out["storage_memory_bytes"] = str(sum(int(i.totalOnHeapStorageMemory()) for i in infos))
    return out


# --------------------------------------------------------------------------
# Measurement
# --------------------------------------------------------------------------


def tail(values: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n, "note": "fewer than 11 samples"}
    return {"value": sorted(values)[n - 11], "percentile": round(100.0 * (n - 10) / n, 1), "samples": n}


def measure(wl, tr, seconds: float, traced_run: bool) -> tuple[list[dict], int, bool]:
    """Closed loop for ``seconds`` (twice that in a traced run, where
    each operation slot runs untraced then traced). Returns the samples,
    the failed-operation count and whether every output was right."""
    from workloads import CheckFailed

    samples: list[dict] = []
    failed, right = 0, True
    deadline = time.perf_counter() + seconds * (2 if traced_run else 1)
    k = 0
    while time.perf_counter() < deadline or k < wl.MIN_OPS * (2 if traced_run else 1):
        # traced runs pair each slot; which half goes first alternates
        order = (False, True) if (k // 2) % 2 == 0 else (True, False)
        for traced in order if traced_run else (False,):
            if traced:
                tr.resolve_jobs(before_op=k)
            tr.active, tr.op = traced, k
            c0 = engine_cpu_s()
            t0 = time.perf_counter()
            try:
                kind, items = wl.op(k // 2 if traced_run else k, k)
                ok = True
            except CheckFailed:
                traceback.print_exc()
                kind, items, ok, right = "failed", 0, False, False
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                kind, items, ok = "failed", 0, False
            dt = time.perf_counter() - t0
            cpu = engine_cpu_s() - c0
            tr.active = False
            if traced and ok:
                tr.resolve_observations()
            elif traced:
                tr.discard_observations()
            failed += not ok
            samples.append(
                {"kind": kind, "s": dt, "cpu": cpu, "items": items, "traced": traced, "ok": ok}
            )
            k += 1
    if traced_run:
        time.sleep(0.5)  # let the listener bus register the last jobs
        tr.resolve_jobs()
    return samples, failed, right


def end_to_end(wl, samples: list[dict]) -> tuple[dict, dict]:
    """Gated metrics from the untraced operations, and the workload's
    named report metrics.

    ``op_cpu_s`` is the median engine CPU time of each interactive
    operation kind, averaged with the kind's weight in the mix;
    ``items_per_cpu_s`` is the items (rows, documents) the bulk
    operation kinds completed per engine CPU second. Wall-clock
    latencies and throughput, built the same way, go in the report."""
    ok = [s for s in samples if s["ok"] and not s["traced"]]
    pre = wl.PREFIX
    by_kind: dict[str, list[dict]] = {}
    for s in ok:
        by_kind.setdefault(s["kind"], []).append(s)
    named: dict = {f"{pre}.samples": len(ok), f"{pre}.op_tail_s": tail([s["s"] for s in ok])}
    for k, v in sorted(by_kind.items()):
        named[f"{pre}.{k}_p50_s"] = statistics.median(s["s"] for s in v)
        named[f"{pre}.{k}_cpu_s"] = statistics.median(s["cpu"] for s in v)
        named[f"{pre}.{k}_samples"] = len(v)
    scans = [s["s"] for s in ok if s["kind"].startswith("scan:")]
    if scans:
        named[f"{pre}.scan_p50_s"] = statistics.median(scans)
    if not all(by_kind.get(k) for k in (*wl.LATENCY_MIX, *wl.THROUGHPUT_KINDS)):
        return {"op_cpu_s": None, "items_per_cpu_s": None}, named

    def mix(stat: str) -> float:
        weights = wl.LATENCY_MIX
        return sum(w * named[f"{pre}.{k}_{stat}"] for k, w in weights.items()) / sum(
            weights.values()
        )

    bulk = [s for k in wl.THROUGHPUT_KINDS for s in by_kind[k]]
    items = sum(s["items"] for s in bulk)
    metrics = {
        "op_cpu_s": mix("cpu_s"),
        "items_per_cpu_s": items / sum(s["cpu"] for s in bulk),
        "op_p50_s": mix("p50_s"),
        "items_per_s": items / sum(s["s"] for s in bulk),
    }
    named.update({f"{pre}.{a}": metrics[m] for a, m in wl.ALIASES.items()})
    return metrics, named


def per_layer(tr, session_s: float, report: dict, samples: list[dict]) -> dict:
    """Per-layer metrics from the traced operations. Times, jobs, tasks
    and byte counts are medians over the operations that entered the
    span, summed within an operation; ratios are sums over the run. A
    layer the workload never enters reads 0."""

    def dur(r):
        return r["end"] - r["start"]

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    def attr(key):
        return lambda r: r["attrs"].get(key, 0)

    from workloads import LAYER_SPANS

    m: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
    for span in LAYER_SPANS:
        m[f"{span}_s"] = (tr.per_op_median(span, dur), "s")
    m["runner.self_s"] = (tr.per_op_median("runner.run", tr.self_time), "s")
    for span in LAYER_SPANS:
        m[f"{span}.jobs"] = (tr.per_op_median(span, lambda r: tr.inclusive(r, "jobs")), "count")
        m[f"{span}.tasks"] = (tr.per_op_median(span, lambda r: tr.inclusive(r, "tasks")), "count")
    extracted = tr.attr_sum("op.etl_run", "rows_extracted") + tr.attr_sum("op.pull", "rows_extracted")
    landed = tr.attr_sum("op.etl_run", "rows_landed") + tr.attr_sum("op.pull", "rows_landed")
    m["runner.rows_extracted_ratio"] = (ratio(extracted, landed), "ratio")
    m["runlog.log_bytes_written"] = (
        tr.per_op_median("merge.log_upsert", attr("bytes_written")),
        "bytes",
    )
    m["merge.bytes_written"] = (tr.per_op_median("merge.upsert", attr("bytes_written")), "bytes")
    m["merge.write_amp"] = (
        ratio(tr.attr_sum("merge.upsert", "bytes_written"), tr.attr_sum("op.etl_run", "input_bytes")),
        "ratio",
    )
    m["merge.files_rewritten_ratio"] = (
        ratio(tr.attr_sum("merge.upsert", "files_rewritten"), tr.attr_sum("merge.upsert", "live_files")),
        "ratio",
    )
    tables = [
        r["attrs"]
        for name in ("merge.upsert", "merge.lookup")
        for recs in tr.by_op(name).values()
        for r in recs
        if r["attrs"].get("table_files")
    ]
    m["merge.table_files"] = (
        statistics.median(a["table_files"] for a in tables) if tables else 0.0,
        "count",
    )
    m["merge.mean_file_bytes"] = (
        statistics.median(a["table_bytes"] / a["table_files"] for a in tables) if tables else 0.0,
        "bytes",
    )
    m["merge.space_amp"] = (report.get("etl.space_amp", report.get("lake.space_amp", 0.0)), "ratio")
    scanned = tr.attr_sum("merge.lookup", "files_scanned")
    m["merge.lookup_pruning_ratio"] = (ratio(scanned, tr.attr_sum("merge.lookup", "live_files")), "ratio")
    m["merge.lookup_hit_ratio"] = (ratio(tr.attr_sum("op.lookup", "hit_files"), scanned), "ratio")
    cands = tr.per_op_median("dedup.candidates", attr("rows"))
    verified = tr.per_op_median("op.pass", attr("verified_pairs"))
    m["dedup.candidate_pairs"] = (cands, "count")
    m["dedup.verified_pairs"] = (verified, "count")
    m["dedup.candidate_precision"] = (ratio(verified, cands), "ratio")
    m["dedup.dup_recall"] = (report.get("curation.dup_recall", 0.0), "ratio")
    m["similarity.knn_recall_at_10"] = (report.get("curation.knn_recall_at_10", 0.0), "ratio")
    pairs = [p for p in zip(samples[0::2], samples[1::2]) if p[0]["ok"] and p[1]["ok"]]
    m["trace.overhead_ratio"] = (
        ratio(
            sum(s["s"] for p in pairs for s in p if s["traced"]),
            sum(s["s"] for p in pairs for s in p if not s["traced"]),
        ),
        "ratio",
    )
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def run(args, work: str) -> dict:
    import workloads
    from spans import Tracer

    sampler = RssSampler()
    sampler.start()
    t0 = time.perf_counter()
    spark = start_engine(work)
    session_s = time.perf_counter() - t0
    try:
        tr = Tracer(spark)
        if args.trace:
            workloads.install_wrappers(tr)
        wl = workloads.WORKLOADS[args.workload](spark, tr, args.seed, work)
        t = time.perf_counter()
        wl.setup()
        seed_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        config = effective_config(spark)
        samples, failed, right = measure(wl, tr, args.seconds, bool(args.trace))
        try:
            wl.check()
        except workloads.CheckFailed:
            traceback.print_exc()
            right = False
        report = wl.report() if right else {}
        metrics, named = end_to_end(wl, samples)
        tr.uninstall()
    finally:
        stop_engine(spark)
        peak_mb = sampler.stop()
    setup_s = session_s + seed_s + warm_s
    metrics.update(setup_s=setup_s, peak_rss_mb=peak_mb)
    attempted = len(samples)
    if args.trace:
        out_metrics = per_layer(tr, session_s, report, samples)
    else:
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in E2E_UNITS.items()}
    named.update(report)
    print(
        json.dumps(
            {
                "report": {
                    "workload": args.workload,
                    "seed": args.seed,
                    "trace": args.trace,
                    "session_start_s": session_s,
                    "seeding_s": seed_s,
                    "warm_up_s": warm_s,
                    **named,
                    "spark_config": config,
                }
            }
        )
    )
    correct = right and failed == 0 and all(
        v["value"] is not None for v in out_metrics.values()
    )
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out_metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_incremental", "lake_query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be a non-negative integer")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    env = launcher_env(work)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    sys.path[:0] = [ROOT, HERE]
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
