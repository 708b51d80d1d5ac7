"""Measurement machinery shared by the workloads: the host-fit Spark
session, the host steal probe, process-tree memory, percentiles, and
the tracer that wraps every call the benchmark makes into the engine.

Nothing here reaches inside ``ais_etl_spark``: spans are taken around
public calls, and the Spark stage metrics under a span come from the
job group the tracer sets around the call, read back through
``statusTracker().getJobIdsForGroup`` → ``getJobInfo().stageIds`` →
``statusStore().lastStageAttempt``.
"""

from __future__ import annotations

import contextlib
import json
import multiprocessing as mp
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

# Host-fit settings: a JVM heap and a disk shuffle dir that fit a
# 4-core / 15 GB host next to Python workers (tmpfs shuffle counts
# against RAM), and a worker PYTHONPATH so UDF workers can import the
# engine from the checkout.
HEAP = "3g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples beyond
    it, and its value; ``(0, 0)`` below eleven samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return 0.0, 0
    pct = int(100 * (n - 10) / n)
    return xs[min(n - 1, int(pct / 100 * n))], pct


def host_reading() -> dict:
    """Single-thread and all-core runs of ``scripts/host_probe.py``'s
    fixed work. ``steal_factor`` near 1 means every core was really
    available; well above 1 means the host took parallel capacity."""
    import host_probe

    n = cores()
    single = host_probe._work(0)
    # forked before the JVM starts, as host_probe.py itself does
    with mp.get_context("fork").Pool(n) as pool:
        t0 = time.perf_counter()
        per_proc = pool.map(host_probe._work, range(n))
        parallel = time.perf_counter() - t0
        pool.close()
        pool.join()
    return {
        "n_procs": n,
        "single_sec": round(single, 3),
        "parallel_sec": round(parallel, 3),
        "per_proc_max": round(max(per_proc), 3),
        "steal_factor": round(parallel / single, 3),
    }


def start_spark(work: str):
    """``local[nproc]`` session with every temporary path inside ``work``."""
    from ais_etl_spark import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    n = cores()
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:-UsePerfData",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )


def remove_tree(path: str) -> None:
    """``shutil.rmtree`` with the unlinks spread over threads. On a
    disk mounted with online discard an unlink of a file already
    written back can wait tens of milliseconds, and one at a time a
    run's few hundred files then take seconds."""
    files, dirs = [], []
    for root, ds, fs in os.walk(path):
        files += [os.path.join(root, f) for f in fs]
        dirs += [os.path.join(root, d) for d in ds]
    with ThreadPoolExecutor(16) as ex:
        list(ex.map(_unlink, files))
        # deepest first, one depth at a time
        by_depth: dict[int, list[str]] = {}
        for d in dirs:
            by_depth.setdefault(d.count(os.sep), []).append(d)
        for depth in sorted(by_depth, reverse=True):
            list(ex.map(_rmdir, by_depth[depth]))
    shutil.rmtree(path, ignore_errors=True)


def _unlink(path: str) -> None:
    with contextlib.suppress(OSError):
        os.unlink(path)


def _rmdir(path: str) -> None:
    with contextlib.suppress(OSError):
        os.rmdir(path)


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident sets of this process and every process
    under it (the Spark JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += _hwm_kb(pid)
        stack.extend(children.get(pid, []))
    return total / 1024


STAGE_FIELDS = (
    "jobs", "stages", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "input_bytes", "shuffle_write_bytes", "output_bytes",
)


def stage_sums(spark, job_ids, window: tuple[float, float] | None = None) -> dict:
    """Stage metrics summed over ``job_ids``; with ``window`` (epoch
    seconds) only stages submitted inside it count."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    jobs: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # evicted or never run: nothing to count
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            if window is not None:
                sub = sd.submissionTime()
                t = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
                if not window[0] <= t < window[1]:
                    continue
            jobs.add(j)
            out["stages"] += 1
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["jvm_gc_s"] += sd.jvmGcTime() / 1e3
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["output_bytes"] += sd.outputBytes()
    out["jobs"] = float(len(jobs))
    return out


class Tracer:
    """Spans around the benchmark's calls into the engine.

    Disabled, a span only times its body (that timing feeds the
    end-to-end metrics). Enabled, it also runs the body under its own
    Spark job group, attaches the stage metrics of that group's jobs,
    and keeps the span for :meth:`write`."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "id": len(self.spans), **attrs,
               "parent": self._stack[-1]["id"] if self._stack else None}
        sc = self.spark.sparkContext
        group = f"perfbench-{rec['id']}"
        if self.enabled:
            self.spans.append(rec)
            sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._stack.pop()
            if self.enabled:
                parent = self._stack[-1] if self._stack else None
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
                rec["spark"] = stage_sums(
                    self.spark, sc.statusTracker().getJobIdsForGroup(group)
                )

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str, field: str) -> float:
        return sum(s["spark"][field] for s in self.by_name(name))

    def spark_totals(self) -> dict:
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for s in self.spans:
            for k, v in s["spark"].items():
                out[k] += v
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def udf_profile(spark, udf_name: str, row_fn: str) -> tuple[float, int]:
    """Python time inside ``udf_name`` and the number of ``row_fn``
    calls, from the session's perf UDF profiler results."""
    secs, rows = 0.0, 0
    for stats in spark._profiler_collector._perf_profile_results.values():
        for (_file, _line, fn), (_cc, nc, _tt, ct, _callers) in stats.stats.items():
            if fn == udf_name:
                secs += ct
            elif fn == row_fn:
                rows += nc
    return secs, rows
