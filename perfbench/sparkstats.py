"""Session set-up and teardown, process-tree probes, and Spark job
statistics read back from the status store.

Jobs are attributed to a window of wall time by their submission time.
The benchmark drives Spark from one thread in a closed loop, so every job
submitted inside an operation's window belongs to that operation; this
keeps working when the pipeline tags its own jobs with job groups.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
import zipfile

_PAGE = os.sysconf("SC_PAGE_SIZE")


# --- session ---------------------------------------------------------------


def driver_memory() -> str:
    """A quarter of physical RAM, between 1 and 4 GiB: the benchmark's
    corpora are small, and the host is shared."""
    ram_gib = _PAGE * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    return f"{int(max(1, min(4, ram_gib // 4)))}g"


def package_zip(root: str, dest: str) -> str:
    """Zip ``<root>/sparkdedup`` for ``addPyFile`` (the ``spark-submit
    --py-files`` path): Python workers import the package from it instead
    of relying on PYTHONPATH."""
    pkg = os.path.join(root, "sparkdedup")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, root))
    return dest


def start_session(cores: int, local_dir: str, py_zip: str):
    """``build_spark`` on local[cores] with shuffle partitions = cores,
    an explicit driver heap, and Spark's scratch space and every
    temporary file (Python's and the JVM's) under ``local_dir``."""
    import tempfile

    os.makedirs(local_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = local_dir
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={local_dir}"
    tempfile.tempdir = None  # re-read TMPDIR
    from sparkdedup.pipeline import build_spark

    spark = build_spark(
        app="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        driver_mem=driver_memory(),
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(py_zip)
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait for it and every process under it."""
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    procs = descendants(jvm.pid) if jvm is not None else []
    spark.stop()
    if jvm is not None:
        # the gateway JVM exits when its stdin closes
        jvm.stdin.close()
        try:
            jvm.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=timeout)
    deadline = time.time() + timeout
    while time.time() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# --- process tree ----------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss_pages) for every readable process."""
    out = {}
    for s in os.listdir("/proc"):
        if not s.isdigit():
            continue
        try:
            with open(f"/proc/{s}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(s)] = (int(rest[1]), int(rest[21]))
    return out


def descendants(root: int | None = None) -> list[int]:
    root = root if root is not None else os.getpid()
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes() -> int:
    me = os.getpid()
    table = _proc_table()
    pids = set(descendants(me)) | {me}
    return sum(table[p][1] for p in pids if p in table) * _PAGE


class PeakRss:
    """Samples the process tree's resident memory on a background thread
    while the ``with`` block runs; ``peak`` is the largest sample in bytes."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self):
        self.peak = tree_rss_bytes()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


# --- status store ----------------------------------------------------------


_STAGE_FIELDS = ("tasks", "executor_cpu_s", "shuffle_bytes", "spill_bytes")


class JobLog:
    """Reads finished jobs and their stages from Spark's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted in [t0, t1] (epoch seconds), oldest first, each
        with its (start, end) and the sum of its executed stages' metrics.
        A stage shared by several jobs is counted in the first only."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        picked, seen_stages = [], set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            start = j.submissionTime().get().getTime() / 1000.0
            if start < t0 - 0.001:
                break
            if start > t1 + 0.001:
                continue
            end = j.completionTime().get().getTime() / 1000.0 if j.completionTime().isDefined() else t1
            picked.append({"start": start, "end": end,
                           "stage_ids": [j.stageIds().apply(k) for k in range(j.stageIds().size())]})
        picked.reverse()
        for job in picked:
            totals = dict.fromkeys(_STAGE_FIELDS, 0.0)
            stages = 0
            for sid in job.pop("stage_ids"):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                s = self._store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                stages += 1
                totals["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                totals["executor_cpu_s"] += s.executorCpuTime() / 1e9
                totals["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
                totals["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            job.update(totals, stages=stages)
        return picked


def summarize(jobs: list[dict], t0: float, t1: float) -> dict:
    """Totals for the jobs of one window, plus the window's driver gap:
    its wall time not covered by any job."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(j["start"], t0), min(j["end"], t1)) for j in jobs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    out = {k: sum(j[k] for j in jobs) for k in _STAGE_FIELDS + ("stages",)}
    out.update(jobs=len(jobs), wall_s=t1 - t0, driver_gap_s=max(0.0, (t1 - t0) - covered))
    return out
