"""Process-level plumbing for the benchmark: host facts, the Spark session a
leg runs in, CPU pinning of the whole process tree, and peak-RSS sampling.

Everything here reads ``/proc`` directly (psutil is not a dependency) and
keeps every file the run writes under the benchmark's work directory."""

from __future__ import annotations

import os
import shutil
import signal
import threading
import time
from typing import Dict, List, Optional

# the historical N-vs-4N protocol ran 2 vs 8 cores; a host with fewer CPUs
# runs the wide leg clamped to its affinity mask and says so
REQUESTED_WIDE = 8
SCALING_BOUND = 0.8


def tree_pids(root: Optional[int] = None) -> List[int]:
    """``root`` and every live descendant, found through
    ``/proc/<pid>/task/<tid>/children``."""
    root = os.getpid() if root is None else root
    pids, i = [root], 0
    while i < len(pids):
        pid = pids[i]
        i += 1
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    pids.extend(int(c) for c in fh.read().split())
            except OSError:
                pass
    return pids


def _pss_kb(pid: int) -> int:
    """Proportional set size: a page shared by k processes counts 1/k in
    each, so a forked child that has not yet exec'd (it shares all of its
    parent's pages) adds nothing to a sum over the tree."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    raise ValueError("no Pss line")


def tree_rss_mb(root: Optional[int] = None) -> Dict[str, float]:
    """Resident memory in MB (PSS) of each process in the tree, keyed
    ``<pid>:<name>``."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
            out[f"{pid}:{name}"] = _pss_kb(pid) / 1024
        except (OSError, ValueError):  # exited between listing and reading
            pass
    return out


def pin_tree(cpus) -> int:
    """Pin every thread of every process in this process's tree (Python
    driver, driver JVM, Python daemon and workers) to ``cpus``. Threads and
    processes created later inherit the mask from their pinned creator.
    Returns the number of threads pinned."""
    n = 0
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
                n += 1
            except OSError:  # thread exited between listing and pinning
                pass
    return n


class RssSampler:
    """Samples the summed PSS of the process tree on a background thread;
    ``peak_mb`` is the largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.at_peak: Dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        per = tree_rss_mb()
        total = sum(per.values())
        if total > self.peak_mb:
            self.peak_mb, self.at_peak = total, {k: round(v) for k, v in per.items()}

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_mb


def host_facts() -> Dict:
    """Core counts and labels printed with every result. On a host whose
    affinity mask is smaller than the requested wide leg, 4N is clamped to
    the mask; in local mode the driver always shares CPUs with the tasks.
    Either way the scaling figure is labelled, never a plain N-vs-4N."""
    mask = sorted(os.sched_getaffinity(0))
    wide = min(REQUESTED_WIDE, len(mask))
    narrow = max(1, wide // 4)
    clamped = wide < REQUESTED_WIDE
    labels = (["clamped-to-host"] if clamped else []) + ["shared-driver"]
    return {
        "nproc": os.cpu_count(),
        "affinity": mask,
        "wide_cores": wide,
        "narrow_cores": narrow,
        "wide_cpus": mask[:wide],
        "narrow_cpus": mask[:narrow],
        "requested_wide": REQUESTED_WIDE,
        "clamped_to_host": clamped,
        "shares_cpus_with_driver": True,
        "scaling_label": "+".join(labels),
        "scaling_bound": SCALING_BOUND,
    }


def host_meter(seconds: float = 0.25) -> float:
    """Iterations per second of a fixed pure-Python loop on one core: a
    record of host speed printed next to a run's figures (never applied
    to them)."""
    n, end = 0, time.perf_counter() + seconds
    while time.perf_counter() < end:
        for _ in range(1000):
            n += 1
    return n / seconds


class Env:
    """Work directories for one run, all under ``<checkout>/perfbench/_work``.
    Setting TMPDIR and the JVM's tmpdir keeps Python and Spark temp files
    inside the checkout too."""

    def __init__(self, root: str, run_name: str):
        self.root = root
        self.work = os.path.join(root, "perfbench", "_work")
        self.inputs = os.path.join(self.work, "inputs")
        self.run = os.path.join(self.work, "runs", f"{run_name}-{os.getpid()}")
        self.tmp = os.path.join(self.run, "tmp")
        for d in (self.inputs, self.tmp):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark-local")
        # forked Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = root + (
            os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
        )
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")

    def out_dir(self, name: str) -> str:
        return os.path.join(self.run, name)

    def cleanup(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def build(env: Env, cores: int, event_log: Optional[str] = None, java_opts: str = ""):
    """A ``local[cores]`` session from the package's ``build_session``.
    ``java_opts`` only takes effect on the first session of a process,
    which launches the JVM."""
    from pii_detection_redaction_spark.plans.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(env.tmp, "warehouse"),
        # C1 only: C2 warm-up on a 4-CPU host outlasts a run (per-call rates
        # climbed 2x over the first minute), so runs would measure how far
        # the JIT got; C1 code is steady from the first call
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={env.tmp} -XX:TieredStopAtLevel=1 {java_opts}",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )


def shutdown(spark) -> None:
    """Stop the session, end the gateway JVM and wait until every process
    this run started has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone; the wait below decides
            pass
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        rest = [p for p in tree_pids() if p != os.getpid()]
        if not rest or time.monotonic() > deadline:
            break
        for p in rest:
            try:
                os.kill(p, signal.SIGTERM)
            except OSError:
                pass
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
