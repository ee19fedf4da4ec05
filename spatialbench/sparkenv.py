"""Spark session sized from the host, plus the read-only probes the
benchmark takes of it: job records from the status store, storage memory
and the driver JVM's peak resident set."""

from __future__ import annotations

import gc
import os
import shutil
import tempfile
import time

#: share of physical memory given to the driver JVM, and its clamp
DRIVER_MEM_SHARE = 0.25
DRIVER_MEM_MIN_MB = 1024
DRIVER_MEM_MAX_MB = 8192


def host_sizing() -> dict:
    """cpus from the host, a driver-memory cap derived from physical
    memory, and one shuffle partition per core."""
    cpus = os.cpu_count() or 1
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_mb = int(min(DRIVER_MEM_MAX_MB, max(DRIVER_MEM_MIN_MB, phys_mb * DRIVER_MEM_SHARE)))
    return {
        "cpus": cpus,
        "phys_mem_mb": int(phys_mb),
        "driver_mem_mb": driver_mb,
        "shuffle_partitions": cpus,
    }


class SparkEnv:
    """Owns the session and its scratch directory: one per process under
    `scratch_root` (inside the working directory, so the run reads and
    writes nothing outside it, and concurrent runs never share one)."""

    def __init__(self, scratch_root: str):
        self.scratch_root = os.path.abspath(scratch_root)
        self.scratch = os.path.join(self.scratch_root, str(os.getpid()))
        self.sizing = host_sizing()
        self.spark = None
        self.session_s = None

    def start(self):
        from rayjoin_spark.session import get_spark

        tmp = os.path.join(self.scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # pyspark's gateway hand-off file goes through tempfile; every JVM
        # spark-submit starts (its launcher too) keeps temp files here and
        # writes no perf data under /tmp
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        s = self.sizing
        t0 = time.perf_counter()
        self.spark = get_spark(
            "spatialbench",
            cpus=s["cpus"],
            shuffle_partitions=s["shuffle_partitions"],
            extra_conf={
                "spark.driver.memory": f"{s['driver_mem_mb']}m",
                "spark.local.dir": os.path.join(self.scratch, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.session_s = time.perf_counter() - t0
        return self.spark

    def stop(self) -> None:
        """Stop the session, then end the gateway JVM and wait for it."""
        if self.spark is not None:
            sc = self.spark.sparkContext
            gw = sc._gateway
            proc = getattr(gw, "proc", None)
            self.spark.stop()
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            self.spark = None
        shutil.rmtree(self.scratch, ignore_errors=True)
        try:
            os.rmdir(self.scratch_root)
        except OSError:  # another run still owns a directory there
            pass

    # -- probes ---------------------------------------------------------
    @property
    def _sc(self):
        return self.spark.sparkContext._jsc.sc()

    def jobs_after(self, last_id: int) -> list[tuple[int, float, float, int]]:
        """(job id, submit s, complete s, tasks run) of every finished job
        with id > last_id, from the status store, after the listener bus
        has drained."""
        sc = self._sc
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        out = []
        for jid in sorted(self.spark.sparkContext.statusTracker().getJobIdsForGroup()):
            if jid <= last_id:
                continue
            j = store.job(jid)
            if j.completionTime().isEmpty() or j.submissionTime().isEmpty():
                continue
            out.append((
                jid,
                j.submissionTime().get().getTime() / 1000.0,
                j.completionTime().get().getTime() / 1000.0,
                j.numCompletedTasks(),
            ))
        return out

    def last_job_id(self) -> int:
        return max(self.spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)

    def persistent_rdds(self) -> set[int]:
        return {int(k) for k in self.spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    def storage_mb(self, rdd_ids: set[int] | None = None) -> float:
        """Summed memSize of the stored RDDs (all, or those in rdd_ids)."""
        total = 0
        for info in self._sc.getRDDStorageInfo():
            if rdd_ids is None or info.id() in rdd_ids:
                total += info.memSize()
        return total / 2**20

    def force_gc(self) -> None:
        """Drop Python-side handles, then collect in the JVM so the context
        cleaner can release what only those handles kept alive."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def driver_hwm_mb(self) -> float:
        """VmHWM (peak resident set) of the driver JVM."""
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM for pid {pid}")


def busy_seconds(jobs) -> float:
    """Length of the union of the jobs' submit->complete intervals."""
    total, end = 0.0, None
    for _, s, e, _ in sorted(jobs, key=lambda j: j[1]):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
