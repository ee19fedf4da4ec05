"""One benchmark run: set-up, correctness gate, closed-loop query passes,
and (traced runs) the per-layer re-runs.

Load shape: one client in one process, closed loop — a pass starts only
after the previous one has finished and been cleaned up.
"""

from __future__ import annotations

import contextlib
import statistics
import sys
import time
import traceback

from pyspark.sql import Observation
from pyspark.sql import functions as F

from spatialbench.sparkenv import busy_seconds
from spatialbench.trace import Tracer
from spatialbench.workloads import Output, State, Workload

#: set-ups per run; setup_s is their median
SETUPS = 3
#: passes after the gate that are checked but not timed: the JVM keeps
#: compiling the planner's hot paths over the first few queries
WARMUP_PASSES = 2
#: every run measures at least this many passes, however long they take
MIN_PASSES = 3
MIN_TRACED_PASSES = 2
#: how long the cleanup waits for the context cleaner to drop the
#: localCheckpoint blocks of a finished pass
CLEANER_WAIT_S = 1.0


def _no_span(name: str):
    return contextlib.nullcontext()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def supported_percentile(n: int) -> int:
    """Highest percentile with at least ten samples beyond it (the median
    when there are fewer than twenty samples)."""
    if n < 20:
        return 50
    return int(100 * (1 - 10 / n))


# -- outputs ----------------------------------------------------------------
def observe(out: Output) -> dict:
    """Materialize every column of the output through the noop sink and
    observe its digest: (row count, decimal sum of xxhash64 over all
    columns) plus the aggregates its structure check needs."""
    df = out.df
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")).alias("h"),
    ]
    if out.kind == "per_point":
        pid = F.col(df.columns[0])
        aggs += [
            F.sum(pid.cast("decimal(38,0)")).alias("id_sum"),
            F.min(pid).alias("id_min"),
            F.max(pid).alias("id_max"),
        ]
    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return {k: (int(v) if v is not None else None) for k, v in obs.get.items()}


def structure_error(out: Output, d: dict) -> str | None:
    n = out.n
    if out.kind == "fixed":
        want = {"n>0": d["n"] > 0}
    else:
        want = {"n": d["n"] == n, "id_sum": d["id_sum"] == n * (n - 1) // 2,
                "id_min": d["id_min"] == 0, "id_max": d["id_max"] == n - 1}
    bad = [key for key, ok in want.items() if not ok]
    return f"{out.name}: structure check failed on {bad}: {d}" if bad else None


class Run:
    def __init__(self, env, wl: Workload, seconds: float):
        self.env = env
        self.spark = env.spark
        self.wl = wl
        self.seconds = seconds
        self.log = sys.stderr
        self.setup_times: list[float] = []
        self.passes: list[dict] = []
        self.gate: dict[str, tuple] = {}
        self.pinned_ids: set[int] = set()
        self.tracer: Tracer | None = None
        self.cached_mb = 0.0
        self.gate_s = None

    def say(self, msg: str) -> None:
        print(f"[{self.wl.name}] {msg}", file=self.log, flush=True)

    # -- set-up -----------------------------------------------------------
    def setup(self) -> State:
        """One set-up from a cleared cache, timed."""
        self.spark.catalog.clearCache()
        self.env.force_gc()
        t0 = time.perf_counter()
        st = self.wl.setup()
        self.setup_times.append(time.perf_counter() - t0)
        self.pinned_ids = self.env.persistent_rdds()
        self.cached_mb = self.env.storage_mb(self.pinned_ids)
        self.say(f"set-up {len(self.setup_times)}: {self.setup_times[-1]:.3f} s, "
                 f"{self.cached_mb:.2f} MB cached")
        return st

    def repin(self, st: State) -> None:
        for df in st.pins:
            df.persist()
        for df in st.pins:
            df.count()
        self.pinned_ids = self.env.persistent_rdds()

    def run_gate(self, st: State) -> None:
        """Once per seed, before measuring: pass 0's inputs through a
        second physical plan (another gsize), then pass 0 itself, which —
        like every later pass of a 'fixed' output — must reproduce those
        digests exactly. The gate and the warm-up passes count as
        attempted but not in the query-time samples."""
        caches: list = []
        t0 = time.perf_counter()
        try:
            for o in self.wl.run(st, self.wl.alt_grid, 0, caches):
                d = observe(o)
                self.gate[o.name] = (d["n"], d["h"])
        except Exception:  # no reference digests: every checked pass fails
            self.gate.clear()
            traceback.print_exc(file=self.log)
        self.gate_s = time.perf_counter() - t0
        self.cleanup(st, caches)
        self.say(f"gate @gsize {self.wl.alt_gsize}: {self.gate} in {self.gate_s:.3f} s")
        for i in range(WARMUP_PASSES):
            rec = self.one_pass(st, i, traced=False)
            rec["measured"] = False
            self.passes.append(rec)
            self.say(f"pass {i} (warm-up, unmeasured): {rec['s']:.3f} s, ok={rec['ok']}")

    def cleanup(self, st: State, caches: list) -> float:
        """Outside the timed window: release what the pass persisted
        (pip_locate caches=), force a GC, and when storage is still pinned
        beyond the set-up state, clear the cache and re-pin the set-up
        state. Returns the storage MB the pass left pinned."""
        for c in caches:
            c.unpersist()
        caches.clear()
        deadline = time.perf_counter() + CLEANER_WAIT_S
        while True:
            self.env.force_gc()
            left = self.env.persistent_rdds() - self.pinned_ids
            if not left or time.perf_counter() > deadline:
                break
            time.sleep(0.1)
        pinned_mb = self.env.storage_mb(left) if left else 0.0
        if left:
            self.spark.catalog.clearCache()
            self.env.force_gc()
            self.repin(st)
        return pinned_mb

    # -- passes -----------------------------------------------------------
    def one_pass(self, st: State, i: int, traced: bool) -> dict:
        caches: list = []
        rec = {"i": i, "traced": traced, "measured": True, "ok": True, "rows": 0,
               "digests": {}}
        last_job = self.env.last_job_id()
        if traced:
            self.tracer.pass_id = f"pass{i}"
        span = self.tracer.span if traced else _no_span
        t0 = time.perf_counter()
        try:
            with span(f"pass.{self.wl.name}"):
                outs = self.wl.run(st, self.wl.grid, i, caches)
                digests = []
                for o in outs:
                    with span(f"materialize.{o.name}") as sp:
                        digests.append(observe(o))
                        if sp is not None:
                            sp["rows"] = digests[-1]["n"]
            rec["s"] = time.perf_counter() - t0
            errors = []
            for o, d in zip(outs, digests):
                rec["digests"][o.name] = [d["n"], str(d["h"])]
                err = structure_error(o, d)
                gate = self.gate.get(o.name)
                if err is None and (i == 0 or o.kind == "fixed") and (d["n"], d["h"]) != gate:
                    err = f"{o.name}: digest {(d['n'], d['h'])} != gate {gate}"
                if err:
                    errors.append(err)
                rec["rows"] += d["n"]
            if errors:
                rec.update(ok=False, error="; ".join(errors), rows=0)
        except Exception as e:  # a failed pass is counted, not fatal
            rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:500]}", rows=0)
            rec.setdefault("s", time.perf_counter() - t0)
            traceback.print_exc(file=self.log)
        jobs = self.env.jobs_after(last_job)
        rec["jobs"] = len(jobs)
        rec["tasks"] = sum(j[3] for j in jobs)
        rec["busy_s"] = busy_seconds(jobs)
        rec["pinned_mb"] = self.cleanup(st, caches)
        if not rec["ok"]:
            self.say(f"pass {i} FAILED: {rec['error']}")
        return rec

    def measure(self, st: State, first: int, seconds: float, min_passes: int,
                traced: bool = False) -> list[dict]:
        out = []
        t_end = time.perf_counter() + seconds
        while len(out) < min_passes or time.perf_counter() < t_end:
            rec = self.one_pass(st, first + len(out), traced)
            out.append(rec)
            self.say(f"pass {rec['i']}{' traced' if traced else ''}: {rec['s']:.3f} s, "
                     f"{rec['rows']} rows, {rec['jobs']} jobs")
        self.passes += out
        return out

    # -- results ----------------------------------------------------------
    def counts(self) -> tuple[int, int]:
        attempted = len(self.passes)
        failed = sum(1 for p in self.passes if not p["ok"])
        return attempted, failed

    def measured(self, traced: bool | None = None) -> list[dict]:
        """Measured passes that produced correct output."""
        return [p for p in self.passes if p["measured"] and p["ok"]
                and (traced is None or p["traced"] == traced)]

    def end_to_end(self) -> dict:
        ok = self.measured()
        times = [p["s"] for p in ok] or [p["s"] for p in self.passes]
        return {
            "query_s": median(times),
            "rows_per_s": median([p["rows"] / p["s"] for p in ok]) if ok else 0.0,
            "setup_s": median(self.setup_times),
            "cached_mb": self.cached_mb,
        }
