"""Closed-loop link-graph benchmark: one client, one query at a time.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Set-up starts a ``local[nproc]`` session,
generates the workload's inputs from ``--seed`` and runs its untimed
warm-up passes. The measured phase then repeats passes (load, then
every query with the action on its result) until ``--seconds`` have
elapsed, checking every result against a numpy reference.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs half
the time untraced, restarts the session with Spark's JSON event log on,
runs a warm-up pass, then the other half with a job group per query and
``IterMetrics``, and reports the per-layer metrics. The last stdout
line is the JSON result; the lines before it are the human-readable
tables (see README.md).
"""

from __future__ import annotations

import os
import sys

# One BLAS thread per process: Spark supplies the parallelism. Set before
# numpy is first imported.
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

import eventlog  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "3g"  # driver heap, well below the host's memory
SETUP_REPS = 3
CODES = {"closed": 1, "local": 2, "distributed": 3, "scan": 4}


# ----------------------------------------------------------------- host


class HostMonitor:
    """Load average and CPU steal across the run."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()[0]
        self.cpu_start = self._cpu()

    @staticmethod
    def _cpu() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    def close(self) -> dict:
        cpu = [b - a for a, b in zip(self.cpu_start, self._cpu())]
        steal = cpu[7] if len(cpu) > 7 else 0
        return {
            "nproc": nproc(),
            "heap": HEAP,
            "load_avg_start": self.load_start,
            "load_avg_end": os.getloadavg()[0],
            "cpu_steal_pct": round(100.0 * steal / max(sum(cpu), 1), 3),
        }


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -------------------------------------------------------------- session


def start_session(workdir: str, conf: dict[str, str]):
    from ligra_spark import get_spark

    n = nproc()
    tmp = os.path.join(workdir, "tmp")
    extra = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # The session's Unix sockets (accumulator server, Python workers)
        # are named ".<uuid>.sock" in this directory, and a socket path
        # may not exceed 107 bytes: relative to the working directory it
        # stays short however deep the checkout lies.
        "spark.python.unix.domain.socket.dir": os.path.relpath(tmp),
        "spark.ui.showConsoleProgress": "false",
        **conf,
    }
    # local[n,4]: n cores, up to 4 attempts per task
    spark = get_spark(
        "perfbench", master=f"local[{n},4]", shuffle_partitions=n, extra_conf=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Fork and import every Python worker once (numpy/pandas/pyarrow)."""

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    n = 2 * spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInArrow(_warm, "id long").count()


def shutdown_spark() -> None:
    """Stop the session, then close the gateway JVM's stdin (its exit
    signal) and wait for it; Python workers exit with it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - best effort before the hard stop
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------- stats


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest of p99/p90/p75/p50 with at least ten samples beyond it."""
    n = len(xs)
    for p in (99, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p, sorted(xs)[min(n - 1, math.ceil(n * p / 100) - 1)]
    return None, None


# -------------------------------------------------------------- benchmark


class Bench:
    def __init__(self, wl, workdir: str) -> None:
        self.wl = wl
        self.workdir = workdir
        self.spark = None
        self.queries = []
        self.attempted = 0
        self.failed = 0
        self.setup: dict[str, float] = {}

    # ---- one closed-loop pass ------------------------------------------
    def fail(self, what: str, err: str) -> None:
        self.failed += 1
        print(f"[perfbench] FAIL {self.wl.name} {what}: {err}", file=sys.stderr, flush=True)

    def run_pass(self, i: int, traced: bool, handle=None) -> dict:
        """Load (unless a loaded ``handle`` is given), then each query with
        its action. Returns walls and spans (epoch start/end) keyed by
        step name."""
        from ligra_spark.algorithms._iter import IterMetrics

        from workloads import action, release

        sc = self.spark.sparkContext
        rec = {"index": i, "walls": {}, "spans": {}, "iters": {}}

        def span(name, t0, t1, e0):
            rec["walls"][name] = t1 - t0
            rec["spans"][name] = (e0, e0 + (t1 - t0))

        group = f"{self.wl.name}.{{}}"
        if handle is None:
            if traced:
                sc.setJobGroup(group.format("load"), f"pass {i}")
            e0, t0 = time.time(), time.perf_counter()
            try:
                handle = self.wl.construct(self.spark)
                t1 = time.perf_counter()
                m = self.wl.count(handle)
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001 - a failed load fails the pass's queries
                self.attempted += 1 + len(self.queries)
                self.fail(f"pass {i} load", traceback.format_exc(limit=3))
                self.failed += len(self.queries)
                return rec
            self.attempted += 1
            rec["walls"]["load.init"] = t1 - t0
            rec["walls"]["load.count"] = t2 - t1
            span("load", t0, t2, e0)
            if m != self.wl.m_expected:
                self.fail(f"pass {i} load", f"m={m}, expected {self.wl.m_expected}")
        for q in self.queries:
            self.attempted += 1
            mt = IterMetrics() if traced and q.takes_metrics else None
            if traced:
                sc.setJobGroup(group.format(q.name), f"pass {i}")
            try:
                e0, t0 = time.time(), time.perf_counter()
                res = q.call(handle, mt)
                t1 = time.perf_counter()
                out = action(res)
                t2 = time.perf_counter()
                err = q.check(out)
                release(res)
            except Exception:  # noqa: BLE001 - count it, keep the loop going
                self.fail(f"pass {i} {q.name}", traceback.format_exc(limit=3))
                continue
            span(q.name, t0, t2, e0)
            rec["walls"][q.name + ".call"] = t1 - t0
            rec["walls"][q.name + ".action"] = t2 - t1
            if mt is not None:
                rec["iters"][q.name] = mt.rounds
            if err:
                self.fail(f"pass {i} {q.name}", err)
        if traced:
            sc.setJobGroup(group.format("unload"), f"pass {i}")
        self.wl.unload(handle)
        return rec

    def measure(self, seconds: float, traced: bool, first: int) -> list[dict]:
        """Passes until ``seconds`` have elapsed, and at least two, so
        that a reported median never rests on one sample."""
        passes, deadline = [], time.perf_counter() + seconds
        while True:
            passes.append(self.run_pass(first + len(passes), traced))
            if len(passes) >= 2 and time.perf_counter() >= deadline:
                return passes

    # ---- set-up ----------------------------------------------------------
    def set_up(self) -> None:
        """Session launch, Python-worker warm-up (when the queries use
        workers), input generation SETUP_REPS times (the median counts),
        the reference computation and the one-off input check (not part
        of set-up time), then the workload's untimed warm-up passes."""
        t = time.perf_counter()
        self.spark = start_session(self.workdir, {})
        self.setup["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        if self.wl.python_workers:
            warm_workers(self.spark)
        self.setup["session.worker_warm_s"] = time.perf_counter() - t
        inputs = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            self.wl.make_inputs(self.spark)
            inputs.append(time.perf_counter() - t)
        self.setup["setup.inputs_s"] = median(inputs)

        # The first warm-up pass's load also gives the references and the
        # input check, which are not set-up time.
        t = time.perf_counter()
        handle = self.wl.construct(self.spark)
        m = self.wl.count(handle)
        load_s = time.perf_counter() - t
        t = time.perf_counter()
        self.queries = self.wl.build_queries(handle)
        self.setup["refs_s"] = time.perf_counter() - t
        self.attempted += 2
        if m != self.wl.m_expected:
            self.fail("set-up load", f"m={m}, expected {self.wl.m_expected}")
        err = self.wl.check_input(handle)
        if err:
            self.fail("set-up input check", err)
        t = time.perf_counter()
        warmup = self.wl.warmup_passes
        self.run_pass(-warmup, traced=False, handle=handle)
        for i in range(1 - warmup, 0):
            self.run_pass(i, traced=False)
        self.setup["setup.warmup_s"] = time.perf_counter() - t + load_s
        self.setup["setup_s"] = sum(
            self.setup[k]
            for k in ("session.start_s", "session.worker_warm_s", "setup.inputs_s", "setup.warmup_s")
        )

    # ---- traced phase ----------------------------------------------------
    def fits_local_kernel_probe(self) -> float:
        """Cost of ``fits_local_kernel()`` on a cold, uncounted Graph, the
        check every generic-graph dispatch pays (closure-keyed graphs
        dispatch before consulting it)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.wl.name}.cold-graph", "probe")
        g = self.wl.cold_graph(self.spark)
        sc.setJobGroup(f"{self.wl.name}.fits_local_kernel", "probe")
        t0 = time.perf_counter()
        g.fits_local_kernel()
        dt = time.perf_counter() - t0
        g.unpersist()
        return dt


# Event-log sums that are folded per step and per pass.
ROW_SUMS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "deserialize_s",
    "gc_s", "scheduler_delay_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "python_task_s", "python_tasks",
)
# The per-query table (printed); the counts among them also go into the
# JSON result, since a query the workload does not run reads 0 there.
PER_QUERY = (
    "wall_s", "call_s", "action_s", "rounds", "round_wall_s", "backend", "jobs",
    "jobs_per_round", "tasks", "executor_run_s", "executor_cpu_s",
    "deserialize_s", "gc_s", "scheduler_delay_s", "driver_gap_s", "job_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "peak_exec_mem_bytes", "python_task_s", "python_tasks",
    "useful_attempt_ratio",
)
QUERY_COUNTS = ("backend", "rounds", "jobs", "jobs_per_round", "tasks", "python_tasks")
# Pass-level sums over the load and every query (peak memory: the max).
PASS_METRICS = (
    "wall_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "deserialize_s", "scheduler_delay_s", "job_s", "driver_gap_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "peak_exec_mem_bytes",
    "python_tasks", "python_share", "useful_attempt_ratio",
)


def step_values(row: dict, wall: float, span: tuple[float, float]) -> dict:
    """One step's event-log row as metrics; ``job_s`` is the part of the
    step's span covered by its jobs, ``driver_gap_s`` the rest."""
    job_s = eventlog.covered(row["intervals"], *span)
    vals = {k: row[k] for k in ROW_SUMS}
    vals.update(
        job_s=job_s,
        driver_gap_s=wall - job_s,
        peak_exec_mem_bytes=row["peak_exec_mem_bytes"],
        ok_tasks=row["ok_tasks"],
    )
    return vals


def backend_of(q, python_tasks: int) -> str:
    """Which engine path ran the query: the ANN scan, the distributed
    JVM rounds (no Python stage ran), or a Python kernel, which is the
    closed.py kernels on a closure-keyed graph and the whole-graph local
    kernel otherwise."""
    if q.name == "topk":
        return "scan"
    if python_tasks == 0:
        return "distributed"
    return "closed" if q.closure else "local"


def fold_trace(bench: Bench, log_dir: str, passes: list[dict], probe_s: float) -> tuple[dict, list[str]]:
    """Per-layer metrics: medians over the traced passes of span walls,
    ``IterMetrics`` rounds and the event-log rows of each (step, pass).
    Returns the JSON metrics and the printed per-query table."""
    from workloads import QUERY_NAMES

    wl = bench.wl
    queries = {q.name: q for q in bench.queries}
    rows = eventlog.fold(log_dir)
    per_q: dict[str, dict[str, list[float]]] = {}
    per_pass: dict[str, list[float]] = {}
    for p in passes:
        steps = [n for n in ["load"] + [q.name for q in bench.queries] if n in p["walls"]]
        tot: dict[str, float] = {}
        for name in steps:
            row = rows.get((f"{wl.name}.{name}", f"pass {p['index']}")) or eventlog.empty_row()
            vals = step_values(row, p["walls"][name], p["spans"][name])
            if row["tasks"] == 0:
                bench.fail(f"pass {p['index']} {name}", "no executor tasks ran (cache hit?)")
            for k, v in vals.items():
                tot[k] = max(tot.get(k, 0), v) if k == "peak_exec_mem_bytes" else tot.get(k, 0) + v
            if name == "load":
                continue
            iters = p["iters"].get(name, [])
            rounds = len(iters)
            if any(r.get("fused") for r in iters):
                # closed.py rows are wall / rounds of one fused kernel call
                round_wall = sum(r.get("wall_s", 0.0) for r in iters)
            else:
                round_wall = median([r["wall_s"] for r in iters if "wall_s" in r])
            vals.update(
                wall_s=p["walls"][name],
                call_s=p["walls"][name + ".call"],
                action_s=p["walls"][name + ".action"],
                rounds=rounds,
                round_wall_s=round_wall,
                backend=CODES[backend_of(queries[name], row["python_tasks"])],
                jobs_per_round=row["jobs"] / max(rounds, 1),
                useful_attempt_ratio=row["ok_tasks"] / row["tasks"] if row["tasks"] else 0.0,
            )
            for k in PER_QUERY:
                per_q.setdefault(name, {}).setdefault(k, []).append(vals[k])
        if not tot:
            continue
        tot["wall_s"] = sum(p["walls"][n] for n in steps)
        tot["python_share"] = tot["python_task_s"] / tot["executor_run_s"] if tot["executor_run_s"] else 0.0
        tot["useful_attempt_ratio"] = tot["ok_tasks"] / tot["tasks"] if tot["tasks"] else 0.0
        for k, v in tot.items():
            per_pass.setdefault(k, []).append(v)

    out: dict[str, float] = {
        "load.init_s": median([p["walls"]["load.init"] for p in passes if "load.init" in p["walls"]]),
        "load.count_s": median([p["walls"]["load.count"] for p in passes if "load.count" in p["walls"]]),
    }
    for k in PASS_METRICS:
        out["pass." + k] = median(per_pass.get(k, []))
    fk = rows.get((f"{wl.name}.fits_local_kernel", "probe")) or eventlog.empty_row()
    out["graph.fits_local_kernel_jobs"] = fk["jobs"]
    table = [f"{'graph.fits_local_kernel_s':34s} {probe_s:14.4f} s ({fk['jobs']} jobs)"]
    inv = {v: k for k, v in CODES.items()}
    for q in QUERY_NAMES:
        vals = per_q.get(q, {})
        med = {k: median(v) for k, v in vals.items()}
        for k in QUERY_COUNTS:
            out[f"{q}.{k}"] = med.get(k, 0)
        if not med:
            continue
        # the accounting of the pass with the median wall
        walls = vals["wall_s"]
        i = sorted(range(len(walls)), key=walls.__getitem__)[(len(walls) - 1) // 2]
        table.append(
            f"{q}: backend={inv.get(med['backend'], 'mixed')} median pass: wall {walls[i]:.4f}s "
            f"= job-covered {vals['job_s'][i]:.4f}s + driver gap {vals['driver_gap_s'][i]:.4f}s"
        )
        table += [f"  {q + '.' + k:32s} {med[k]:14.4f} {unit_of(k)}" for k in PER_QUERY]
    return out, table


def pass_walls(bench: Bench, passes: list[dict]) -> tuple[list[str], list[float]]:
    """The timed steps of a pass (load, then the queries) and the wall of
    every pass in which all of them succeeded."""
    names = ["load"] + [q.name for q in bench.queries]
    walls = [
        sum(p["walls"][n] for n in names)
        for p in passes
        if all(n in p["walls"] for n in names)
    ]
    return names, walls


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


# End-to-end metrics per algorithm, both run on every workload:
# ``pagerank_s`` is the geometric mean of the median walls of a pass's
# PageRank queries (``pagerank``, and ``pagerank_local`` on kernels), so
# doubling any one of them raises it by at least 41%.
FAMILIES = ("pagerank", "cc")


def end_to_end(bench: Bench, passes: list[dict]) -> tuple[dict, list[str]]:
    """The end-to-end metrics and the printed step table. Steps that
    never succeeded are left out, so a run whose every pass failed
    still reports (with ``correct: false``) instead of aborting."""
    wl = bench.wl
    names, walls = pass_walls(bench, passes)
    lines, meds = [], {}
    for n in names:
        xs = [p["walls"][n] for p in passes if n in p["walls"]]
        if not xs:
            lines.append(f"{n + '_s':22s}        n/a     (no successful run)")
            continue
        pct, tv = tail(xs)
        meds[n] = median(xs)
        extra = f", p{pct} {tv:.4f}" if pct else ""
        samples = " ".join(f"{x:.3f}" for x in xs)
        lines.append(f"{n + '_s':22s} {meds[n]:10.4f} s   (median of {len(xs)}{extra}: {samples})")
    lines.append(f"{'pass walls':22s} " + " ".join(f"{w:.3f}" for w in walls))
    if "pagerank" in meds:
        rate = wl.pr_edges * wl.pr_rounds / meds["pagerank"]
        lines.append(f"{'pagerank_edges_per_s':22s} {rate:10.0f} 1/s (m={wl.pr_edges}, rounds={wl.pr_rounds})")
    lines.append(
        f"{'fail_ratio':22s} {bench.failed / max(bench.attempted, 1):10.4f}     "
        f"({bench.failed} of {bench.attempted})"
    )
    queries = [q.name for q in bench.queries if q.name in meds]
    metrics = {
        "setup_s": bench.setup["setup_s"],
        "pass_s": median(walls),
        "query_geomean_s": geomean([meds[q] for q in queries]),
    }
    for fam in FAMILIES:
        metrics[fam + "_s"] = geomean([meds[q] for q in queries if q.split("_")[0] == fam])
    return metrics, lines


UNITS = (("jobs_per_round", "count"), ("_ratio", "ratio"), ("_share", "ratio"),
         ("_bytes", "bytes"), ("_s", "s"), ("backend", "code"))


def unit_of(name: str) -> str:
    return next((unit for suffix, unit in UNITS if name.endswith(suffix)), "count")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import ligra_spark  # noqa: F401
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    cls = workloads.WORKLOADS[args.workload]
    workdir = os.path.join(ROOT, ".perfbench_work", f"{cls.name}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # the library's default local-dispatch cap, whatever the caller set
    os.environ.pop(workloads.LOCAL_CAP, None)
    os.environ.update(cls.env)
    tempfile.tempdir = None  # re-read TMPDIR

    host = HostMonitor()
    bench = Bench(cls(args.seed, workdir), workdir)
    try:
        bench.set_up()
        budget = args.seconds / 2 if args.trace else args.seconds
        plain = bench.measure(budget, traced=False, first=0)
        metrics, lines = end_to_end(bench, plain)
        if args.trace:
            log_dir = os.path.join(workdir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            bench.spark.stop()
            bench.spark = start_session(workdir, eventlog.event_log_conf(log_dir))
            if bench.wl.python_workers:
                warm_workers(bench.spark)
            probe = bench.fits_local_kernel_probe()
            # the new session's first pass is a warm-up again; its rows
            # (pass -1) are not folded
            bench.run_pass(-1, traced=True)
            traced = bench.measure(budget, traced=True, first=len(plain))
            bench.spark.stop()
            layers, table = fold_trace(bench, log_dir, traced, probe)
            layers["trace.overhead_s"] = median(pass_walls(bench, traced)[1]) - metrics["pass_s"]
            for k in ("session.start_s", "session.worker_warm_s", "setup.inputs_s", "setup.warmup_s"):
                layers[k] = bench.setup[k]
            report = layers
        else:
            report = metrics
    finally:
        host_info = host.close()
        t = time.perf_counter()
        shutdown_spark()
        shutil.rmtree(workdir, ignore_errors=True)
        bench.setup["shutdown_s"] = time.perf_counter() - t

    print(f"== perfbench {cls.name} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("host " + json.dumps(host_info))
    print("setup " + json.dumps({k: round(v, 4) for k, v in bench.setup.items()}))
    for line in lines:
        print(line)
    if args.trace:
        for line in table:
            print(line)
    for k, v in metrics.items():
        print(f"{k:22s} {v:10.4f} {unit_of(k)}")
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in report.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
