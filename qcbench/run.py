"""Closed-loop benchmark of qcfractal_spark: one command, two workloads.

    python3 qcbench/run.py --workload client_surface --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  One client thread runs the workload's
seeded op sequence on ``local[nproc]`` over tables shaped like the sf0.1
test set (at sf0.02) that ``data.py`` generates inside the checkout.  A run:

1. flushes pending disk writes and waits (bounded) until the CPUs are
   quiet, recording the load it saw;
2. builds the session, then the workload's state ``SETUP_REPS`` times
   (``setup_s`` = session start + the median state build, index builds
   included);
3. runs the first round untimed with every op's output checked; this is
   also the warm-up pass;
4. times whole new rounds until ``--seconds`` of op time have passed and
   at least ``MIN_TIMED_OPS`` ops ran, with a Python and a JVM GC before
   each op, outside its timing;
5. reads ``retained_mb`` after an explicit full GC.

With ``--trace 0`` the last line of stdout is the end-to-end result; with
``--trace 1`` it runs ``TRACE_ROUNDS`` new rounds with every group of ops
once untraced and once traced (own job groups per op, status store and
JMX read after each op), and prints the per-layer metrics, including the
tracing overhead on the same ops.  Details of the run (load, set-up
builds, check-round and op times, tail percentile, spans) go to
``qcbench/results/``.  The exit code is non-zero when any op fails.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

QUIET_BUSY_SHARE = 0.25  # of all CPUs: the 1-minute load below 0.25 x nproc
QUIET_WAIT_CAP_S = 10.0
SETUP_REPS = 3
CLEANER_PAUSE_S = 0.25
# op_tail_s needs more than 10 timed ops.  The op count, not --seconds,
# fixes how many rounds a run times (two of either workload) whatever the
# speed of the box: with the time alone, two rounds took 12-16 s and the
# count flipped between runs of the same code.
MIN_TIMED_OPS = 16
TRACE_ROUNDS = 1
DRIVER_MEM = "3g"


def cpu_ticks() -> tuple[int, int, int]:
    """All, idle (with iowait) and stolen CPU ticks since boot."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[3] + ticks[4], ticks[7]


def cpu_busy(interval: float = 0.25) -> float:
    """Share of all CPUs busy over the next ``interval`` seconds."""
    total0, idle0, _ = cpu_ticks()
    time.sleep(interval)
    total1, idle1, _ = cpu_ticks()
    return 1.0 - (idle1 - idle0) / max(total1 - total0, 1)


def quiet_wait() -> dict:
    """Wait up to ``QUIET_WAIT_CAP_S`` until fewer than ``QUIET_BUSY_SHARE``
    of the CPUs are busy; report what was seen either way.  The 1-minute
    load average is recorded but not waited on: it decays over minutes, so
    right after a previous run it stays high while the CPUs are idle."""
    t0 = time.time()
    os.sync()  # the previous run's writes and deletes land before this one starts
    load = os.getloadavg()[0]
    busy = cpu_busy()
    while busy >= QUIET_BUSY_SHARE and time.time() - t0 < QUIET_WAIT_CAP_S:
        busy = cpu_busy()
    return {
        "load_start": round(load, 2),
        "busy_start": round(busy, 3),
        "quiet_wait_s": round(time.time() - t0, 2),
        "started_loaded": busy >= QUIET_BUSY_SHARE,
    }


def release(jvm) -> None:
    """Collect dead Python frames and their JVM blocks between ops, as
    ``bench.py`` does, so an op never pays for its predecessor's garbage."""
    gc.collect()
    jvm.full_gc()


class Runner:
    def __init__(self, spark, wl, kinds: dict, nproc: int):
        from probes import Jvm, Spans, StatusStore

        self.spark, self.wl, self.kinds, self.nproc = spark, wl, kinds, nproc
        self.jvm = Jvm(spark)
        self.store = StatusStore(spark)
        self.spans = Spans()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.n_ops = 0

    def _failed(self, op, problems: list[str]) -> None:
        """Count ``op`` as failed if it has any problem."""
        if problems:
            self.failed += 1
        for p in problems:
            self.failures.append(f"{op.kind}: {p}")
            print(f"FAILED {op.kind}: {p}", file=sys.stderr)

    def run_op(self, op, verify: bool = False) -> float | None:
        """One op, timed from its call to its forced result; ``None`` if it
        failed.  ``verify`` checks its output instead of collecting garbage
        first: a checked op is never part of a metric."""
        if not verify:
            release(self.jvm)
        self.attempted += 1
        n = len(self.wl.failures)
        try:
            t0 = time.perf_counter()
            result = self.wl.force(op, self.wl.build(op), keep=verify)
            dt = time.perf_counter() - t0
            problems = self.wl.failures[n:]
            if verify:
                problems += self.wl.verify(op, result)
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted
            problems = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        self._failed(op, problems)
        return None if problems else dt

    def run_round(self, groups, verify: bool = False) -> list[tuple[str, float]]:
        """``(kind, seconds)`` of each op of the round that succeeded."""
        return [(op.kind, t) for group in groups for op in group
                if (t := self.run_op(op, verify)) is not None]

    def trace_op(self, op, record: dict) -> None:
        """One op in its own job groups, with spans and Spark/JVM reads."""
        from probes import covered_s
        from workloads import table_files

        sc = self.spark.sparkContext
        release(self.jvm)
        self.attempted += 1
        self.n_ops += 1
        i, wl = self.n_ops, self.wl
        n = len(wl.failures)
        watch = getattr(wl, "table_paths", None)
        start_ns = time.time_ns()
        gc0, w0, t0 = self.jvm.gc_s(), time.time(), time.perf_counter()
        try:
            sc.setJobGroup(f"qcbench-{i}-build", op.kind)
            df = wl.build(op)
            t1 = time.perf_counter()
            sc.setJobGroup(f"qcbench-{i}-force", op.kind)
            wl.force(op, df)
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted
            self._failed(op, [f"{type(exc).__name__}: {str(exc)[:300]}"])
            return
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        t2, w1, gc1 = time.perf_counter(), time.time(), self.jvm.gc_s()
        self._failed(op, wl.failures[n:])
        b, f = self.store.group(f"qcbench-{i}-build"), self.store.group(f"qcbench-{i}-force")
        self.spans.add(i, op.kind, t0, t2, None)
        self.spans.add(i, "build", t0, t1, op.kind)
        self.spans.add(i, "force", t1, t2, op.kind)
        r = record.setdefault("ops", [])
        r.append({
            "kind": op.kind, "families": self.kinds[op.kind], "wall": t2 - t0,
            "build": t1 - t0, "force": t2 - t1, "gc": gc1 - gc0,
            "prejobs": b.jobs, "jobs": b.jobs + f.jobs, "stages": b.stages + f.stages,
            "single": b.single_task_stages + f.single_task_stages,
            "tasks": b.tasks + f.tasks,
            "run": b.executor_run_s + f.executor_run_s,
            "cpu": b.executor_cpu_s + f.executor_cpu_s,
            "shuffle_read": b.shuffle_read_mb + f.shuffle_read_mb,
            "shuffle_write": b.shuffle_write_mb + f.shuffle_write_mb,
            "spill": b.spill_mb + f.spill_mb,
            "idle": (w1 - w0) - covered_s(b.intervals + f.intervals, w0, w1),
        })
        if watch:
            # files the op wrote; a hardlink into the new version keeps the
            # old file's modification time
            new = [st.st_size for st in table_files(watch()).values()
                   if st.st_mtime_ns >= start_ns]
            r[-1].update(files=len(new), bytes=sum(new), changed=wl.changed_rows)


def layer_metrics(ops: list[dict], nproc: int, storage_mb: float, versions: int,
                  row_bytes: float, overhead: float) -> dict:
    """Per-layer metrics of a traced pass: per-op means unless named a
    ratio; a family absent from the workload reads 0."""
    from metrics import PER_LAYER

    n = len(ops)

    def mean(key, rows=ops):
        return sum(o[key] for o in rows) / len(rows) if rows else 0.0

    stages = sum(o["stages"] for o in ops)
    out = {
        "queries.build_s": mean("build"),
        "queries.prejobs": mean("prejobs"),
        "spark.exec_s": mean("force"),
        "spark.jobs": mean("jobs"),
        "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.single_task_stage_share": sum(o["single"] for o in ops) / stages if stages else 0.0,
        "spark.executor_run_s": mean("run"),
        "spark.executor_cpu_s": mean("cpu"),
        "spark.parallel_eff": sum(o["run"] for o in ops) / (sum(o["wall"] for o in ops) * nproc),
        "spark.idle_s": mean("idle"),
        "spark.shuffle_read_mb": mean("shuffle_read"),
        "spark.shuffle_write_mb": mean("shuffle_write"),
        "spark.spill_mb": mean("spill"),
        "spark.storage_mb": storage_mb,
        "jvm.gc_s": mean("gc"),
        "trace.overhead": overhead,
    }
    # op time per family: an op with a force family splits its time
    # between its call's family and its forced result's family
    spent: dict[str, list[float]] = {}
    for o in ops:
        call, result = o["families"]
        if result is None:
            spent.setdefault(call, []).append(o["wall"])
        else:
            spent.setdefault(call, []).append(o["build"])
            spent.setdefault(result, []).append(o["force"])
    for name in PER_LAYER:
        if name.endswith("_s") and name not in out:
            v = spent.get(name, [])
            out[name] = sum(v) / len(v) if v else 0.0
    writes = [o for o in ops if "files" in o and o["changed"]]
    written = sum(o["bytes"] for o in writes)
    changed = sum(o["changed"] for o in writes) * row_bytes
    out["sources.table.files_written"] = mean("files", writes)
    out["sources.table.mb_written"] = written / len(writes) / 2**20 if writes else 0.0
    out["sources.table.write_amp"] = written / changed if changed else 0.0
    out["sources.table.versions"] = versions
    if not n or set(out) != set(PER_LAYER):
        raise ValueError(f"layer metrics differ: {sorted(set(PER_LAYER) ^ set(out))}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "qcfractal_spark")):
        print(f"no qcfractal_spark package beside {HERE}: run from a checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, ".run", str(os.getpid()))
    try:
        return _run(args, nproc, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, nproc: int, run_dir: str) -> int:
    import data

    scratch, tmp = os.path.join(run_dir, "scratch"), os.path.join(run_dir, "tmp")
    os.makedirs(scratch)
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc), SPARK_GRAFT_SHUFFLE=str(nproc),
        SPARK_GRAFT_SCRATCH_DIR=scratch, SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "qcfractal-spark-local"),
        TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
    )
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": nproc, **quiet_wait()}
    t = time.time()
    sf_dir = data.ensure_tables(os.path.join(HERE, ".cache"))
    record["inputs_s"] = time.time() - t

    from qcfractal_spark.session import build_session

    spark = build_session("qcbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })
    gateway = spark.sparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        # process start to a ready session, less the quiet wait and the
        # input generation, which are the benchmark's and not the program's
        session_s = time.time() - T_START - record["quiet_wait_s"] - record["inputs_s"]
        return _measure(args, spark, nproc, sf_dir, scratch, record, session_s)
    finally:
        spark.stop()
        # end the JVM (it exits when its stdin closes) and wait for it
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def _measure(args, spark, nproc, sf_dir, scratch, record, session_s) -> int:
    from metrics import END_TO_END, PER_LAYER, end_to_end, render
    from workloads import CLASSES, WORKLOADS, OracleCheck, rounds

    kinds = WORKLOADS[args.workload][0]
    wl = CLASSES[args.workload](spark, sf_dir, scratch,
                                OracleCheck(sf_dir, os.path.join(HERE, ".cache", "oracle")))
    builds = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup()
        builds.append(time.perf_counter() - t)
    record.update(session_s=session_s, state_builds_s=builds,
                  setup_s=session_s + statistics.median(builds))
    runner = Runner(spark, wl, kinds, nproc)
    seq = rounds(args.workload, args.seed, bool(args.trace))

    # the first round checks every op kind's output, untimed; it is also
    # the warm-up pass (a second would take a run past the time that a set
    # of repeated runs allows)
    record.update(check_round=runner.run_round(next(seq), verify=True),
                  to_first_op_s=time.time() - T_START)

    if args.trace:
        # each group of ops runs untraced and traced from the same state
        # (its writes restore what they change), the first of the two on
        # alternate groups, so that the speed-up of an op's later calls
        # does not count for or against the tracing
        untraced = 0.0
        for _ in range(TRACE_ROUNDS):
            for i, group in enumerate(next(seq)):
                for traced_pass in ((False, True) if i % 2 else (True, False)):
                    if traced_pass:
                        for op in group:
                            runner.trace_op(op, record)
                    else:
                        untraced += _total(runner.run_round([group]))
        traced = sum(o["wall"] for o in record["ops"])
        storage = runner.jvm.storage_mb()
        versions = wl.versions() if hasattr(wl, "versions") else 0
        values = layer_metrics(record["ops"], nproc, storage, versions,
                               getattr(wl, "row_bytes", 0.0), traced / untraced - 1)
        spec = PER_LAYER
        with open(_result_path(args, "spans"), "w") as fh:
            json.dump(runner.spans.items, fh)
    else:
        # the window is the ops' own time: the GCs the benchmark inserts
        # between ops are not the program's
        timed: list[tuple[str, float]] = []
        ticks = cpu_ticks()
        while _total(timed) < args.seconds or len(timed) < MIN_TIMED_OPS:
            timed += runner.run_round(next(seq))
        times = [s for _, s in timed]
        window = sum(times)
        # CPU time the host gave to other guests while this one was running
        total, _, stolen = (b - a for a, b in zip(ticks, cpu_ticks()))
        record["steal_share"] = stolen / max(total, 1)
        # a second full GC after Spark's cleaner thread has dropped the
        # blocks the first one released
        release(runner.jvm)
        time.sleep(CLEANER_PAUSE_S)
        runner.jvm.full_gc()
        values, facts = end_to_end(record["setup_s"], times, window,
                                   runner.jvm.heap_used_mb())
        record.update(facts, op_times=timed)
        spec = END_TO_END
    record.update(load_end=round(os.getloadavg()[0], 2), busy_end=round(cpu_busy(), 3),
                  run_s=time.time() - T_START)
    record.update(attempted=runner.attempted, failures=runner.failures)
    with open(_result_path(args, "run"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    out = {"correct": runner.failed == 0, "attempted": runner.attempted,
           "failed": runner.failed, "metrics": render(values, spec)}
    for name, m in out["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def _total(timed: list[tuple[str, float]]) -> float:
    return sum(t for _, t in timed)


def _result_path(args, what: str) -> str:
    d = os.path.join(HERE, "results")
    os.makedirs(d, exist_ok=True)
    # one file per workload and mode: the latest run's, so disk use is bounded
    return os.path.join(d, f"{what}-{args.workload}-trace{args.trace}.json")


if __name__ == "__main__":
    sys.exit(main())
