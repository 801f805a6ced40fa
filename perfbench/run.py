"""Benchmark of record for scarf_spark.

    python3 perfbench/run.py --workload cell_atlas --seed 1 --seconds 10 --trace 0

Run from the root of a scarf_spark checkout. One process is one run:
it generates the inputs, starts a ``local[nproc]`` Spark session, sets
the workload up (with one untimed warm-up pass), then runs closed-loop
passes until ``--seconds`` have elapsed, checking every pass's outputs
outside the timed region. ``--seed`` fixes the workload's choices (see
``DATA_SEED``).

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
also runs the passes a second time in a Spark context with the event
log on and reports the per-layer metrics (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time

T_PROC = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# Generated input size. The engine is driver-bound at this size, as it
# is at sf0.1; a smaller corpus keeps a run short.
SF = 0.01
# The generated data is the same for every run, so the spread between
# runs is run noise, not different inputs; --seed picks what the
# workload does with it (query order, pseudotime root, marker group,
# the dedup new-batch residue).
DATA_SEED = 20260101
REQUIRED = ("scarf_spark/__init__.py", "__spark_entry__.py", "tools/selfcheck.py")


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, or (0, 0) off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return (f[7] if len(f) > 7 else 0), sum(f[:8])
    except OSError:
        return 0, 0


def _tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants (the
    driver JVM and the Python workers), from /proc."""
    parent, rss = {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(st[1])
            rss[int(d)] = int(st[21]) * page
        except (OSError, IndexError, ValueError):
            continue
    keep, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in keep:
                keep.add(c)
                frontier.append(c)
    return sum(rss.get(p, 0) for p in keep) / 2**20


class RssSampler(threading.Thread):
    def __init__(self, every: float = 0.5):
        super().__init__(daemon=True)
        self.every, self.peak, self._halt = every, 0.0, threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, _tree_rss_mb(os.getpid()))
            self._halt.wait(self.every)

    def stop(self):
        self._halt.set()
        self.join()


def _prepare_env(run_dir: str) -> None:
    """Every run starts from the same state: a fresh TMPDIR (the engine
    memoizes its Zarr/HDF5 fixtures there), fresh Spark local dirs, and
    one Spark core per CPU this process may use."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    # keep the JVMs' temp files (and their perf-data files) in the run too
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    # the engine's 16g default exceeds what a shared 4-core box can give
    os.environ["SCARF_DRIVER_MEM"] = "4g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.path.join(ROOT, "tools")] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def _start_spark(event_dir: str | None):
    from pyspark import SparkContext

    from scarf_spark.session import get_spark

    if event_dir:
        # the traced context starts in the JVM the untraced one ran in;
        # a new SparkConf reads these JVM properties
        sysprops = SparkContext._jvm.java.lang.System
        sysprops.setProperty("spark.eventLog.enabled", "true")
        sysprops.setProperty("spark.eventLog.dir", "file://" + event_dir)
        sysprops.setProperty("spark.eventLog.compress", "false")
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop Spark and the gateway JVM, if running, and wait for it to
    exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _warm_python_workers(spark) -> None:
    """Start one Python worker per core, each through the Arrow path the
    engine's pandas UDFs use, outside any timed operation. A new
    SparkContext starts new workers; without this their start would
    land in the first traced operations."""
    n = _nproc()
    spark.sparkContext.setJobGroup("pb-check", "benchmark checks")
    spark.range(0, 4 * n, numPartitions=n).mapInPandas(lambda it: it, "id long").count()


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class Phase:
    """One Spark context's worth of a run: setup, optional warm-up,
    then closed-loop passes for ``seconds``."""

    def __init__(self, wl, data_dir: str, work_dir: str, seed: int, extra: dict | None = None):
        import numpy as np

        from workloads import Ctx

        self.wl, self.seed = wl, seed
        self.ctx = Ctx(None, data_dir, work_dir, np.random.default_rng(seed), extra or {})
        self.passes: list[float] = []
        self.cached_mb: list[float] = []
        self.extras: list[dict] = []
        self.checks: list[tuple] = []
        self.setup_parts: dict[str, float] = {}

    def run(self, seconds: float, warmup: str, event_dir: str | None = None):
        """``warmup`` is "pass" (one untimed pass, the cold start of a
        fresh JVM) or "workers" (start the Python workers only, for a
        new context in a JVM that has run the passes already)."""
        from workloads import Oracle, Recorder

        if self.wl.needs_oracle and "oracle" not in self.ctx.extra:
            self.ctx.extra["oracle"] = Oracle(self.ctx.data_dir)
        t = time.time()
        spark = _start_spark(event_dir)
        self.setup_parts["session.start"] = time.time() - t
        self.ctx.spark = spark
        self.rec = rec = Recorder(spark)
        rec.pass_no = -1
        rec.op("catalog.load", "setup", lambda: self.wl.setup(self.ctx, rec))
        if rec.ops[-1].error:
            raise RuntimeError(f"setup failed: {rec.ops[-1].error}")
        self.setup_parts["catalog.load"] = rec.ops[-1].wall
        pass_no = 0
        if warmup == "pass":
            rec.pass_no = pass_no
            self._one_pass(pass_no, record=False)
            self.setup_parts["warmup_pass"] = sum(o.wall for o in rec.pass_ops(pass_no))
            pass_no += 1
        else:
            _warm_python_workers(spark)
        t_meas = time.time()
        while True:
            rec.pass_no = pass_no
            self._one_pass(pass_no, record=True)
            pass_no += 1
            if time.time() - t_meas >= seconds:
                break
        return spark

    def _one_pass(self, pass_no: int, record: bool):
        from stats import pass_counts

        rec = self.rec
        # start every pass from a collected heap on both sides, so a
        # collection owed to the previous pass does not land in this one
        gc.collect()
        self.ctx.spark.sparkContext._jvm.java.lang.System.gc()
        out = self.wl.run_pass(self.ctx, rec)
        ops = rec.pass_ops(pass_no)
        if record:
            self.passes.append(sum(o.wall for o in ops))
            self.cached_mb.append(_cached_mb(self.ctx.spark))
        try:
            verdicts = self.wl.check(self.ctx, out)
        except Exception as e:  # noqa: BLE001
            verdicts = [(ops[-1].name if ops else "?", "check", False, f"{type(e).__name__}: {e}")]
        self.extras.append(self.wl.layer_extras(self.ctx, out))
        attempted, failed = pass_counts([o.name for o in ops], {o.name for o in ops if o.error}, verdicts)
        self.checks.append((pass_no, attempted, failed, verdicts, ops))
        self.wl.end_pass(self.ctx, out)

    def measured_ops(self):
        first = 1 if "warmup_pass" in self.setup_parts else 0
        return [o for o in self.rec.ops if o.pass_no >= first]


def _summary_line(name: str, value, unit: str) -> str:
    if value is None:
        return f"  {name:<12} n/a (too few samples)"
    return f"  {name:<12} {value:.4f} {unit}"


def _layer_metrics(traced: "Phase", untraced: "Phase", log) -> dict:
    from stats import driver_time
    from workloads import ALL_SPANS, SHUFFLE_SPANS

    metrics: dict[str, tuple[float, str]] = {}
    n_pass = max(len(traced.passes), 1)
    acc = {s: {"wall_s": 0.0, "driver_s": 0.0, "task_s": 0.0, "jobs": 0.0, "shuffle_mb": 0.0}
           for s in ALL_SPANS}
    for o in traced.measured_ops():
        j = log.get(o.op_id)
        a = acc[o.span]
        a["wall_s"] += o.wall / n_pass
        a["driver_s"] += driver_time(o.t0, o.t1, j.intervals) / n_pass
        a["task_s"] += j.task_s / n_pass
        a["jobs"] += j.jobs / n_pass
        a["shuffle_mb"] += j.shuffle_bytes / 2**20 / n_pass
    load = next(o for o in traced.rec.ops if o.span == "catalog.load")
    j = log.get(load.op_id)
    acc["catalog.load"].update(wall_s=load.wall, driver_s=driver_time(load.t0, load.t1, j.intervals),
                               task_s=j.task_s, jobs=float(j.jobs),
                               shuffle_mb=j.shuffle_bytes / 2**20)
    # get_spark runs no Spark job: all of its time is driver time
    ss = untraced.setup_parts["session.start"]
    acc["session.start"].update(wall_s=ss, driver_s=ss)
    for span in ALL_SPANS:
        for m in ("wall_s", "driver_s", "task_s", "jobs"):
            metrics[f"{span}.{m}"] = (acc[span][m], "count" if m == "jobs" else "s")
        if span in SHUFFLE_SPANS:
            metrics[f"{span}.shuffle_mb"] = (acc[span]["shuffle_mb"], "MB")
    yields = [e["dedup.candidate_yield"] for e in traced.extras if "dedup.candidate_yield" in e]
    metrics["dedup.candidate_yield"] = (statistics.median(yields) if yields else 0.0, "ratio")
    metrics["session.peak_rss_mb"] = (traced.peak_rss_mb, "MB")
    metrics["catalog.cached_mb"] = (max(traced.cached_mb) if traced.cached_mb else 0.0, "MB")
    metrics["spark.failed_tasks"] = (float(log.failed_tasks), "count")
    metrics["trace.overhead_frac"] = (
        statistics.median(traced.passes) / statistics.median(untraced.passes) - 1.0, "ratio")
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a scarf_spark checkout (missing {', '.join(missing)})", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        return _run(args, run_dir, WORKLOADS[args.workload]())
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


def _run(args, run_dir: str, wl) -> int:
    import datagen
    from stats import fail_frac, percentile

    steal0, total0 = _cpu_times()
    load_start = os.getloadavg()[0]
    data_dir = os.path.join(run_dir, "data")
    t = time.time()
    datagen.generate(data_dir, DATA_SEED, SF)
    gen_s = time.time() - t

    base = Phase(wl, data_dir, run_dir, args.seed)
    spark = base.run(args.seconds, warmup="pass")
    phases = [base]
    layer = None
    if args.trace:
        # same JVM (JIT and codegen caches stay warm), new SparkContext
        # with the event log on
        spark.stop()
        event_dir = os.path.join(run_dir, "events")
        os.makedirs(event_dir)
        data_t = os.path.join(run_dir, "data_traced")
        shutil.copytree(data_dir, data_t)
        extra = {k: v for k, v in base.ctx.extra.items() if k in ("oracle", "root", "group", "hash",
                                                                   "root_frac", "group_frac")}
        traced = Phase(wl, data_t, run_dir, args.seed, extra)
        sampler = RssSampler()
        sampler.start()
        traced.run(args.seconds, warmup="workers", event_dir=event_dir)
        _stop_jvm()
        sampler.stop()
        traced.peak_rss_mb = sampler.peak
        from eventlog import parse_file

        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        layer = _layer_metrics(traced, base, parse_file(logs[0]))
        phases.append(traced)
    else:
        _stop_jvm()

    attempted = sum(c[1] for p in phases for c in p.checks)
    failed = sum(c[2] for p in phases for c in p.checks)
    for p in phases:
        for pass_no, _attempted, _failed, verdicts, ops in p.checks:
            for o in ops:
                if o.error:
                    print(f"FAIL pass {pass_no} {o.name}: raised {o.error}", file=sys.stderr)
            for v in verdicts:
                if not v[2]:
                    print(f"FAIL pass {pass_no} {v[0]} [{v[1]}]: {v[3]}", file=sys.stderr)
    op_walls = [o.wall for o in base.measured_ops()]
    setup_s = sum(base.setup_parts.values())
    pass_s = statistics.median(base.passes)
    steal1, total1 = _cpu_times()
    steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)

    print(f"  run wall {time.time() - T_PROC:.1f}s (setup+passes {setup_s + sum(base.passes):.1f}s)")
    print(f"perfbench {wl.name} seed={args.seed} data_seed={DATA_SEED} sf={SF} nproc={_nproc()} "
          f"load1 {load_start:.2f}->{os.getloadavg()[0]:.2f} steal {steal_pct:.2f}% "
          f"datagen {gen_s:.2f}s trace={args.trace}")
    print("  setup parts: " + ", ".join(f"{k} {v:.3f}s" for k, v in base.setup_parts.items()))
    print(_summary_line("setup_s", setup_s, "s"))
    print(_summary_line("pass_s", pass_s, "s") + f" (median of {len(base.passes)} passes)")
    print(_summary_line("op_p50_s", percentile(op_walls, 0.5), "s") + f" ({len(op_walls)} ops)")
    print(_summary_line("op_p90_s", percentile(op_walls, 0.9), "s"))
    print(_summary_line("fail_frac", fail_frac(attempted, failed), "") + f" ({failed}/{attempted})")
    per_op: dict[str, list[float]] = {}
    for o in base.measured_ops():
        per_op.setdefault(o.name, []).append(o.wall)
    warm = [o for o in base.rec.ops if o.pass_no == 0] if "warmup_pass" in base.setup_parts else []
    if warm:
        print("  warm-up ops (s): " + ", ".join(f"{o.name} {o.wall:.2f}" for o in warm))
    print("  ops (median s): " + ", ".join(
        f"{k} {statistics.median(v):.2f}" for k, v in per_op.items()))
    if layer is not None:
        span_sum = sum(v for k, (v, _u) in layer.items()
                       if k.endswith(".wall_s") and not k.startswith(("session.", "catalog.")))
        print(f"  traced pass_s {statistics.median(phases[1].passes):.4f} s "
              f"(median of {len(phases[1].passes)}); span wall_s sum per pass {span_sum:.4f} s")
        for k, (v, unit) in layer.items():
            print(f"  {k:<44} {v:.4f} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
