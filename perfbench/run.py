"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload flow_dash --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.perfbench_work/`` (removed on exit) before anything is timed.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also writes its spans and per-layer metrics to ``.perfbench_out/``.
See perfbench/README.md.
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

import kernels
from tracing import Tracer, exec_metrics, parse_event_log
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent

#: set-ups per run; ``setup_s`` takes the median of the repeatable part
SETUPS = 3
#: how far past ``--seconds`` the last pass of a window may be expected to end
OVERRUN = 1.25
DRIVER_MEM = "2g"


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def host_env(work: Path) -> int:
    """Pin the session to this host and keep every file it writes
    inside ``work``. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # the Python workers import the program's kernels
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(work / "local"),
        # the launcher JVM that spark-submit starts before the driver
        SPARK_LAUNCHER_OPTS=java_opts,
    )
    return cores


def session_conf(work: Path) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.defaultJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
    }


class EventLogTap:
    """Spark's own event-log writer, attached to the running context for
    the traced window only, so the untraced window of the same session
    pays nothing for it. Spark 4 defaults to zstd rolling logs; this one
    writes one plain JSON-lines file, ``log_dir/<name>``."""

    def __init__(self, spark, log_dir: Path, name: str):
        jsc = spark.sparkContext._jsc
        jvm = spark.sparkContext._jvm
        conf = (
            jsc.sc().conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        log_dir.mkdir()
        self.path = log_dir / name
        self._sc = jsc.sc()
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, jvm.scala.Option.apply(None), jvm.java.net.URI(log_dir.as_uri()),
            conf, jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._sc.addSparkListener(self._listener)

    def close(self) -> Path:
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()
        return self.path


def _tree_pss(root_pid: int) -> int:
    """Proportional set size, in bytes, of ``root_pid`` and all its
    descendants: forked Python workers share pages with their daemon,
    which a sum of resident sizes would count once per worker."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(x.split()[1]) for x in fh if x.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError):
            continue
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Peak memory of the driver JVM plus the Python workers (which the
    JVM forks), sampled every ``period`` seconds."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        self.pid, self.period, self.peak = jvm_pid, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, _tree_pss(self.pid))

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return max(self.peak, _tree_pss(self.pid))


def window(wl, seconds: float) -> list[tuple[float, list]]:
    """Whole passes for about ``seconds``, and at least
    ``wl.min_passes``: [(wall, ops)]. Past the minimum, a pass starts
    only if a pass of the mean length so far would end within
    ``OVERRUN`` x ``seconds``, so a pass count does not flip between
    runs when a pass takes about as long as the window."""
    passes = []
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        ops, complete = wl.run_pass()
        if not complete:
            return passes
        passes.append((time.perf_counter() - t0, ops))
        elapsed = time.perf_counter() - t_start
        if len(passes) >= wl.min_passes and elapsed * (1 + 1 / len(passes)) > OVERRUN * seconds:
            return passes


class Run:
    """One workload's session, set-up and windows."""

    def __init__(self, args, work: Path):
        self.args, self.work = args, work
        self.cores = host_env(work)
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.wl = WORKLOADS[args.workload](work, args.seed, args.seconds, self.tracer)
        self.spark = None

    def new_session(self):
        from stream4flow_spark.session import get_spark

        if self.spark is not None:
            self.wl.stop()
            self.spark.stop()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf=session_conf(self.work),
        )
        return self.spark

    def setup(self) -> dict:
        session_s, warm_s = [], []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            spark = self.new_session()
            session_s.append(time.perf_counter() - t0)
            if len(session_s) == 1 and self.args.trace:
                # per-layer only: the sampler's /proc walks would cost
                # the timed window of an untraced run a few percent
                self.rss = RssSampler(spark._jvm.java.lang.ProcessHandle.current().pid())
            t0 = time.perf_counter()
            self.wl.warm_inputs(spark)
            warm_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.wl.load()
        registry_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.wl.start(spark)
        self.wl.warm_up()
        warmup_s = time.perf_counter() - t0
        return {
            "session.start_s": _median(session_s),
            "sources.warm_s": _median(warm_s),
            "registry.queries_s": registry_s,
            "warmup_s": warmup_s,
        }

    def traced_window(self, seconds: float):
        """Measure again with spans recorded and the event log on."""
        tap = EventLogTap(self.spark, self.work / "eventlog", self.tracer.run_id)
        self.tracer.enabled = True
        with self.tracer.span("run"):
            passes = window(self.wl, seconds)
        self.tracer.enabled = False
        return passes, tap.close()

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.wl.stop()
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def pass_wall(passes) -> float:
    """Wall of one pass: the median wall of the op at each position of
    the pass, summed over the positions."""
    return sum(_median(col) for col in zip(*[[op.wall for op in ops] for _, ops in passes]))


def op_p50(passes) -> float:
    return _median([op.wall for _, ops in passes for op in ops])


def e2e_metrics(setup: dict, passes, ok_frac: float) -> dict:
    return {
        "setup_s": (
            setup["session.start_s"]
            + setup["sources.warm_s"]
            + setup["registry.queries_s"]
            + setup["warmup_s"]
        ),
        "pass_s": pass_wall(passes),
        "op_p50_s": op_p50(passes),
        "ok_frac": ok_frac,
    }


def layer_metrics(run: Run, setup, untraced, traced, log_file, progress) -> dict:
    tracer = run.tracer
    log = parse_event_log(log_file)
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)

    def per_pass(fn):
        return _median([fn(p) for p in by_name.get("pass", [])])

    def in_pass(p, name):
        return [s for s in by_name.get(name, []) if p.start <= s.start <= p.end]

    m = {k: setup[k] for k in ("session.start_s", "registry.queries_s", "sources.warm_s")}
    exec_by_pass = [exec_metrics(log, p.start, p.end, run.cores) for p in by_name.get("pass", [])]
    for k in exec_by_pass[0] if exec_by_pass else []:
        m[k] = _median([e[k] for e in exec_by_pass])
    m["gate.build_s"] = per_pass(lambda p: sum(s.dur for s in in_pass(p, "build")))
    m["gate.build_jobs"] = per_pass(
        lambda p: sum(len(log.jobs_in(s.start, s.end)) for s in in_pass(p, "build"))
    )
    m["exec.sink_s"] = per_pass(lambda p: sum(s.dur for s in in_pass(p, "sink")))
    m["bench.pass_self_s"] = per_pass(tracer.self_time)
    m["bench.op_self_s"] = per_pass(lambda p: sum(tracer.self_time(s) for s in in_pass(p, "op")))

    compacts = [s for s in by_name.get("compact", []) if s.attrs.get("compacted")]
    m["streaming.llmingest.apply_s"] = _median([tracer.self_time(s) for s in by_name.get("apply", [])])
    m["streaming.llmingest.compact_s"] = _median([s.dur for s in compacts])
    m["streaming.llmingest.compactions"] = per_pass(
        lambda p: sum(1 for s in compacts if p.start <= s.start <= p.end)
    )
    if "apply" in by_name:
        m["streaming.llmingest.jobs_per_batch"] = _median(
            [len(log.jobs_in(s.start, s.end)) for s in by_name["op"]]
        )
    traced_batches = {s.attrs["batch"] for s in by_name.get("apply", [])}
    durations = [p["durationMs"] for p in progress if p["batch"] in traced_batches]
    for name, keys in (
        ("trigger_s", ("triggerExecution",)),
        ("plan_s", ("queryPlanning",)),
        ("offsets_s", ("latestOffset", "getBatch")),
        ("add_batch_s", ("addBatch",)),
        ("commit_s", ("walCommit", "commitOffsets")),
    ):
        m[f"streaming.{name}"] = _median([sum(d.get(k, 0) for k in keys) / 1e3 for d in durations])
    m.update(run.wl.layer_counts())
    m["mem.peak_rss_mb"] = run.peak_rss / 2**20
    m["trace.overhead_s"] = pass_wall(traced) - pass_wall(untraced)
    m["trace.overhead_op_s"] = op_p50(traced) - op_p50(untraced)
    kernel_m, kernels_ok = kernels.run(run.args.seed)
    m.update(kernel_m)
    return m, kernels_ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "stream4flow_spark" / "__init__.py").is_file():
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    # the program, and its oracle comparison rules for the checks
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    import pyspark

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        run = Run(args, work)
        try:
            setup = run.setup()
            if args.trace:
                untraced = window(run.wl, args.seconds / 2)
                traced, log_file = run.traced_window(args.seconds / 2)
            else:
                untraced, traced = window(run.wl, args.seconds), []
            if args.trace:
                run.peak_rss = run.rss.stop()
            progress = run.wl.progress()
            run.wl.stop()
            verdict = run.wl.verify()
            if args.trace:
                layers, kernels_ok = layer_metrics(run, setup, untraced, traced, log_file, progress)
        finally:
            run.shutdown()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it

    ops = [op for _, ops in untraced + traced for op in ops]
    failed = sum(1 for op in ops if op.error or not verdict.get(op.key, False))
    correct = bool(ops) and all(verdict.values()) and failed == 0
    host = {
        "nproc": run.cores,
        "mem_total_mb": os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        correct = correct and kernels_ok
        # every per-layer metric is printed; a layer the workload does
        # not use reads 0
        metrics = {m["name"]: layers.get(m["name"], 0) for m in spec["per_layer"]}
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        run.tracer.write(out / f"{args.workload}-seed{args.seed}-spans.json")
        (out / f"{args.workload}-seed{args.seed}-layers.json").write_text(
            json.dumps({"host": host, "metrics": metrics}, indent=1)
        )
    else:
        metrics = e2e_metrics(setup, untraced, (len(ops) - failed) / max(1, len(ops)))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({"host": host, "op_walls": [[op.wall for op in p] for _, p in untraced + traced]}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, len(ops)),
                "failed": failed if ops else 1,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
