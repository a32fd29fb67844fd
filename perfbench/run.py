#!/usr/bin/env python3
"""Benchmark of the esa_pfa_spark CLI: one closed-loop client, in-process.

    python3 perfbench/run.py --workload {flagship,dedup_exact,curate} \\
        --seed N --seconds S --trace {0,1}

``BENCHMARK.json`` gates ``flagship`` and ``dedup_exact``; ``curate`` runs
by hand.

Run from the root of a source checkout.  One driver process at
``local[nproc]`` runs passes back to back; a pass is one call of
``esa_pfa_spark.cli.main([...])`` on the benchmark's own session (the CLI's
``get_spark`` reuses it).  The seed only changes the generated content; the
work of a pass is the same for every seed.

* ``--trace 0`` prints the end-to-end metrics.  ``setup_s`` runs from
  process start to the first timed pass: session start, input
  registration, the cold pass and the warm-up passes, minus the harness's
  own generation and checks.  Then passes are timed, at least
  ``MIN_PASSES`` and until their walls sum to ``--seconds``;
  ``seq_per_s`` and ``cpu_s_per_kseq`` are taken from the median pass
  wall and the median pass CPU time, the CPU being that of the whole
  process tree (driver, JVM, Python workers) read from ``/proc``.
* ``--trace 1`` prints the per-layer metrics: after the warm-up, each
  iteration runs one traced pass, then one untraced pass.  In the traced
  pass every span (a public function of the program) is forced on its own
  (noop sink) in its own Spark job group.  Spark's event log is rolled up
  per job group.  The metrics are those of every span of the gated
  workloads and of the workload run; spans it does not run report 0.

Every pass's output is checked against an independent reference; a pass
that raises or fails its check counts in ``failed``.  The last line of
standard output is the JSON result; the line before it holds diagnostics
(generation and check costs, sequence and token counts, pass walls, and
``steal_frac``, the host's steal share of CPU time over the run).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MAX_RUN_S = 150.0  # stop starting iterations past this, to end within 180 s
# timed passes a run makes at least: a median of three passes is not moved
# by one pass slowed by a burst of host steal (13% steal in one ~8 s
# dedup_exact pass made it 70% slower than the next)
MIN_PASSES = 3

END_TO_END = {"setup_s": "s", "seq_per_s": "1/s", "cpu_s_per_kseq": "s"}

SPAN_BASE = ["wall_s", "self_s", "jobs", "driver_idle_s", "executor_cpu_s",
             "shuffle_write_mb", "spill_mb"]
UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "driver_idle_s": "s",
    "executor_cpu_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "input_mb": "MB", "output_mb": "MB", "python_s": "s", "python_in_mb": "MB",
    "rows_out": "count", "useful_frac": "ratio",
}
RUN_LAYER = {
    "session.get_spark.wall_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_frac": "ratio",
}


def per_layer_units(wl) -> dict[str, str]:
    """Every per-layer metric a traced run of ``wl`` reports, with its
    unit, in report order: the run's own, then those of each span of the
    gated workloads and of ``wl``."""
    from workloads import GATED

    out = dict(RUN_LAYER)
    for w in (*GATED, wl):
        for span, extra in w.spans.items():
            for m in SPAN_BASE + extra:
                out.setdefault(f"{span}.{m}", UNITS[m])
    return out


def pin_env(work: Path, ncpu: int) -> None:
    """Pin what the program reads from its environment, before Spark starts:
    parallelism, the program's default driver heap, the Python path of the
    workers, and run-local scratch directories."""
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)  # get_spark: master and shuffle partitions
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)  # session.py's default heap
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM too
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [str(ROOT), str(HERE)]


def start_spark(work: Path, ncpu: int, app: str, event_log: Path | None):
    from esa_pfa_spark.session import get_spark

    confs = {
        "spark.local.dir": str(work / "local"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(master=f"local[{ncpu}]", app_name=app, extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait until every process
    this run started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    import procs

    started = procs.descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits at end of input
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        procs.wait_gone(started)


@dataclass
class Pass:
    wall_s: float
    cpu_s: float
    steal_frac: float  # the host's steal share of CPU time during the pass


class Runner:
    """Runs and checks passes of one workload; counts ops and failures."""

    def __init__(self, wl, inp, ref, out: Path):
        self.wl, self.inp, self.ref, self.out = wl, inp, ref, str(out)
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0
        self.errors: list[str] = []

    def cli(self, argv: list[str]) -> None:
        """One CLI call whose output is checked and counted as an op."""
        self._check(*self._call(argv))

    def timed_pass(self) -> Pass:
        import procs

        steal0, total0 = procs.host_cpu_ticks()
        c0 = procs.tree_cpu_s()
        t0 = time.perf_counter()
        outcome = self._call(self.wl.argv(self.inp, self.out))
        wall = time.perf_counter() - t0
        cpu = procs.tree_cpu_s() - c0
        steal1, total1 = procs.host_cpu_ticks()
        self._check(*outcome)
        return Pass(wall, cpu, (steal1 - steal0) / max(1, total1 - total0))

    @staticmethod
    def _call(argv: list[str]) -> tuple[str | None, str]:
        """Run the CLI in-process: (error or None, captured stdout)."""
        from esa_pfa_spark import cli

        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                cli.main(argv)
        except Exception:  # a failed pass is counted, the run goes on
            return traceback.format_exc(limit=3), buf.getvalue()
        return None, buf.getvalue()

    def _check(self, err: str | None, stdout: str) -> None:
        t0 = time.perf_counter()
        if err is None:
            try:
                err = self.wl.check(self.out, stdout, self.ref)
            except Exception:  # an unreadable output fails the pass
                err = traceback.format_exc(limit=3)
        self.attempted += 1
        if err is not None:
            self.failed += 1
            self.errors.append(err)
        self.check_s += time.perf_counter() - t0


def result(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def verdict(warm_failed: int, failed: int, diag: dict) -> bool:
    """A run is correct when every pass matched its reference and, when
    traced, every job was attributed to a span and the spans composed the
    same result as the program."""
    return (warm_failed == 0 and failed == 0 and not diag.get("unattributed_jobs")
            and not diag.get("trace_errors"))


def run(wl, args, work: Path) -> int:
    import procs

    steal0, total0 = procs.host_cpu_ticks()
    ncpu = len(os.sched_getaffinity(0))
    pin_env(work, ncpu)

    t = time.perf_counter()
    inp = wl.generate(args.seed, work / "data", ncpu)
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    ref = wl.reference(inp)
    ref_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = start_spark(work, ncpu, f"perfbench-{wl.name}", work / "eventlog" if args.trace else None)
    session_s = time.perf_counter() - t
    runner = Runner(wl, inp, ref, work / "out")
    try:
        # a traced run warms up as an untraced one does, so the untraced
        # pass its overhead is taken against is as warm as a timed one
        warm = [runner.timed_pass() for _ in range(1 + wl.warmups)]
        warm_failed = runner.failed
        runner.attempted = runner.failed = 0  # ops count the measured passes
        setup_s = time.perf_counter() - T0 - gen_s - ref_s - runner.check_s
        if args.trace:
            iterations, untraced_s, trace_errors = traced(wl, spark, runner, inp, args.seconds)
        else:
            metrics, diag = untraced(runner, inp, args.seconds)
    finally:
        stop_spark(spark)
    if args.trace:
        metrics, diag = rollup_trace(wl, work / "eventlog", iterations, untraced_s)
        metrics["session.get_spark.wall_s"] = (session_s, "s")
        diag["trace_errors"] = trace_errors[:3]
    else:
        metrics["setup_s"] = (setup_s, END_TO_END["setup_s"])
    diag.update({
        "workload": wl.name, "seed": args.seed, "ncpu": ncpu,
        "seqs": inp.n_seq, "tokens": inp.n_tok, "gen_s": gen_s,
        "check_s": ref_s + runner.check_s, "session_s": session_s,
        "warm_pass_s": [p.wall_s for p in warm], "ops": runner.attempted,
        "ops_failed": runner.failed, "errors": runner.errors[:3],
    })
    steal1, total1 = procs.host_cpu_ticks()
    diag["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    print("perfbench diagnostics " + json.dumps(diag))
    ok = verdict(warm_failed, runner.failed, diag)
    print(result(ok, runner.attempted, runner.failed, metrics))
    return 0


def untraced(runner: Runner, inp, seconds: float):
    passes: list[Pass] = []
    while len(passes) < MIN_PASSES or (sum(p.wall_s for p in passes) < seconds
                                       and time.perf_counter() - T0 < MAX_RUN_S):
        passes.append(runner.timed_pass())
    metrics = {
        "seq_per_s": (inp.n_seq / statistics.median(p.wall_s for p in passes),
                      END_TO_END["seq_per_s"]),
        "cpu_s_per_kseq": (1000 * statistics.median(p.cpu_s for p in passes) / inp.n_seq,
                           END_TO_END["cpu_s_per_kseq"]),
    }
    return metrics, {"pass_s": [p.wall_s for p in passes], "pass_cpu_s": [p.cpu_s for p in passes],
                     "pass_steal_frac": [p.steal_frac for p in passes]}


def traced(wl, spark, runner: Runner, inp, seconds: float):
    from spans import Tracer

    tracer = Tracer(spark.sparkContext)
    untraced_s: list[float] = []
    iterations: list[list] = []
    errors: list[str] = []
    spent = 0.0
    while not iterations or (spent < seconds and time.perf_counter() - T0 < MAX_RUN_S):
        t0 = time.perf_counter()
        first = len(tracer.spans)
        err = wl.trace_pass(tracer, spark, inp, runner.out, runner.cli, runner.ref)
        if err is not None:
            errors.append(err)
        iterations.append(tracer.spans[first:])
        # untraced after traced: the traced cli span runs last in its pass,
        # so both sides of the overhead are equally warm
        untraced_s.append(runner.timed_pass().wall_s)
        spent += time.perf_counter() - t0
    return iterations, untraced_s, errors


def rollup_trace(wl, log_dir: Path, iterations, untraced_s):
    import spans as sp

    groups, jobs = sp.rollup(sp.read_event_log(log_dir))
    per_iter = [sp.span_metrics(it, groups) for it in iterations]
    metrics = {}
    for name, unit in per_layer_units(wl).items():
        span, _, m = name.rpartition(".")
        vals = [it[span][m] for it in per_iter if span in it and m in it[span]]
        metrics[name] = (statistics.median(vals) if vals else 0.0, unit)
    untraced = statistics.median(untraced_s)
    metrics["trace.untraced_pass_s"] = (untraced, "s")
    metrics["trace.overhead_frac"] = (metrics["cli.wall_s"][0] / untraced - 1.0, "ratio")
    every = [s for it in iterations for s in it]
    return metrics, {
        "iterations": len(iterations),
        "untraced_pass_s": untraced_s,
        "spans": [(s.name, s.wall_s) for s in iterations[0]],
        "unattributed_jobs": sp.unattributed_jobs(every, jobs),
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if not (ROOT / "esa_pfa_spark" / "cli.py").is_file():
        print(f"perfbench: no esa_pfa_spark sources under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    # SIGTERM unwinds like an exception, so the session is stopped and the
    # run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(WORKLOADS[args.workload], args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it


if __name__ == "__main__":
    sys.exit(main())
