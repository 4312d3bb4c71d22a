"""Seeded benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Each run is a closed loop with one client on one Spark session at
``local[<usable cores>]``. It generates the workload's inputs from the
seed, sets up, runs one untimed warm-up pass that also checks every
operation's output, then times whole passes, each in a seeded shuffled
order, until ``--seconds`` have passed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs an
untraced pass, a pass on a fresh session with Spark's event log on and a
job group per operation, and another untraced pass, and prints the
per-layer metrics folded from the traced pass. The last stdout line is the result JSON; the run's spans
go to ``perfbench/_traces/``. Everything the run writes stays under
``perfbench/``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from metrics import END_TO_END, PER_LAYER, QUERY_MODULES, WORKLOAD_NAMES

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
WARM_WORKERS = 3
# A fixed driver heap (-Xms = -Xmx): with G1 free to size the heap, runs
# whose heap happened to stay small spent longer in GC and ran up to 1.4x
# slower, and the peak resident set spread from 1.8 to 3.2 GB.
HEAP = "3g"

ERROR_LINE = re.compile(rb"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ", re.M)


class StderrLog:
    """Point file descriptor 2 of this process, and so of the JVM it
    launches, at a file, so the driver's ERROR lines can be counted per
    pass."""

    def __init__(self, path: Path):
        self.path = path

    def __enter__(self) -> StderrLog:
        sys.stderr.flush()
        self._saved = os.dup(2)
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
        os.dup2(fd, 2)
        os.close(fd)
        return self

    def __exit__(self, *exc) -> None:
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)

    def mark(self) -> int:
        return self.path.stat().st_size

    def error_lines(self, start: int, end: int) -> int:
        with open(self.path, "rb") as f:
            f.seek(start)
            return len(ERROR_LINE.findall(f.read(end - start)))

    def tail(self, n: int = 40) -> str:
        return "\n".join(self.path.read_text(errors="replace")
                         .splitlines()[-n:])


def canary(spark) -> float:
    """``bench.py``'s pinned host-speed canary: 10M rows hashed into 2^20
    groups, aggregated and sorted, JVM-side only. Identical work on every
    run, so drift in it is the host, not the code."""
    t0 = time.perf_counter()
    (spark.range(10_000_000)
     .selectExpr("(id * 2654435761) % 1048576 AS k", "id % 9973 AS v")
     .groupBy("k").sum("v")
     .orderBy("k")
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the Spark JVM: its peak resident set so far."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def steal_ticks() -> int:
    """Time the hypervisor ran other guests while this machine's CPUs
    wanted to run, summed over CPUs, in clock ticks (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def jvm_gc_jit_seconds(spark) -> tuple[float, float]:
    """Total garbage-collection and JIT-compilation time of the Spark JVM
    so far (driver and, in local mode, executors)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime()
                for b in mf.getGarbageCollectorMXBeans())
    jit_ms = mf.getCompilationMXBean().getTotalCompilationTime()
    return gc_ms / 1000, jit_ms / 1000


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Runner:
    """One benchmark run: a session, a workload and the spans of its
    passes."""

    def __init__(self, args, work: Path, log: StderrLog):
        import tracing
        from workloads import MODULE_OF, WORKLOADS
        self.module_of = MODULE_OF
        self.args, self.work, self.log = args, work, log
        self.cpus = len(os.sched_getaffinity(0))
        self.wl = WORKLOADS[args.workload]()
        self.tracer = tracing.Tracer()
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.conf = {
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -Djava.io.tmpdir={work / 'tmp'} "
                "-XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def new_session(self, trace: bool = False):
        from redshift_to_lakehouse_migration_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        conf = dict(self.conf)
        if trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", extra_conf=conf)

    def set_up(self) -> None:
        """Generate the inputs, then start a session and open the inputs
        ``SETUP_REPS`` times; the first start also launches the JVM."""
        t0 = time.perf_counter()
        self.inputs = self.wl.generate(self.work / "inputs", self.args.seed)
        self.gen_s = time.perf_counter() - t0
        self.setup_reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.new_session()
            t1 = time.perf_counter()
            self.wl.open(self.spark)
            self.setup_reps.append((t1 - t0, time.perf_counter() - t1))

    def warm_up(self, parent: int) -> None:
        """One untimed pass in checking form, ``WARM_WORKERS`` operations
        at a time in list order (heaviest first): it only warms the JVM
        and checks outputs, and most of its time is one-off JIT
        compilation. A failed check or an error counts as a failed
        operation and names it."""
        engine_s: dict[str, float] = {}

        def check(k: int, op: str) -> str | None:
            out = self.work / "out" / f"warm-{k}"
            try:
                engine_s[op], problem = self.wl.warm_check(self.spark, op,
                                                           out)
            except Exception as e:  # counted and named
                problem = f"{type(e).__name__}: {str(e)[:300]}"
            shutil.rmtree(out, ignore_errors=True)
            return problem

        with self.tracer.span("warm-up", "warm", parent,
                              engine_s=engine_s) as i:
            with ThreadPoolExecutor(WARM_WORKERS) as pool:
                futures = {op: pool.submit(check, k, op)
                           for k, op in enumerate(self.wl.ops)}
                for op, fut in futures.items():
                    self.attempted += 1
                    problem = fut.result()
                    if problem:
                        self.failures.append(f"{op}: {problem}")
            gc.collect()
        self.warm_s = self.tracer.spans[i].seconds

    def order(self, p: int) -> list[str]:
        ops = list(self.wl.ops)
        random.Random(self.args.seed * 1009 + p).shuffle(ops)
        return ops

    def run_pass(self, p: int, parent: int, trace: bool = False) -> int:
        sc = self.spark.sparkContext
        err0 = self.log.mark()
        gc0, jit0 = jvm_gc_jit_seconds(self.spark)
        steal0 = steal_ticks()
        with self.tracer.span(f"pass-{p}", "pass", parent,
                              traced=trace) as ps:
            for k, op in enumerate(self.order(p)):
                self.attempted += 1
                out = self.work / "out" / f"p{p}-{k}"
                group = f"p{p}-op{k}"
                if trace:
                    sc.setJobGroup(group, op)
                with self.tracer.span(op, "op", ps, group=group,
                                      module=self.module_of[op]) as i:
                    try:
                        with self.tracer.span("build", "build", i) as b:
                            handle = self.wl.build(self.spark, op, out,
                                                   self.tracer, b)
                        with self.tracer.span("execute", "execute", i):
                            self.wl.execute(handle)
                    except Exception as e:  # counted and named
                        msg = f"{type(e).__name__}: {str(e)[:300]}"
                        self.tracer.spans[i].attrs["error"] = msg
                        self.failures.append(f"{op}: {msg}")
                if trace:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                handle = None
                gc.collect()
                shutil.rmtree(out, ignore_errors=True)
        gc1, jit1 = jvm_gc_jit_seconds(self.spark)
        span = self.tracer.spans[ps]
        span.attrs.update(
            error_lines=self.log.error_lines(err0, self.log.mark()),
            gc_s=gc1 - gc0, jit_s=jit1 - jit0,
            steal_frac=(steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
            / (span.seconds * self.cpus))
        return ps

    def ops_of(self, ps: int) -> list[int]:
        return [i for i in self.tracer.children(ps)
                if self.tracer.spans[i].kind == "op"]

    def pass_op_seconds(self, ps: int) -> float:
        """A pass's wall time without the benchmark's own work between
        operations (garbage collection, removing outputs)."""
        return sum(self.tracer.spans[i].seconds for i in self.ops_of(ps))

    def run(self) -> dict:
        a = self.args
        with self.tracer.span(a.workload, "workload", None,
                              seed=a.seed, trace=a.trace) as w:
            self.set_up()
            self.warm_up(w)
            if a.trace:
                metrics = self.traced(w)
            else:
                metrics = self.untraced(w)
        return metrics

    def untraced(self, w: int) -> dict:
        """Whole passes until ``--seconds`` have passed. An operation's
        latency is its median over the passes. The typical operation is
        the geometric mean of these: each operation weighs the same
        whatever its size, and all of them count, where a median over
        operations would be one operation's sample."""
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.args.seconds:
            passes.append(self.run_pass(len(passes) + 1, w))
        self.passes = passes
        lat: dict[str, list[float]] = {}
        for ps in passes:
            for i in self.ops_of(ps):
                s = self.tracer.spans[i]
                if "error" not in s.attrs:
                    lat.setdefault(s.name, []).append(s.seconds)
        op_s = [statistics.median(v) for v in lat.values()]
        return {
            "setup_s": statistics.median(s + o for s, o in self.setup_reps)
            + self.warm_s,
            "wall_s": statistics.median(self.pass_op_seconds(ps)
                                        for ps in passes),
            "op_geomean_s": statistics.geometric_mean(op_s),
            "jvm_peak_rss_mb": jvm_peak_rss_mb(self.spark),
        }

    def traced(self, w: int) -> dict:
        import tracing
        from workloads import keep_fracs
        canary_first = canary(self.spark)
        self.new_session()
        before = self.run_pass(1, w)
        self.new_session(trace=True)
        traced = self.run_pass(2, w, trace=True)
        self.spark.stop()  # closes the event log
        self.new_session()
        after = self.run_pass(3, w)
        canary_last = canary(self.spark)
        self.passes = [before, traced, after]
        jobs = {}
        for f in (self.work / "eventlog").iterdir():
            jobs.update(tracing.fold_events(tracing.read_event_log(f)))
        t = self.tracer
        ps = t.spans[traced]
        ops = self.ops_of(traced)
        by_op = tracing.attribute(jobs, t, ops)
        pass_jobs = [j for js in by_op.values() for j in js]
        m = tracing.spark_totals(pass_jobs, ps.start, ps.end, self.cpus)
        m["spark.task_p75_s"] = tracing.percentile(
            [(b - a) / 1000 for j in pass_jobs for a, b in j.task_ms], 75)
        builds = {i: t.spans[t.children(i)[0]] for i in ops}
        m["op.build_s"] = sum(b.seconds for b in builds.values())
        m["op.execute_s"] = sum(t.spans[c].seconds for i in ops
                                for c in t.children(i)[1:])
        m["op.eager_jobs"] = sum(1 for i in ops for j in by_op[i]
                                 if j.submit_ms / 1000 <= builds[i].end)
        op_total = sum(t.spans[i].seconds for i in ops)
        for mod in QUERY_MODULES:
            mine = [i for i in ops if t.spans[i].attrs["module"] == mod]
            m[f"queries.{mod}.share"] = (
                sum(t.spans[i].seconds for i in mine) / op_total)
            m[f"queries.{mod}.jobs"] = sum(len(by_op[i]) for i in mine)
        m.update(self.wl.layer_metrics(t, ops))
        if self.wl.funnel_rows is not None:
            m.update((f"corpus.{s}.keep_frac", f) for s, f in
                     keep_fracs(self.wl.funnel_rows).items())
        m.update({
            "session.launch_s": self.setup_reps[0][0],
            "session.start_s": statistics.median(
                s for s, _ in self.setup_reps[1:]),
            "tables.open_s": statistics.median(o for _, o in self.setup_reps),
            "inputs.gen_s": self.gen_s,
            "inputs.rows": self.inputs["rows"],
            "inputs.bytes": self.inputs["bytes"],
            "host.cpus": self.cpus,
            "host.canary_s": statistics.median([canary_first, canary_last]),
            "host.steal_frac": ps.attrs["steal_frac"],
            "log.error_lines": ps.attrs["error_lines"],
            "jvm.gc_s": ps.attrs["gc_s"],
            "jvm.jit_s": ps.attrs["jit_s"],
            # against untraced passes on each side of it: the JVM is
            # still compiling, so each pass runs faster than the last
            "tracing.overhead_frac": 2 * self.pass_op_seconds(traced)
            / (self.pass_op_seconds(before) + self.pass_op_seconds(after))
            - 1,
        })
        self.jobs = jobs
        return {k: m.get(k, 0) for k in PER_LAYER}

    def close(self) -> None:
        if self.spark is not None:
            stop_jvm(self.spark)
        self.wl.close()

    def write_trace(self, metrics: dict) -> Path:
        """Write the run's spans, the folded jobs (traced runs) and its
        metrics; spans stay in memory until here."""
        out = HERE / "_traces"
        out.mkdir(exist_ok=True)
        a = self.args
        path = out / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
        jobs = getattr(self, "jobs", {})
        path.write_text(json.dumps({
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "cpus": self.cpus, "inputs": self.inputs,
            "setup_reps": self.setup_reps, "warm_s": self.warm_s,
            "inputs_gen_s": self.gen_s, "failures": self.failures,
            "metrics": metrics, "spans": self.tracer.dump(),
            "jobs": [{k: v for k, v in vars(j).items() if k != "task_ms"}
                     for j in jobs.values()],
        }, indent=1, default=str))
        return path


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for d in ("inputs", "out", "tmp", "spark-local", "warehouse",
              "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    try:
        return bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()


def bench(args, work: Path) -> int:
    os.environ.update({
        # Python workers import the engine too, from any working directory
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # spark-submit's own launcher JVM
        "SPARK_LAUNCHER_OPTS":
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    })
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    try:
        import workloads  # noqa: F401 - the engine and its tools
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    with StderrLog(work / "driver-stderr.log") as log:
        runner = Runner(args, work, log)
        err = None
        try:
            metrics = runner.run()
        except Exception:  # reported below; no result
            err = traceback.format_exc()
        finally:
            runner.close()
    if err:
        print(log.tail() + "\n" + err, file=sys.stderr)
        return 1
    units = PER_LAYER if args.trace else END_TO_END
    trace_file = runner.write_trace(metrics)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": runner.cpus,
        "inputs": runner.inputs, "ops": list(runner.wl.ops),
        "passes": len(runner.passes), "failures": runner.failures,
        "error_lines": [runner.tracer.spans[p].attrs["error_lines"]
                        for p in runner.passes],
        "steal_frac": [round(runner.tracer.spans[p].attrs["steal_frac"], 4)
                       for p in runner.passes],
        "trace_file": str(trace_file.relative_to(ROOT))}))
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
