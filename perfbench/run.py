"""One run of the flatbread_spark benchmark, from outside the library.

Run from the root of a checkout::

    python3 perfbench/run.py --workload tabulate --seed 1 --seconds 10 --trace 0

A run is one fresh process. It generates the workload's tables from
``--seed`` (``perfbench/gen.py``), starts the library's session
(``flatbread_spark.session.get_spark``) on ``local[nproc]`` with nproc
shuffle partitions and a 2 GB driver heap, runs one untimed warm pass, then
``round(--seconds / PASS_S)`` timed passes, at least two. The pass count is
fixed rather than "until the time is up", so a faster commit does not run
more passes, further into JIT warm-up, than a slower one. A pass calls every
query of the workload the public way,
``__spark_entry__.queries()[name](spark, dir)`` followed by ``.collect()``.
After each pass the operator pins (``flatbread_spark.cache.release``) and
the Spark cache are released, so queries of one pass share cached pivots
but no pass reuses another's. Passes whose job counts differ are reported
as not isolated.

After the timed passes, every execution's rows (warm passes included) are
checked against DuckDB running the query's oracle SQL from
``__spark_entry__`` on the same tables. An execution that raised or did not
match counts as failed.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones:

* ``pass_cpu_s``: median CPU time of one timed pass (build + collect of
  every query), summed over the process tree: Python driver, JVM, Python
  workers. The rows' oracle digests are computed after it is read, so
  they are not in it;
* ``setup_s``: process start to the first timed pass (imports, table
  generation, JVM and session start, warm pass);
* ``cached_peak_mb``: the most persisted storage held at a query boundary.

The wall time of a pass and the median query latency are printed above the
result line but are not metrics: on a shared 4-core VM, CPU time the
hypervisor gives to other guests (also printed) moves them by 10-35% between
runs, while CPU time, which does not count that time, moves by under 10%.

With ``--trace 1`` the run also enables Spark's event log, a streaming
listener and the span tracer of ``perfbench/tracing.py``, runs a second warm
pass and at least four timed passes alternating untraced and traced ones,
and reports the per-layer metrics of the traced passes plus
``trace.overhead_s``, the CPU time tracing adds to a pass: the event log
writer thread's CPU per pass (the log is written in every pass of a traced
run), plus the median CPU time of the Python driver process in a traced
pass minus that in an untraced one (the span wrappers run there). The
process tree's CPU is not compared, as the JVM's keeps falling with JIT
warm-up from pass to pass. The spans, the per-execution records and the
event log are kept as ``.perfbench/trace-<workload>-<seed>.json`` and
``.perfbench/eventlog-<workload>-<seed>.json``.

Everything a run writes (tables, Spark scratch, temp files, event log) lives
under ``.perfbench/`` in the checkout, and all but the trace files is removed
when the run ends. Exits 2 without a result line when the checkout lacks the
library.
"""
from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a tenth of the sf0.1 test data's size (60k lineitem rows): at sf0.1 a run
# would outgrow a one-minute budget
SF = 0.01
DRIVER_MEMORY = "2g"
REQUIRED = ("__spark_entry__.py", "flatbread_spark/__init__.py", "scripts/check_oracle.py")
# a timed pass of either workload takes about this long on a 4-core box
PASS_S = 5.0


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    copies: int = 1


# Each workload is a fixed subset of the declared queries, sized so that a
# run (JVM start, a cold warm pass, timed passes) stays under a minute: the
# cold pass alone costs 15-25 s of class loading, code generation and Python
# worker start.
WORKLOADS = {
    # flatbread's own surface: pivot -> margins -> percentages -> table spec
    # on the small tables. Many tiny jobs, driver-bound; queries of a pass
    # share pinned pivots.
    "tabulate": Workload((
        "pivot_sum", "add_percentages", "subtotals_rollup", "tablespec_json",
        "differences",
    )),
    # LLM-data curation on ten seeded copies of the corpus (5000 documents):
    # a pandas-UDF text kernel, language id, near-dup detection and a
    # streaming dedup replay. Not executor-bound: tasks fill about a fifth of
    # the core-time and no job runs for about half of a pass; each scan is
    # one task, as the 0.6 MB documents file is below Spark's 4 MB open cost.
    "curate": Workload((
        "text_stats", "lang_id", "simhash_pairs", "stream_dedup_replay",
    ), copies=10),
}

END_TO_END = {"pass_cpu_s": "s", "setup_s": "s", "cached_peak_mb": "MB"}
# operator modules the workloads' queries call; ``operators.<module>_s``
OPERATOR_MODULES = ("aggregation", "dedup", "differences", "percentages", "totals")


def per_layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_bytes_out", "B"),
                         ("_bytes_in", "B"), ("core_util", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def result_line(metrics: dict[str, float], units: dict[str, str],
                attempted: int, failed: int) -> str:
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })


# ------------------------------------------------------------ environment
def prepare_env(work: str, trace: bool) -> str:
    """Point every writer of the session at ``work``; returns the event
    log directory. Must run before pyspark starts the JVM."""
    tmp, local, evlog = (os.path.join(work, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, evlog):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # pandas-UDF workers import flatbread_spark by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    args = [
        # -UsePerfData: the JVM would write its perf counters under /tmp
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        # one plain file: Spark 4.1 would zstd-compress the log (nothing here
        # can read that) and roll it into a directory of parts
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{evlog}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    sys.path.insert(0, ROOT)
    return evlog


def make_data(work: str, seed: int, copies: int) -> str:
    import gen

    base = os.path.join(work, "data")
    gen.generate(base, seed, SF)
    if copies == 1:
        return base
    out = os.path.join(work, f"data{copies}x")
    gen.scale_copies(base, out, seed, copies)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


# ------------------------------------------------------------------ passes
class Runner:
    """Runs passes over one workload's queries and keeps, per execution,
    its timings, job counts and the digest of its rows."""

    def __init__(self, spark, data: str, names, oracle, tracer) -> None:
        import __spark_entry__ as entry
        from flatbread_spark import cache

        self.spark, self.data, self.names = spark, data, names
        self.oracle, self.tracer, self.cache = oracle, tracer, cache
        self.fns = {n: entry.queries()[n] for n in names}
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.executions: list[dict] = []
        self.digests: dict[str, list[tuple]] = {n: [] for n in names}
        self.errors: list[str] = []

    def jobs(self) -> int:
        # job-id high-water mark: also counts the jobs that streaming
        # queries run on their own threads
        return self.jsc.dagScheduler().numTotalJobs()

    def cached_mb(self) -> float:
        return sum(i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo()) / 1e6

    def run_pass(self, idx: int, traced: bool) -> dict:
        self.tracer.active = traced
        execs, results = [], []
        cpu0, driver0 = tree_cpu_s(), time.process_time()
        for name in self.names:
            group = f"perfbench-{idx}-{name}"
            self.sc.setJobGroup(group, name)
            j0 = self.jobs()
            df, err = None, None
            with self.tracer.span(f"entry.{name}"):
                t0 = time.time()
                try:
                    df = self.fns[name](self.spark, self.data)
                    t1, j1 = time.time(), self.jobs()
                    rows = df.collect()
                except Exception as e:  # a failing query is counted, not fatal
                    t1, j1, err = time.time(), self.jobs(), f"{type(e).__name__}: {e}"
                t2 = time.time()
            j2 = self.jobs()
            if err is None:
                results.append((name, df, rows))
            else:
                self.errors.append(f"{name} (pass {idx}): {err.splitlines()[0][:300]}")
            execs.append({
                "pass": idx, "query": name, "group": group, "start": t0, "built": t1,
                "end": t2, "jobs": j2 - j0, "internal_jobs": j1 - j0,
                "cached_mb": self.cached_mb(),
            })
        cpu_s, driver_cpu_s = tree_cpu_s() - cpu0, time.process_time() - driver0
        self.tracer.active = False
        for name, df, rows in results:
            self.digests[name].append(self.oracle.digest(df.columns, df.dtypes, rows))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.cache.release()
        self.spark.catalog.clearCache()
        self.executions += execs
        return {"index": idx, "traced": traced, "start": execs[0]["start"],
                "end": execs[-1]["end"],
                "pass_s": sum(e["end"] - e["start"] for e in execs), "cpu_s": cpu_s,
                "driver_cpu_s": driver_cpu_s, "jobs": sum(e["jobs"] for e in execs)}


# ----------------------------------------------------------------- metrics
def host_steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests since boot,
    summed over CPUs (Linux ``/proc/stat``); NaN where unavailable. Printed
    with each run: on a shared host it explains most run-to-run spread."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM, the Python workers) including their reaped children, from Linux
    ``/proc``. Unlike wall time it does not count time the hypervisor gave
    to other guests."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        # after the command name: state ppid ... utime stime cutime cstime
        stats[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def end_to_end(timed: list[dict], executions: list[dict], setup_s: float) -> dict[str, float]:
    idx = {p["index"] for p in timed}
    return {
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "setup_s": setup_s,
        "cached_peak_mb": max(e["cached_mb"] for e in executions if e["pass"] in idx),
    }


def count_failures(runner: Runner, expected: dict) -> int:
    failed = len(runner.errors)
    for err in runner.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    for name, digests in runner.digests.items():
        for d in digests:
            why = runner.oracle.mismatch(d, expected[name])
            if why is not None:
                failed += 1
                print(f"perfbench: {name} does not match the oracle: {why}", file=sys.stderr)
    return failed


# -------------------------------------------------------------------- main
def run(args, work: str, state: str) -> int:
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    evlog = prepare_env(work, trace)
    t_gen = time.time()
    data = make_data(work, args.seed, wl.copies)
    t_session = time.time()

    import __spark_entry__ as entry
    import tracing
    from flatbread_spark.session import get_spark
    from oracle import Oracle

    ncpu = len(os.sched_getaffinity(0))
    spark = get_spark(app=f"perfbench-{args.workload}", master=f"local[{ncpu}]",
                      shuffle_partitions=ncpu)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer, listener, evlog_cpu = tracing.Tracer(), None, lambda: 0.0
        if trace:
            evlog_cpu = tracing.thread_cpu_clock(spark, tracing.EVENT_LOG_THREAD)
            tracer.install()
            listener = tracing.stream_listener()
            spark.streams.addListener(listener)
        runner = Runner(spark, data, wl.queries, Oracle(ROOT), tracer)

        t_warm = time.time()
        # a traced run warms up twice: the first pass after a single warm
        # pass still runs far slower than later ones, and would be an
        # untraced pass of the traced/untraced comparison
        for i in range(2 if trace else 1):
            runner.run_pass(-i, traced=False)
        t_first, steal0, evlog0 = time.time(), host_steal_s(), evlog_cpu()
        n_passes = max(4 if trace else 2, round(args.seconds / PASS_S))
        # traced runs alternate untraced and traced passes in the order
        # u t t u, so a drift from pass to pass favours neither side
        passes = [runner.run_pass(i + 1, traced=trace and i % 4 in (1, 2))
                  for i in range(n_passes)]
        steal = host_steal_s() - steal0
        evlog_s = (evlog_cpu() - evlog0) / n_passes
    finally:
        stop_spark(spark)

    failed = count_failures(
        runner, runner.oracle.expected(data, entry.oracle_sql_at(data), wl.queries))
    jobs_per_pass = [p["jobs"] for p in passes]
    if len(set(jobs_per_pass)) > 1:
        # a pass that reuses an earlier pass's state runs fewer jobs
        print(f"perfbench: passes are not isolated, jobs per pass {jobs_per_pass}",
              file=sys.stderr)
    untraced = [p for p in passes if not p["traced"]]
    if trace:
        traced = [p for p in passes if p["traced"]]
        idx = {p["index"] for p in traced}
        log_path = os.path.join(state, f"eventlog-{args.workload}-{args.seed}.json")
        (log_file,) = os.listdir(evlog)
        shutil.move(os.path.join(evlog, log_file), log_path)
        metrics = tracing.layer_metrics(
            [e for e in runner.executions if e["pass"] in idx], traced,
            tracing.EventLog.read(log_path), tracer.spans, listener.progress, ncpu,
            OPERATOR_MODULES,
        )
        spans_s = (statistics.median(p["driver_cpu_s"] for p in traced)
                   - statistics.median(p["driver_cpu_s"] for p in untraced))
        metrics["trace.overhead_s"] = evlog_s + spans_s
        print(f"  tracing CPU per pass: event log {evlog_s:.4f} s, spans {spans_s:.4f} s")
        with open(os.path.join(state, f"trace-{args.workload}-{args.seed}.json"), "w",
                  encoding="utf-8") as f:
            json.dump({"spans": tracer.to_json(), "executions": runner.executions,
                       "passes": passes, "stream_progress": listener.progress}, f)
        units = {k: per_layer_unit(k) for k in metrics}
    else:
        metrics = end_to_end(untraced, runner.executions, t_first - T_PROCESS)
        units = END_TO_END

    print(f"perfbench: {args.workload} seed {args.seed}: {len(passes)} timed passes of "
          f"{len(wl.queries)} queries, jobs per pass {jobs_per_pass}")
    print(f"  setup: tables {t_session - t_gen:.2f} s, session {t_warm - t_session:.2f} s, "
          f"warm-up {t_first - t_warm:.2f} s")
    print(f"  host CPU steal during the timed passes: {steal:.2f} cpu-s")
    timed = [e for e in runner.executions if e["pass"] > 0]
    print(f"  pass wall {statistics.median(p['pass_s'] for p in untraced):.4f} s median, "
          f"query latency {statistics.median(e['end'] - e['start'] for e in timed):.4f} s "
          f"median of {len(timed)}")
    for name in wl.queries:
        lat = [e["end"] - e["start"] for e in timed if e["query"] == name]
        print(f"  query {name:26s} {statistics.median(lat):12.4f} s median")
    for k, v in metrics.items():
        print(f"  {k:32s} {v:12.4f} {units[k]}")
    print(result_line(metrics, units, len(runner.executions), failed))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a flatbread_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, work, state)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
