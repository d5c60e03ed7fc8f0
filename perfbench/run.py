"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One closed-loop client in one fresh process: each op is submitted only
after the previous one returned, on ``local[nproc]``. A run is

1. set-up: session start, ``plans.load_all``, then one untimed pass
   that checks every op's output against its reference (the
   comparisons are not counted in ``setup_s``);
2. timed passes over the ops, each in the order the seed gives it, for
   as long as the next pass is expected to end within ``--seconds``
   (and at least the workload's fewest passes); what a timed run
   returns is checked after its timing.

An untraced run prints the end-to-end metrics: ``setup_s``, the wall
time from process start to the first timed op, comparisons left out; and
``cpu_s``, the CPU time of a typical pass (each op's median, summed) used
by the client, the JVM and the Python workers, less the JVM's JIT
compiler and garbage collector threads. Those two run in background
bursts that follow the host's load and the heap's history rather than the
pass, and are reported apart (``session.jit_cpu_s``, ``session.gc_cpu_s``).
The gate is CPU time, not wall time, because on a shared host the wall
time of the same pass swings by up to 2x with the neighbours' load while
its CPU time moves far less; the wall figures stay in the detail record.

With ``--trace 1`` the timed passes record spans and status-store
counters and the run prints the per-layer metrics of its first timed
pass instead of the end-to-end ones; ``python3 perfbench/overhead.py``
compares traced and untraced runs to give the tracing overhead.

The last line of stdout is the result record; the full detail (per-op
timings, counters and, when traced, the spans) goes to
``.perfbench/<workload>-seed<N>-trace<T>.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
TMP_DIR = os.path.join(OUT_DIR, f"tmp-{os.getpid()}")
# A run that has not finished by then is cut and reported as failed,
# leaving time to stop the JVM within the 180 s a run may take.
DEADLINE_S = 150


class RunAborted(Exception):
    """The run cannot go on: the JVM died or the deadline passed."""


def _on_alarm(signum, frame):
    raise RunAborted(f"deadline of {DEADLINE_S}s passed")


# Partitions of every shuffle and parallelize, whatever the host: the
# data layout, and with it the forest's bootstrap samples and accuracy,
# stays the same from host to host.
PARTITIONS = 4


def _prepare_env() -> int:
    """Point the program, and the Python workers Spark forks for it, at
    this checkout, keep Spark's temporary files inside it; return the core
    count the session gets."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = TMP_DIR
    # No hsperfdata file under /tmp either.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={TMP_DIR}",
         "-XX:-UsePerfData",
         # Compiler threads live as long as the JVM, so their CPU time can
         # be read at any point (see _cpu_s).
         "-XX:-UseDynamicNumberOfCompilerThreads"]
    ).strip()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)
    return cores


def _jvm_rss_peak_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _jvm_alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[-1][:1] not in ("Z", "X")
    except OSError:
        return False


def _steal_share() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this VM so far."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the command name."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


# JVM threads that run the JVM rather than the program: the JIT compiler
# and the garbage collector. They work in the background, in bursts whose
# timing follows the host's load and the heap's history, so their CPU time
# is reported apart from that of the program's own threads.
RUNTIME_THREADS = {
    "jit": ("C1 CompilerThre", "C2 CompilerThre"),
    "gc": ("GC Thread", "G1 ", "VM Thread"),
}


def _jvm_thread_ticks(jvm_pid: int):
    """(name, CPU ticks) of each live thread of the JVM."""
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir) if os.path.isdir(task_dir) else ():
        try:
            with open(f"{task_dir}/{tid}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        if f := _stat_fields(f"{task_dir}/{tid}/stat"):
            yield name, int(f[11]) + int(f[12])


def _cpu_s(jvm_pid: int) -> dict[str, float]:
    """CPU seconds, user and system, used so far: ``all`` by this process
    and every process under it (the JVM, its Python workers), reaped
    children included, and by the JVM's runtime threads of each kind of
    ``RUNTIME_THREADS``. Time the hypervisor stole from the VM is in none.
    Compiler threads must not exit (``-XX:-UseDynamicNumberOfCompilerThreads``);
    G1's GC threads never do."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (f := _stat_fields(f"/proc/{d}/stat")):
            parent[int(d)] = int(f[1])
            ticks[int(d)] = sum(int(x) for x in f[11:15])
    me, total = os.getpid(), 0
    for pid, t in ticks.items():
        seen, q = set(), pid
        while q and q != me and q not in seen:
            seen.add(q)
            q = parent.get(q, 0)
        if q == me:
            total += t
    out = dict.fromkeys(RUNTIME_THREADS, 0.0)
    for name, t in _jvm_thread_ticks(jvm_pid):
        for kind, prefixes in RUNTIME_THREADS.items():
            if name.startswith(prefixes):
                out[kind] += t * _TICK_S
    out["all"] = total * _TICK_S
    return out


def _cpu_by_thread(jvm_pid: int) -> dict[str, float]:
    """CPU seconds of the JVM's threads by name, digits dropped."""
    out: dict[str, float] = {}
    for name, t in _jvm_thread_ticks(jvm_pid):
        name = "".join(c for c in name if not c.isdigit())
        out[name] = out.get(name, 0.0) + t * _TICK_S
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def _run_cache_dirs(app_id: str) -> list[str]:
    """This run's per-session fixture directories under ``.cache/``."""
    safe = "".join(c if c.isalnum() else "_" for c in app_id)
    found = []
    for sub in ("layout", "sources"):
        base = os.path.join(ROOT, ".cache", sub)
        if os.path.isdir(base):
            found += [
                os.path.join(base, d)
                for d in os.listdir(base)
                if d == app_id or d.endswith(safe)
            ]
    return found


class TableRecorder:
    """Wraps ``sources.readers.load_table`` wherever the package bound
    it, to learn which tables each op reads (and, traced, to span it)."""

    def __init__(self, tracer):
        from big_data_imdb_classifier_spark.sources import readers

        self._orig = readers.load_table
        self.tracer = tracer
        self.tables: set[str] = set()
        self._bound = [
            m for name, m in list(sys.modules.items())
            if name.startswith("big_data_imdb_classifier_spark")
            and getattr(m, "load_table", None) is self._orig
        ]
        orig, seen = self._orig, self.tables

        def load_table(spark, sf_dir, name):
            seen.add(name)
            with self.tracer.span("sources", "load_table"):
                return orig(spark, sf_dir, name)

        self._wrapper = load_table

    def install(self):
        for m in self._bound:
            m.load_table = self._wrapper

    def remove(self):
        for m in self._bound:
            m.load_table = self._orig


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = _prepare_env()
    try:
        import pyarrow.parquet as pq

        from big_data_imdb_classifier_spark import plans
        from big_data_imdb_classifier_spark.session import get_spark
        from perfbench import stats, workloads
        from perfbench.trace import StatusStore, Tracer
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {workloads.NAMES}", file=sys.stderr)
        return 2
    wl = workloads.build(args.workload)
    ops = {op.name: op for unit in wl.units for op in unit}
    missing = sorted({op.sf_dir for op in ops.values() if not os.path.isdir(op.sf_dir)})
    if missing:
        print(f"perfbench: input tables missing: {missing}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    os.makedirs(TMP_DIR, exist_ok=True)

    tracer = Tracer(False)  # untraced passes record no spans
    with_spans = Tracer(True)  # set-up spans, and the passes of a traced run
    records: list[dict] = []
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "cores": cores}
    metrics: dict[str, dict] = {}
    aborted: str | None = None
    spark = setup_s = None
    bad: dict[str, str] = {}  # op -> why its output is wrong

    def put(name: str, value: float, unit: str) -> None:
        metrics[name] = {"value": value, "unit": unit}

    try:
        with with_spans.span("session", "get_spark"):
            spark = get_spark(app_name=f"perfbench-{args.workload}",
                              shuffle_partitions=PARTITIONS)
        sc = spark.sparkContext
        jvm_pid = sc._gateway.proc.pid
        with with_spans.span("plans", "load_all"):
            plans.load_all()
        ctx = workloads.Context(spark)
        store = StatusStore(spark)
        recorder = TableRecorder(tracer)
        op_tables: dict[str, set[str]] = {}  # op -> tables it reads

        def guard(exc: BaseException) -> None:
            if isinstance(exc, RunAborted) or not _jvm_alive(jvm_pid):
                raise RunAborted(f"JVM gone: {exc}") from exc

        def check_pass(p: int) -> float:
            """Run every op once untimed and check its output; return the
            seconds spent comparing outputs."""
            check_s = 0.0
            recorder.install()
            for unit in stats.pass_order(wl.units, args.seed, p):
                for op in unit:
                    recorder.tables.clear()
                    try:
                        out = (op.warm or op.execute)(ctx, op.build(ctx))
                        t = time.perf_counter()
                        try:
                            op.check(ctx, out)
                        finally:
                            check_s += time.perf_counter() - t
                    except workloads.CheckFailed as e:
                        bad[op.name] = str(e)
                    except Exception as e:  # an op failing is a result, not a crash
                        guard(e)
                        bad[op.name] = f"{type(e).__name__}: {e}"
                        traceback.print_exc()
                    op_tables[op.name] = set(recorder.tables)
            recorder.remove()
            return check_s

        def run_pass(p: int, traced: bool) -> float:
            tr = with_spans if traced else tracer
            recorder.tracer = tr
            if traced:
                recorder.install()
            pass_wall = 0.0
            for unit in stats.pass_order(wl.units, args.seed, p):
                for op in unit:
                    tr.op = f"{p}:{op.name}"
                    gid = f"perfbench-{p}-{op.name}"
                    rec = {"pass": p, "op": op.name, "layer": op.layer,
                           "build_s": 0.0, "exec_s": 0.0}
                    out = None
                    cpu0 = _cpu_s(jvm_pid)
                    try:
                        try:
                            with tr.span("bench", op.name):
                                sc.setJobGroup(gid + "-build", op.name)
                                t0 = time.perf_counter()
                                try:
                                    with tr.span("plans" if op.query or op.layer == "ml" else op.layer, "build"):
                                        built = op.build(ctx)
                                finally:
                                    rec["build_s"] = time.perf_counter() - t0
                                if traced and op.query:
                                    t = time.perf_counter()
                                    with tr.span("plans", "optimize"):
                                        built._jdf.queryExecution().executedPlan()
                                    rec["optimize_s"] = time.perf_counter() - t
                                sc.setJobGroup(gid + "-exec", op.name)
                                t1 = time.perf_counter()
                                try:
                                    with tr.span(op.layer, "execute"):
                                        out = op.execute(ctx, built)
                                finally:
                                    rec["exec_s"] = time.perf_counter() - t1
                        finally:
                            # CPU time to the end of the op; its check is not in it.
                            cpu1 = _cpu_s(jvm_pid)
                            for kind in RUNTIME_THREADS:
                                rec[f"{kind}_cpu_s"] = cpu1[kind] - cpu0[kind]
                            rec["cpu_s"] = cpu1["all"] - cpu0["all"] - sum(
                                rec[f"{kind}_cpu_s"] for kind in RUNTIME_THREADS)
                        op.after(ctx, out)
                        rec["ok"] = True
                    except workloads.CheckFailed as e:
                        rec["ok"], rec["error"] = False, str(e)
                    except Exception as e:
                        guard(e)
                        rec["ok"], rec["error"] = False, f"{type(e).__name__}: {e}"
                        traceback.print_exc()
                    finally:
                        sc.setJobGroup("perfbench-idle", "between ops")
                    if traced:
                        rec["build"] = store.group(gid + "-build")
                        rec["exec"] = store.group(gid + "-exec")
                        if op.layer == "streaming" and out is not None:
                            progress = out[1]
                            if progress:
                                run_group = store.group(str(progress[0]["runId"]))
                                for k, v in run_group.items():
                                    rec["exec"][k] += v
                            rec["progress"] = [dict(x) for x in progress]
                        rec["cached_rdds"] = store.persistent_rdds()
                    pass_wall += rec["build_s"] + rec["exec_s"]
                    records.append(rec)
            if traced:
                recorder.remove()
            return pass_wall

        t_check = time.perf_counter()
        check_s = check_pass(0)
        by_thread0 = _cpu_by_thread(jvm_pid)
        steal0 = _steal_share()
        first_timed = time.perf_counter()
        setup_s = first_timed - T_PROCESS - check_s
        walls = []
        p = 1
        while len(walls) < wl.passes or stats.fits_window(
                time.perf_counter() - first_timed, walls, args.seconds):
            walls.append(run_pass(p, traced=bool(args.trace)))
            p += 1
        steal1 = _steal_share()
        # Where the JVM's CPU time went while timing, by thread name.
        by_thread1 = _cpu_by_thread(jvm_pid)
        detail["timed_cpu_by_thread"] = {k: v - by_thread0.get(k, 0.0) for k, v in by_thread1.items()}
        # Where set-up went: process start to the checking pass, and the
        # checking pass with its comparisons.
        detail["setup_phases_s"] = {"start": t_check - T_PROCESS, "check_pass": first_timed - t_check}
        detail["check_s"] = check_s
        # Share of the VM's CPU the hypervisor took while timing: a run
        # slowed by neighbours shows it here.
        detail["steal_share"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)

        # Outputs found wrong by a check pass fail every timed run of the op.
        for r in records:
            if r["op"] in bad and r.get("ok"):
                r["ok"], r["error"] = False, bad[r["op"]]
        for op in ops.values():
            if op.inputs is not None:
                op_tables[op.name] = set(op.inputs)
        tables = sorted({(ops[o].sf_dir, t) for o, ts in op_tables.items() for t in ts})
        rows = {(sf, t): pq.ParquetFile(os.path.join(sf, f"{t}.parquet")).metadata.num_rows
                for sf, t in tables}
        for r in records:
            sf = ops[r["op"]].sf_dir
            r["input_rows"] = sum(rows[sf, t] for t in op_tables.get(r["op"], ()))
        detail["op_input_tables"] = {k: sorted(v) for k, v in op_tables.items()}

        lat = [r["build_s"] + r["exec_s"] for r in records]
        p90 = stats.supported_percentile(lat, 90)
        detail.update(op_detail(records))
        detail.update(setup_s=setup_s, pass_walls_s=walls, op_samples=len(lat), op_p90_s=p90,
                      highest_supported_percentile=stats.highest_supported_percentile(lat))
        if p90 is None:
            print(f"perfbench: op_p90_s not reported: {len(lat)} op samples "
                  f"leave fewer than {stats.MIN_BEYOND} beyond it", file=sys.stderr)
        if args.trace:
            with_spans.op = "sources.scan"
            for sf, t in tables:
                with with_spans.span("sources", f"scan:{t}"):
                    workloads.load_table(spark, sf, t).write.format("noop").mode("overwrite").save()
        app_dirs = _run_cache_dirs(sc.applicationId)
        disk_mb = sum(_dir_bytes(d) for d in app_dirs) / 1e6
        for d in app_dirs:
            shutil.rmtree(d, ignore_errors=True)
        peak_mb = _jvm_rss_peak_mb(jvm_pid)
        detail.update(jvm_peak_rss_mb=peak_mb, disk_cache_mb=disk_mb)
        if not args.trace:
            end_to_end_metrics(put, setup_s, records)
        else:
            first = Tracer(True)  # the set-up, first-pass and scan spans
            first.spans = [s for s in with_spans.spans
                           if s.op is None or s.op.startswith(("1:", "sources."))]
            layer_metrics(put, [r for r in records if r["pass"] == 1], first,
                          cores=cores, wall_s=walls[0], disk_mb=disk_mb, peak_mb=peak_mb)
            detail["spans"] = with_spans.dump()
    except RunAborted as e:
        aborted = str(e)
        if records and setup_s is not None and not args.trace:
            # Partial metrics, from the ops timed before the abort.
            end_to_end_metrics(put, setup_s, records)
    signal.alarm(0)

    attempted = max(len(records), 1)
    failed = attempted if aborted else sum(1 for r in records if not r.get("ok"))
    detail.update(records=records, aborted=aborted, bad_outputs=bad,
                  error_rate=stats.error_rate(failed, attempted))
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(detail, fh, default=str)
    if aborted:
        print(f"perfbench: run aborted: {aborted}", file=sys.stderr)
    for r in records:
        if not r.get("ok"):
            print(f"perfbench: FAILED {r['op']} (pass {r['pass']}): {r.get('error')}",
                  file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and not aborted, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    _stop(spark, aborted)
    shutil.rmtree(TMP_DIR, ignore_errors=True)
    return 1 if aborted else 0


def end_to_end_metrics(put, setup_s: float, recs: list[dict]) -> None:
    """End-to-end metrics of an untraced run: set-up, and the CPU time of
    the typical pass (see ``stats.typical_pass``)."""
    from perfbench import stats

    put("setup_s", setup_s, "s")
    put("cpu_s", stats.typical_pass([(r["op"], r["cpu_s"]) for r in recs]), "s")


def op_detail(recs: list[dict]) -> dict:
    """Wall-clock and per-op figures of the timed ops, for the detail
    record: on a shared host they move with the neighbours' load."""
    from perfbench import stats

    wall = [(r["op"], r["build_s"] + r["exec_s"]) for r in recs]
    cpu = [(r["op"], r["cpu_s"]) for r in recs]
    out = {"wall_s": stats.typical_pass(wall), "op_p50_s": stats.op_p50(wall),
           "cpu_s": stats.typical_pass(cpu), "op_cpu_p50_s": stats.op_p50(cpu)}
    for kind in RUNTIME_THREADS:
        out[f"{kind}_cpu_s"] = stats.typical_pass([(r["op"], r[f"{kind}_cpu_s"]) for r in recs])
    return out


def layer_metrics(put, recs: list[dict], spans, *, cores: int, wall_s: float,
                  disk_mb: float, peak_mb: float) -> None:
    """Per-layer metrics of one traced pass (``recs``, in run order)."""
    from perfbench import stats

    put("session.start_s", spans.seconds("session", "get_spark"), "s")
    put("session.jvm_peak_rss_mb", peak_mb, "MB")
    put("plans.load_all_s", spans.seconds("plans", "load_all"), "s")
    put("plans.cached_rdds_left", recs[-1]["cached_rdds"], "count")
    put("plans.disk_cache_mb", disk_mb, "MB")
    put("sources.scan_s", sum(s.end - s.start for s in spans.spans
                              if s.layer == "sources" and s.name.startswith("scan:")), "s")
    put("trace.wall_s", wall_s, "s")
    for kind in RUNTIME_THREADS:
        put(f"session.{kind}_cpu_s", sum(r[f"{kind}_cpu_s"] for r in recs), "s")
    put("trace.spans", len(spans.spans), "count")

    def total(phase: str, key: str) -> int:
        return sum(r[phase][key] for r in recs if phase in r)

    def secs(phase: str, pred) -> float:
        return sum(r[phase] for r in recs if pred(r))

    queries = {r["op"] for r in recs if "optimize_s" in r}
    is_query = lambda r: r["op"] in queries  # noqa: E731
    put("plans.build_s", secs("build_s", is_query), "s")
    put("plans.build_jobs", total("build", "jobs"), "count")
    put("plans.optimize_s", sum(r.get("optimize_s", 0.0) for r in recs), "s")
    selfs = spans.self_seconds()
    for layer in ("bench", "session", "plans", "sources", "operators", "streaming", "ml"):
        put(f"self_s.{layer}", selfs.get(layer, 0.0), "s")
    put("sources.load_s", spans.seconds("sources", "load_table"), "s")
    put("sources.input_mb", (total("build", "input_bytes") + total("exec", "input_bytes")) / 1e6, "MB")
    put("operators.exec_s", secs("exec_s", is_query), "s")
    for k in ("jobs", "stages", "tasks"):
        put(f"operators.{k}", total("exec", k), "count")
    cpu_ms = total("exec", "executor_cpu_ms")
    exec_wall = sum(r["exec_s"] for r in recs)
    put("operators.executor_cpu_ms", cpu_ms, "ms")
    put("operators.core_busy_ratio", cpu_ms / 1000.0 / (exec_wall * cores) if exec_wall else 0.0, "ratio")
    put("operators.shuffle_write_mb", total("exec", "shuffle_write_bytes") / 1e6, "MB")
    put("operators.shuffle_read_mb", total("exec", "shuffle_read_bytes") / 1e6, "MB")
    put("operators.spill_mb", total("exec", "spill_bytes") / 1e6, "MB")
    put("operators.gc_ms", total("exec", "gc_ms"), "ms")

    streams = [r for r in recs if r["layer"] == "streaming"]
    put("streaming.drain_s", sum(r["exec_s"] for r in streams), "s")
    progress = [p for r in streams for p in r.get("progress", [])]
    dur = lambda key: sum((p.get("durationMs") or {}).get(key, 0) for p in progress)  # noqa: E731
    states = [s for p in progress for s in (p.get("stateOperators") or [])]
    put("streaming.rows_per_s", stats.rows_per_s(
        sum(r["input_rows"] for r in streams), [r["exec_s"] for r in streams]) if streams else 0.0,
        "rows/s")
    put("streaming.micro_batches", len(progress), "count")
    put("streaming.add_batch_ms", dur("addBatch"), "ms")
    put("streaming.query_planning_ms", dur("queryPlanning"), "ms")
    put("streaming.wal_commit_ms", dur("walCommit") + dur("commitOffsets"), "ms")
    put("streaming.start_stop_ms",
        sum(stats.start_stop_ms(r["exec_s"], r.get("progress", [])) for r in streams), "ms")
    put("streaming.state_rows", sum(s.get("numRowsTotal", 0) for s in states), "count")
    put("streaming.state_mem_mb", sum(s.get("memoryUsedBytes", 0) for s in states) / 1e6, "MB")
    put("streaming.state_commit_ms", sum(s.get("commitTimeMs", 0) for s in states), "ms")

    ml = {r["op"]: r for r in recs if r["layer"] == "ml"}
    put("ml.fit_s", ml["ml_train"]["exec_s"] if "ml_train" in ml else 0.0, "s")
    put("ml.fit_jobs", ml["ml_train"]["exec"]["jobs"] if "ml_train" in ml else 0, "count")
    put("ml.evaluate_s", ml["ml_evaluate"]["exec_s"] if "ml_evaluate" in ml else 0.0, "s")


def _stop(spark, aborted) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    if not aborted:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    try:
        gateway.shutdown()
    except Exception:
        pass
    # The gateway JVM exits once its stdin closes.
    try:
        proc.stdin.close()
        proc.wait(timeout=10)
    except Exception:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
