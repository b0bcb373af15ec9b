"""Benchmark for the near-duplicate engine: one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The process starts one Spark driver at
local[$(nproc)], builds the workload's inputs from the seed, warms up with
one untimed pass (the queries run concurrently), then runs ops one at a
time (a closed loop with one client) for ``--seconds``, at least two
passes. Every op's output is checked outside
the timed window. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the session also writes Spark's event log into the work dir and the
metrics are the per-layer ones (see README.md). A human-readable table
and a per-rep record (steal %, load average) are printed before it, and
the per-rep record and the spans are kept under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from workloads import WORKLOADS, MirrorCrawl, QuerySuite, Workload

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, "out")


def process_start_epoch() -> float:
    """Wall-clock time this process started (from /proc), so ``setup_s``
    covers interpreter start and imports too."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def cpu_sample() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# ---------------------------------------------------------------------------
# processes: the driver JVM and its Python workers
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _running(pid: int) -> bool:
    """True while the process exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _cpu_ticks(path: str) -> int:
    """utime + stime + cutime + cstime from a /proc stat file, in ticks."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15])


def _jvm_service(thread_name: str) -> str | None:
    """'jit' or 'gc' for the JVM's own service threads, else None."""
    if "CompilerThre" in thread_name:
        return "jit"
    if thread_name.startswith(("GC Thread", "G1 ")) or thread_name == "VM Thread":
        return "gc"
    return None


def op_cpu_s(jvm: int) -> dict[str, float]:
    """CPU seconds used so far: ``op`` by this process and every descendant
    (the driver JVM, the Python daemon and its workers) less the JVM's JIT
    compiler and garbage collector threads, and ``jit`` and ``gc`` by
    those threads.

    Exited children count through their parents' reaped totals. Time the
    hypervisor stole from the vCPUs is in none of the figures. The JVM
    decides when to compile and when to run a concurrent GC cycle, so the
    CPU of those threads lands in whichever op happens to be running; it
    is kept apart. The JVM runs with a fixed set of compiler threads
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so none exits with its
    total; HotSpot's GC threads live as long as the JVM."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            total += _cpu_ticks(f"/proc/{pid}/stat")
        except OSError:
            continue
    service = {"jit": 0, "gc": 0}
    task_dir = f"/proc/{jvm}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm") as f:
                kind = _jvm_service(f.read().strip())
            if kind:
                service[kind] += _cpu_ticks(f"{task_dir}/{tid}/stat")
        except OSError:
            continue
    tick = os.sysconf("SC_CLK_TCK")
    return {
        "op": (total - service["jit"] - service["gc"]) / tick,
        "jit": service["jit"] / tick,
        "gc": service["gc"] / tick,
    }


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    return alive


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


class Runner:
    """Runs ops and keeps the books: per-kind wall and CPU times of the
    timed ops, failures, a per-rep record and, in trace runs, one span per
    op."""

    def __init__(self, wl: Workload, trace: bool, t_start: float):
        self.wl = wl
        self.t_start = t_start
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.reps: list[dict] = []
        self.jvm = jvm_pid(wl.spark)
        self.times: dict[str, list[float]] = {k: [] for k in wl.kinds()}
        self.cpu: dict[str, list[float]] = {k: [] for k in wl.kinds()}
        self.spans: list[dict] = []
        self.ids = itertools.count()

    def run_op(self, kind: str) -> tuple[float | None, list[str], dict]:
        """One op, then its output check; returns (seconds, or None if the
        op raised; errors; timing record). The state is released before
        returning."""
        steal0, total0 = cpu_sample()
        cpu0 = op_cpu_s(self.jvm)
        gc0 = jvm_gc_s(self.wl.spark) if self.trace else 0.0
        start = time.time()
        t0 = time.perf_counter()
        state, secs = None, None
        try:
            state = self.wl.op(kind, next(self.ids))
            secs = time.perf_counter() - t0
        except Exception as e:  # an op that raises counts as failed
            errors = [f"{kind}: {type(e).__name__}: {str(e)[:300]}"]
        end = time.time()
        steal1, total1 = cpu_sample()
        cpu1 = op_cpu_s(self.jvm)
        gc1 = jvm_gc_s(self.wl.spark) if self.trace else 0.0
        rec = {
            "op": kind,
            "s": secs,
            "cpu_s": cpu1["op"] - cpu0["op"],
            "jit_cpu_s": cpu1["jit"] - cpu0["jit"],
            "gc_cpu_s": cpu1["gc"] - cpu0["gc"],
            "start": start,
            "end": end,
            "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
            "loadavg": loadavg(),
            "at_s": end - self.t_start,
        }
        try:
            if state is not None:
                try:
                    errors = self.wl.check(state)
                except Exception as e:  # a check that cannot run fails the op
                    errors = [f"{kind}: check raised {type(e).__name__}: {str(e)[:300]}"]
                if self.trace and not errors:
                    rec["gc_s"] = gc1 - gc0
                    rec["attrs"] = self.wl.layer(state)
        finally:
            if state is not None:
                self.wl.release(state)
        rec["ok"] = not errors
        return secs, errors, rec

    def timed(self, kind: str) -> None:
        secs, errors, rec = self.run_op(kind)
        self.attempted += 1
        self.failed += bool(errors)
        self.errors.extend(errors)
        if rec["s"] is not None:  # an op whose output check failed still ran
            self.times[kind].append(rec["s"])
            self.cpu[kind].append(rec["cpu_s"])
        self.reps.append(rec)
        if self.trace and "attrs" in rec:
            self.spans.append(rec)
        self.between_reps()

    def untimed(self, kind: str) -> None:
        _, errors, rec = self.run_op(kind)
        self.errors.extend(errors)
        rec["warm_up"] = True
        self.reps.append(rec)

    def between_reps(self) -> None:
        """Drop table references and collect on both sides, so checkpoint
        blocks and cached plans do not pile up from rep to rep."""
        gc.collect()
        self.wl.spark._jvm.System.gc()

    def warm_up(self) -> None:
        """One untimed pass that runs every kind on ``cold_threads``
        threads at once, so the JVM's one-time compilation overlaps
        instead of adding up."""
        with ThreadPoolExecutor(self.wl.cold_threads) as pool:
            list(pool.map(self.untimed, self.wl.kinds()))
        self.between_reps()

    def medians(self, cpu: bool = False) -> dict[str, float]:
        """Median wall (or CPU) time of each op kind over the timed reps."""
        by_kind = self.cpu if cpu else self.times
        return {k: statistics.median(v) for k, v in by_kind.items()}

    def measure(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        passes = 0
        while passes < self.wl.min_reps or time.perf_counter() < t_end:
            for kind in self.wl.kinds():
                self.timed(kind)
            passes += 1


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM and its Python workers, and
    wait until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = descendants(proc.pid) + [proc.pid] if proc is not None else []
    spark.stop()
    if proc is not None:
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    for p in wait_gone(pids, 30):
        try:
            os.kill(p, 9)
        except OSError:
            pass
    wait_gone(pids, 10)


def peak_rss_mb(spark) -> dict[str, float]:
    """VmHWM of the driver JVM, of this Python driver and, summed, of the
    Python workers (every descendant of the JVM)."""
    jvm = jvm_pid(spark)
    workers = descendants(jvm)
    return {
        "jvm": vm_hwm_mb(jvm),
        "driver": vm_hwm_mb(os.getpid()),
        "workers": sum(vm_hwm_mb(p) for p in workers),
        "n_workers": len(workers),
    }


def end_to_end(runner: Runner, wl: Workload, setup_s: float, rss: dict) -> dict:
    """The gated metrics. Op cost is CPU time (see ``op_cpu_s``): on a
    shared host the wall time of the same op swings with the hypervisor's
    steal, its CPU time far less. Wall figures are in ``summary``."""
    cpu = runner.medians(cpu=True)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "items_per_cpu_s": {"value": wl.items() / sum(cpu.values()), "unit": "1/cpu_s"},
        "geomean_op_cpu_s": {"value": geomean(list(cpu.values())), "unit": "cpu_s"},
        "peak_rss_mb": {
            "value": rss["jvm"] + rss["driver"] + rss["workers"], "unit": "MB"
        },
        "ok_frac": {
            "value": 1.0 - runner.failed / max(runner.attempted, 1),
            "unit": "ratio",
        },
    }


def summary(name: str, runner: Runner, wl: Workload, e2e: dict) -> list[str]:
    """The planned per-workload names, in wall time and in CPU time:
    docs_per_s for the pipeline, geomean_query_s and suite_s for the
    queries, fail_frac for both."""
    wall, cpu = runner.medians(), runner.medians(cpu=True)
    n = min(len(v) for v in runner.times.values())
    lines = [f"# {name}: {runner.attempted} ops attempted, {runner.failed} failed, "
             f"medians of {n} timed passes"]
    lines.append(f"setup_s              {e2e['setup_s']['value']:.3f} s")
    if isinstance(wl, MirrorCrawl):
        lines.append(f"docs_per_s           {wl.items() / sum(wall.values()):.2f} docs/s "
                     f"({wl.items()} docs)")
        lines.append(f"docs_per_cpu_s       {wl.items() / sum(cpu.values()):.2f} docs/cpu_s")
    else:
        lines.append(f"geomean_query_s      {geomean(list(wall.values())):.4f} s")
        lines.append(f"suite_s              {sum(wall.values()):.3f} s")
        lines.append(f"geomean_query_cpu_s  {geomean(list(cpu.values())):.4f} cpu_s")
        lines.append(f"suite_cpu_s          {sum(cpu.values()):.3f} cpu_s")
    timed = [r for r in runner.reps if "op" in r and not r.get("warm_up")]
    passes = max(n, 1)
    lines.append(f"jvm_service_cpu_s    jit {sum(r['jit_cpu_s'] for r in timed) / passes:.2f}, "
                 f"gc {sum(r['gc_cpu_s'] for r in timed) / passes:.2f} cpu_s a pass "
                 "(not in the CPU metrics)")
    lines.append(f"peak_rss_mb          {e2e['peak_rss_mb']['value']:.1f} MB")
    lines.append(f"fail_frac            {runner.failed / max(runner.attempted, 1):.4f} ratio "
                 f"(of {runner.attempted})")
    return lines


def per_layer(runner: Runner, wl: Workload, jobs: dict,
              specs: list[dict]) -> tuple[dict, list[dict]]:
    """Every per-layer metric BENCHMARK.json names, with its unit, plus the
    spans they come from. Pass totals are medians over the timed passes;
    per-query figures are medians over that query's ops."""
    import spans as tr

    spans = []
    for rec in runner.spans:
        full = tr.op_spans(jobs, {"name": rec["op"], "start": rec["start"], "end": rec["end"]})
        full["attrs"] = {**rec["attrs"], "gc_s": rec["gc_s"]}
        spans.append(full)
    n_kinds = len(wl.kinds())
    passes = [spans[i:i + n_kinds] for i in range(0, len(spans), n_kinds)]

    def per_pass(f) -> float:
        return statistics.median(sum(f(sp) for sp in p) for p in passes)

    def value(name: str) -> float:
        parts = name.split(".")
        if name == "signatures.task_ns_per_shingle":
            shingles = value("signatures.shingles")
            return value("stage.signatures.task_s") * 1e9 / shingles if shingles else 0.0
        if name == "trace.items_per_s":
            return wl.items() / sum(runner.medians().values())
        if name == "query.driver_gap_s":
            return value("pipeline.driver_gap_s") if isinstance(wl, QuerySuite) else 0.0
        if parts[0] == "stage":
            return per_pass(lambda sp: sp["stages"].get(parts[1], {}).get(parts[2], 0))
        if parts[0] == "query":
            key = {"s": "wall_s", "jobs": "jobs"}.get(parts[2])
            mine = [sp[key] if key else sp["attrs"][parts[2]]
                    for sp in spans if sp["name"] == parts[1]]
            return statistics.median(mine) if mine else 0.0
        if parts[0] == "pipeline":
            return per_pass(lambda sp: sp[parts[1]] if parts[1] in sp else sp["attrs"][parts[1]])
        return per_pass(lambda sp: sp["attrs"].get(name, 0))

    return {m["name"]: {"value": value(m["name"]), "unit": m["unit"]} for m in specs}, spans


def main(argv: list[str]) -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isdir(os.path.join(ROOT, "genome_deduplication_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"no engine sources under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(OUT_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        return run(args, t_start, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, t_start: float, work: str, tmp: str) -> int:
    sys.path[:0] = [ROOT, BENCH_DIR]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    cpus = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    conf = {
        "spark.local.dir": tmp,
        # a fixed set of JIT compiler threads, so op_cpu_s can keep their
        # CPU apart (a dynamic one exits and takes its total with it)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    from genome_deduplication_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        runner = Runner(wl, bool(args.trace), t_start)
        runner.reps.append({"session_at_s": time.time() - t_start})
        wl.prepare()
        runner.reps.append({"inputs_at_s": time.time() - t_start})
        runner.warm_up()
        setup_s = time.time() - t_start
        if isinstance(wl, QuerySuite):
            runner.errors.extend(wl.oracle_check())
        runner.measure(args.seconds)
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    correct = not runner.errors
    tag = f"{args.workload}-{args.seed}-trace{args.trace}"
    os.makedirs(OUT_DIR, exist_ok=True)
    for line in runner.errors[:20]:
        print(f"ERROR {line}")
    if args.trace:
        import spans as tr

        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            specs = json.load(f)["per_layer"]
        metrics, spans = per_layer(runner, wl, tr.read_event_log(log_dir), specs)
        tr.write_spans(os.path.join(OUT_DIR, f"spans-{tag}.json"), spans)
        for sp in spans:
            print(f"span {sp['name']:24s} wall {sp['wall_s']:7.3f} s  jobs {sp['jobs']:4d}  "
                  f"unattributed {sp['unattributed_s']:6.3f} s ({sp['unattributed_jobs']} jobs)  "
                  f"gap {sp['driver_gap_s']:6.3f} s  coverage {tr.coverage(sp):.3f}  "
                  f"lost {sp['lost_jobs']} jobs")
            if sp["lost_jobs"]:
                correct = False
                print(f"ERROR span {sp['name']}: {sp['lost_jobs']} jobs overlap the op "
                      f"but cannot be attributed to it")
        for k, m in metrics.items():
            print(f"{k:48s} {m['value']:.6g} {m['unit']}")
    else:
        metrics = end_to_end(runner, wl, setup_s, rss)
        for line in summary(args.workload, runner, wl, metrics):
            print(line)
    with open(os.path.join(OUT_DIR, f"reps-{tag}.json"), "w") as f:
        json.dump({"setup_s": setup_s, "rss_mb": rss, "reps": runner.reps}, f, indent=1)
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
