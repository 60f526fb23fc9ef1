#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one local Spark session.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. Set-up (Spark session start, corpus
generation from ``--seed``, input staging and one untimed warm-up iteration)
is timed as ``setup_s``; then iterations run until ``--seconds`` have passed,
each in a fresh work directory that is deleted afterwards, and each checked
against the workload's correctness gate. With ``--trace 0`` the last line of
standard output is the end-to-end result; with ``--trace 1`` the program's
public functions are wrapped in spans (attribute patching, see spans.py),
traced and untraced iterations alternate, and the last line carries the
per-layer metrics. The line before it is a report with the timing
distributions, the span coverage check and the host context.

Exit code 2, and no result, when run outside a checkout of the program.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "pairwise_f1": "ratio",
    "catalog_recall": "ratio",
    "ok_ops_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time from /proc/stat: the share a hypervisor
    took from this machine explains a slow run."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def timing(xs: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (none below 11 samples), with the sample count."""
    out = {"n": len(xs), "median": statistics.median(xs) if xs else None}
    if len(xs) >= 11:
        ys = sorted(xs)
        p = math.floor(100 * (len(ys) - 10) / len(ys))
        out[f"p{p}"] = ys[max(0, math.ceil(p / 100 * len(ys)) - 1)]
    return out


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process's descendants (the
    driver JVM and the Python workers it forks), read from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self.peak_split_kb: list[int] = []  # per process, at the peak
        self._stop_evt = threading.Event()

    @staticmethod
    def descendants(pid: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            ppid = int(st[st.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [pid]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    @staticmethod
    def rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            per = [self.rss_kb(p) for p in self.descendants(me)]
            if sum(per) > self.peak_kb:
                self.peak_kb, self.peak_split_kb = sum(per), sorted(per, reverse=True)
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024


def build_session(n_cpus: int, work: str):
    from pyspark.sql import SparkSession

    # a fixed heap (-Xms = -Xmx) keeps peak RSS from following GC timing:
    # with a lazily grown 4 GB heap it spread 2.3-3.2 GB across runs
    driver_mb = min(2048, host_mem_mb() // 4)
    spark = (
        SparkSession.builder.master(f"local[{n_cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n_cpus))
        .config("spark.default.parallelism", str(n_cpus))
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.driver.extraJavaOptions",
                f"-Xss32m -Xms{driver_mb}m -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, driver_mb


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while RssSampler.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in RssSampler.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "entity_matching_spark")):
        log(f"no entity_matching_spark package under {ROOT}: run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    for d in ("tmp", "spark-local", "iter"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result, report = run(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


def run(args, wl_cls, work: str):
    # one core stays free for the driver JVM and this process: with every
    # core running tasks, hypervisor steal and run-to-run spread were larger
    n_cpus = max(1, min(host_cpus() - 1, 4))
    t_setup = time.perf_counter()
    spark, driver_mb = build_session(n_cpus, work)
    session_s = time.perf_counter() - t_setup
    try:
        return measure(args, wl_cls, work, spark, n_cpus, driver_mb, session_s)
    finally:
        stop_session(spark)


def measure(args, wl_cls, work, spark, n_cpus, driver_mb, session_s, families=None):
    """Set up, warm up and time one workload; returns (result, report)."""
    from rollup import PER_LAYER, rollup
    from spans import Tracer
    from workloads import make_corpus

    families = families or wl_cls.families
    gen_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        corpus = make_corpus(families, args.seed)
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    tracer = Tracer() if args.trace else None
    wl = wl_cls(spark, corpus)
    wl.stage()
    stage_s = time.perf_counter() - t0

    seq = iter(range(10**6))

    def fresh_dir() -> str:
        return os.path.join(work, "iter", str(next(seq)))

    t0 = time.perf_counter()
    wd = fresh_dir()
    ref = wl.inspect(wl.run(wd))
    shutil.rmtree(wd, ignore_errors=True)
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(gen_s) + stage_s + warmup_s
    log(f"{wl.name}: set-up {setup_s:.2f}s (warm-up {warmup_s:.2f}s), "
        f"{wl.turns_in} turns, {wl.conversations_in} conversations; "
        f"warm-up checks: {ref.problems or 'ok'}")

    walls = {False: [], True: []}
    outcomes, layer_rows, failures = [], [], []
    iter_spans: list[list[dict]] = []
    coverage = []
    attempted = 0
    sampler = RssSampler()
    sampler.start()
    steal0, total0 = cpu_jiffies()
    t_start = time.perf_counter()
    while True:
        traced = bool(args.trace) and attempted % 2 == 1
        attempted += 1
        wd = fresh_dir()
        try:
            if traced:
                tracer.install()
                try:
                    with tracer.root(attempted):
                        t0 = time.perf_counter()
                        res = wl.run(wd)
                        wall = time.perf_counter() - t0
                finally:
                    tracer.uninstall()
            else:
                t0 = time.perf_counter()
                res = wl.run(wd)
                wall = time.perf_counter() - t0
            walls[traced].append(wall)
            out = wl.inspect(res)
            problems = wl.gate(out, ref)
            if problems:
                failures.append({"iteration": attempted, "problems": problems})
                log(f"iteration {attempted} failed its gate: {problems}")
            else:
                outcomes.append(out)
            if traced:
                sp = [s for s in tracer.spans if s["iteration"] == attempted]
                iter_spans.append(sp)
                layer_rows.append(rollup(sp, wall, out.counts))
                coverage.append(span_coverage(wl.name, wall, sp, layer_rows[-1]))
            log(f"iteration {attempted} ({'traced' if traced else 'untraced'}): {wall:.3f}s")
        except Exception as e:  # a raising iteration is a failed operation
            traceback.print_exc(file=sys.stderr)
            failures.append({"iteration": attempted, "problems": [repr(e)]})
        finally:
            shutil.rmtree(wd, ignore_errors=True)
        # a traced run needs an untraced iteration on each side of a traced
        # one: iterations still speed up after the warm-up, so the overhead
        # compares the traced wall with its neighbours'
        need_more = args.trace and (len(walls[False]) < 2 or not walls[True]) and attempted < 5
        if not need_more and time.perf_counter() - t_start >= args.seconds:
            break
    peak_rss_mb = sampler.stop()
    steal1, total1 = cpu_jiffies()

    main_walls = walls[False]
    # an iteration that raised has no wall; with none left the rates read 0
    med = statistics.median(main_walls) if main_walls else math.inf
    ok = attempted - len(failures)

    def quality(key):
        return statistics.median(o.quality[key] for o in outcomes or [ref])

    e2e = {
        "setup_s": setup_s,
        "turns_per_s": wl.turns_in / med,
        "pairwise_f1": quality("pairwise_f1"),
        "catalog_recall": quality("catalog_recall"),
        "ok_ops_ratio": ok / attempted,
        "peak_rss_mb": peak_rss_mb,
    }
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "families": families, "turns": wl.turns_in,
        "conversations": wl.conversations_in,
        "setup": {"session_s": session_s, "corpus_s": gen_s, "stage_s": stage_s,
                  "warmup_s": warmup_s},
        "iteration_wall_s": timing(main_walls),
        "iteration_walls": main_walls,
        "peak_rss_split_mb": [kb // 1024 for kb in sampler.peak_split_kb],
        "failures": failures,
        "quality": {k: quality(k) for k in ref.quality},
        "quality_floors": wl_cls.floors.get(families),
        "counts": ref.counts,
        # the repository's F1 bar (BASELINE.json), reported, not gated
        "pairwise_f1_meets_0.99": quality("pairwise_f1") >= 0.99,
        "end_to_end": e2e,
        "cpu_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "context": context(n_cpus, driver_mb, spark),
    }
    if args.trace:
        # with every traced iteration failed, the layers read 0
        layers = dict.fromkeys(PER_LAYER, 0.0)
        if layer_rows:
            layers.update({k: statistics.median(r[k] for r in layer_rows) for k in layer_rows[0]})
        if walls[True] and main_walls:
            layers["trace.overhead_s"] = statistics.median(walls[True]) - med
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        report["traced_walls"] = walls[True]
        report["span_coverage"] = coverage
        report["spans_file"] = write_spans(args, wl.name, iter_spans)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": metrics}
    return result, report


# Share of an er_batch iteration's wall that its top-level spans must cover;
# below it the per-layer times miss a large part of the iteration.
ATTRIBUTED_FLOOR = {"er_batch": 0.85}


def span_coverage(name: str, wall: float, spans: list[dict], layers: dict) -> dict:
    """The traced iteration's coverage check: a well-formed span tree and,
    where a floor is set, top-level spans covering at least that share of
    the wall. ``pipeline.unattributed_s`` is the wall these spans miss."""
    from spans import check_tree

    share = layers["pipeline.attributed_share"]
    floor = ATTRIBUTED_FLOOR.get(name)
    problems = check_tree(spans)
    if floor is not None and share < floor:
        problems.append(f"top-level spans cover {share:.3f} of the wall, below {floor}")
        log(f"span coverage check failed: {problems[-1]}")
    return {"wall_s": wall, "unattributed_s": layers["pipeline.unattributed_s"],
            "attributed_share": share, "floor": floor, "problems": problems}


def write_spans(args, name: str, iter_spans: list[list[dict]]) -> str:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{name}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump([s for sp in iter_spans for s in sp], f)
    return os.path.relpath(path, ROOT)


def context(n_cpus: int, driver_mb: int, spark) -> dict:
    """Host facts recorded beside each run; not metrics."""
    ctx = {"nproc": host_cpus(), "master": f"local[{n_cpus}]",
           "driver_memory_mb": driver_mb, "host_mem_mb": host_mem_mb(),
           "spark": spark.version, "python": sys.version.split()[0]}
    try:
        from bench import calibrate_host

        ctx["calibrate_host"] = calibrate_host(n_pairs=10_000, reps=3)
    except Exception as e:
        ctx["calibrate_host"] = repr(e)
    return ctx


if __name__ == "__main__":
    sys.exit(main())
