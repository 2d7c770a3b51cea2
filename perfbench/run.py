"""End-to-end benchmark of the vector engine: build, serve and dedup on
seeded data, with an optional traced run for per-layer numbers.

    python3 perfbench/run.py --workload ivf_serve --seed 1 --seconds 10 --trace 0

One process, one closed-loop client: each call starts after the
previous one returned. Spark runs at ``local[<cores>]``. Human-readable
lines go to stdout first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The exit code is 0 only when every call succeeded and
every correctness gate held. Scratch data, spans and a full result
record go under ``.perfbench_work/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 7  # the first also launches the JVM; later session restarts speed up as it warms
# The heap is fixed and pre-touched: a growing heap made peak RSS swing
# by a third between runs of the same code.
DRIVER_MEMORY = "2g"
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


def proc_table() -> dict[int, tuple[int, int]]:
    """``{pid: (parent pid, start time)}`` of every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                table[int(d)] = (int(fields[1]), int(fields[19]))
            except (OSError, IndexError, ValueError):
                continue
    return table


def tree_pids(root: int, table: dict[int, tuple[int, int]] | None = None) -> set[int]:
    """``root`` and every live descendant process."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in (table or proc_table()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        out.add(p)
        todo.extend(children.get(p, ()))
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (driver
    Python, the JVM, its Python workers), sampled every 0.2 s. A process
    counts from its second sample on: the JVM starts helper processes
    through vfork-style children that share its memory for a moment, and
    catching one of them would count the JVM twice."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.seen: set[tuple[int, int]] = set()
        self.halt = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        table = proc_table()
        now = {(p, table[p][1]) for p in tree_pids(os.getpid(), table) if p in table}
        for p, _ in now & self.seen:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError):
                pass
        self.seen = now
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self.halt.wait(0.2):
            self.sample()

    def stop(self) -> int:
        """Stop sampling; the peak in bytes, including one last sample."""
        self.halt.set()
        self.join()
        self.sample()
        return self.peak


def start_session(work: str, cores: int):
    from vector_search_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session is ready once it has run a job
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    procs = tree_pids(os.getpid()) - {os.getpid()}
    gateway_proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if gateway_proc is not None:
        gateway_proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            gateway_proc.wait(timeout=60)
        except Exception:
            gateway_proc.kill()
            gateway_proc.wait()
    deadline = time.monotonic() + 60
    while any(alive(p) for p in procs):
        if time.monotonic() > deadline:
            for p in procs:
                if alive(p):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.1)


def median_or_inf(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("inf")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    import gen
    from spans import COUNTS, Tracer

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    results = os.path.join(base, "results")
    for d in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    # Python workers import the engine; everything temporary stays in `work`
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    cores = len(os.sched_getaffinity(0))
    env = {
        "nproc": cores,
        "master": f"local[{cores}]",
        **{v: os.environ.get(v, "unset") for v in THREAD_VARS},
    }

    rss = RssSampler()
    rss.start()
    spark = None
    try:
        # ---- setup, several times; the median is setup_s ----
        setup = {"session": [], "generate": [], "truth": [], "total": []}
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, cores)
            t1 = time.perf_counter()
            data = os.path.join(work, "data")
            shutil.rmtree(data)
            wl = WORKLOADS[args.workload](args.seed, data)
            wl.generate()
            t2 = time.perf_counter()
            wl.truth()
            t3 = time.perf_counter()
            for k, v in zip(setup, (t1 - t0, t2 - t1, t3 - t2, t3 - t0)):
                setup[k].append(v)

        tr = Tracer(spark, enabled=bool(args.trace))
        tr.cycle = -1
        t0 = time.perf_counter()
        wl.build(spark, tr)
        build_s = time.perf_counter() - t0
        wl.verify_build(spark)

        # ---- closed-loop serving: whole cycles until --seconds ----
        # Warm-up cycles run and are checked but not timed. A traced run
        # then alternates traced and untraced cycles, so the tracing
        # overhead compares warm cycles of one run. Recall is scored on
        # the first timed cycle: a fixed query set for a seed.
        warm = wl.WARMUP_CYCLES
        min_cycles = warm + (2 if args.trace else wl.MIN_CYCLES)
        lat, items, attempted, failed, errors = [], 0, 0, 0, []
        cycle = 0
        while cycle < wl.MAX_CYCLES and (
            cycle < min_cycles or time.perf_counter() - t_start < args.seconds
        ):
            timed = cycle >= warm
            if cycle == warm:
                t_start = time.perf_counter()
            tr.enabled = bool(args.trace) and timed and (cycle - warm) % 2 == 0
            tr.cycle = cycle
            for call in wl.calls(spark, tr, cycle):
                attempted += 1
                t = time.perf_counter()
                try:
                    with tr.span(call.span, call_id=attempted):
                        out = call.run()
                except Exception as e:  # counted and reported, never swallowed
                    failed += 1
                    errors.append(f"{call.span}: {type(e).__name__}: {e}")
                    traceback.print_exc()
                    if timed:
                        lat.append((tr.enabled, float("inf")))
                    continue
                if timed:
                    lat.append((tr.enabled, time.perf_counter() - t))
                    items += call.items
                call.check(out)
            cycle += 1
        wl.gate()

        calls = [x for _, x in lat]
        served = sum(x for x in calls if x != float("inf"))
        e2e = {
            "setup_s": statistics.median(setup["total"]),
            "build_s": build_s,
            "call_p50_s": median_or_inf(calls),
            "items_per_s": items / served if served else 0.0,
            "recall": wl.recall(cycle=warm),
        }
        e2e["peak_rss_mb"] = rss.stop() / 2**20
        tail = gen.tail(calls)

        layer = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
        for k in ("session", "generate", "truth"):
            layer[f"setup.{k}_s"] = statistics.median(setup[k])
        # "<span>_s" is the span's median time, "<span>.<count>" its count
        for name in layer:
            op, _, what = name.rpartition(".")
            if name.endswith("_s") and any(s["name"] == name[:-2] for s in tr.spans):
                layer[name] = tr.seconds(name[:-2])
            elif what in COUNTS and op != "cycle":
                layer[name] = tr.count(op, what)
        for what in COUNTS:
            layer[f"cycle.{what}"] = sum(
                s.get(what, 0) for s in tr.spans if s["parent"] is None and s["cycle"] == warm
            )
        layer.update({k: v for k, v in wl.layer.items() if k in layer})
        if args.trace:
            layer["trace.call_p50_traced_s"] = median_or_inf([x for t, x in lat if t])
            layer["trace.call_p50_untraced_s"] = median_or_inf([x for t, x in lat if not t])
    finally:
        rss.halt.set()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    # ---- report ----
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    metrics = layer if args.trace else e2e
    correct = not wl.violations and failed == 0
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} | "
          + " ".join(f"{k}={v}" for k, v in env.items()))
    for k, v in e2e.items():
        print(f"{k:>24} {v:12.4f} {units[k]}")
    if tail:
        print(f"{'call_tail_s':>24} {tail[1]:12.4f} s  (p{tail[0]:g} of n={len(calls)} calls)")
    else:
        print(f"{'call_tail_s':>24}          n/a  (n={len(calls)} calls: no percentile "
              "above the median leaves 10 samples above it)")
    print(f"{'calls':>24} {attempted} attempted, {failed} failed, {cycle} cycles "
          f"({warm} untimed warm-up)")
    if args.trace:
        print(tr.table())
        over = layer["trace.call_p50_traced_s"] / layer["trace.call_p50_untraced_s"] - 1
        print(f"tracing overhead: call_p50_s traced {layer['trace.call_p50_traced_s']:.4f} s "
              f"vs untraced {layer['trace.call_p50_untraced_s']:.4f} s ({100 * over:+.1f}%)")
        tr.dump(os.path.join(results, f"spans-{args.workload}-s{args.seed}.json"))
    for v in wl.violations[:20] + errors[:20]:
        print("VIOLATION", v)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "env": env,
              "end_to_end": e2e, "per_layer": layer, "tail": tail, "n_calls": len(calls),
              "cycles": cycle, "setup": setup, "recalls": wl.recalls,
              "violations": wl.violations, "errors": errors}
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    def num(v: float):
        return v if v != float("inf") else None

    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": num(v), "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
