#!/usr/bin/env python3
"""Repository benchmark: seeded workloads driven through the package's
public entry points by one closed-loop client.

    python3 perfbench/run.py --workload etl_relational --seed 1 \
        --seconds 14 --trace 0

Workloads: etl_relational, corpus_dedup, stream_ingest (see
perfbench/README.md). With ``--trace 0`` the last stdout line is a JSON
object with the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics, and the per-layer table is printed above it and
written, with the spans, under ``.bench_work/traces/``.

Every run starts from a fresh work directory inside the checkout
(``.bench_work/``): its own catalog database, Spark local dirs and
temp dirs, removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from types import SimpleNamespace  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "blackroad_data_pipeline_spark"

# generated scale factor (sf1 = 6M lineitem rows, 50k documents): the
# largest at which a run, JVM start and warm-up included, stays ~40 s
SF = 0.1
SLOTS = ("op1_s", "op2_s", "op3_s", "op4_s")


def session_shape(work: str) -> dict:
    """Environment and Spark settings pinned for every run; printed with
    the results."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 2**20
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        # a quarter of the box, within [1, 8] GB: the session default
        # (32g) exceeds small machines
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(8, int(mem_gb / 4)))}g",
        # Python workers must import the package from this checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PIPELINE_DB": os.path.join(work, "pipelines.db"),
        "TMPDIR": os.path.join(work, "tmp"),
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # C1 only: the C2 compiler keeps speeding operations up for
        # minutes, so medians would depend on where a run sits on that
        # curve; C1 settles within the warm-up. No perf-data file in /tmp.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={env['TMPDIR']} -XX:TieredStopAtLevel=1 "
            "-XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    return {"cores": cores, "env": env, "conf": conf}


def _proc_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over this process, the Spark
    JVM and the Python workers."""
    total = 0
    for p in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU counters (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def high_percentile(n: int) -> float | None:
    """Highest of p50/p90/p99/p99.9 with at least ten samples beyond it."""
    best = None
    for p in (50.0, 90.0, 99.0, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    return best


def percentile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(len(xs) * p / 100))]


class Runner:
    def __init__(self, wl, tracer=None):
        self.wl = wl
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def one(self, op: str, label: str, traced: bool) -> tuple[float, int] | None:
        """Run one operation; return (seconds, input rows), or None if it
        failed (raised, or its output check failed)."""
        self.attempted += 1
        info: dict = {}
        try:
            self.wl.prepare(op)
            if traced:
                self.tracer.begin_op(label)
            t0 = time.perf_counter()
            try:
                info = self.wl.run(op)
            finally:
                dt = time.perf_counter() - t0
                if traced:
                    self.tracer.end_op(label, info)
            err = self.wl.check(op, info)
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            err = f"{type(e).__name__}: {e}"
        if traced:
            self.tracer.add_checked(label, info)
        if err:
            self.failed += 1
            self.errors.append(f"{label}: {err}")
            print(f"FAILED {label}: {err}", file=sys.stderr, flush=True)
            return None
        return dt, int(info.get("rows_in", 0))


def run(args) -> int:
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shape = session_shape(work)
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(shape["env"][k], exist_ok=True)
    os.environ.update(shape["env"])
    sys.path.insert(0, ROOT)
    spark = wl = None
    try:
        from blackroad_data_pipeline_spark.session import get_spark
        from workloads import WORKLOADS
        from tracer import LAYERS, Tracer

        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=shape["conf"])
        session_start = time.perf_counter() - t0
        cores = shape["cores"]
        ctx = SimpleNamespace(spark=spark, work=work, seed=args.seed,
                              sf=args.sf or SF,
                              cores=cores, root=ROOT)
        wl = WORKLOADS[args.workload](ctx)
        tracer = Tracer(spark, cores) if args.trace else None
        runner = Runner(wl, tracer)

        t0 = time.perf_counter()
        wl.setup()
        if args.plant_wrong:
            wl.plant_wrong_expected()
        inputs = time.perf_counter() - t0
        # warm-up: untimed, checked operations (first runs of each
        # operation pay JIT, codegen and Python-worker start)
        warm_ops = []
        for op in wl.warmup_ops():
            res = runner.one(op, f"{op}#warm", False)
            warm_ops.append(f"{op}={res[0]:.2f}" if res else f"{op}=failed")
        warm = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START

        samples: dict[str, list[float]] = {op: [] for op in wl.ops}
        samples["day"] = []
        phase = [0.0, 0]           # untraced [seconds, input rows]
        by_mode = {m: {op: [] for op in wl.ops} for m in (False, True)}
        # whole rounds until --seconds have passed, at least two: with
        # the C1-only JVM operation times stay flat from round to round,
        # so a slower machine takes fewer samples of the same quantities
        # instead of a longer run
        ticks0 = cpu_ticks()
        t_begin = time.perf_counter()
        r = 0
        while not wl.exhausted():
            if args.rounds:
                if r >= args.rounds:
                    break
            elif r >= 2 and time.perf_counter() - t_begin >= args.seconds:
                break
            day = 0.0
            for i, op in enumerate(wl.ops):
                # traced runs trace every other run of each operation,
                # so the tracing overhead is measured in the same run
                traced = bool(args.trace) and (r + i) % 2 == 1
                res = runner.one(op, f"{op}#{r}", traced)
                if res is None:
                    continue
                dt, rows = res
                samples[op].append(dt)
                by_mode[traced][op].append(dt)
                if op != "maintain":
                    day += dt
                if not traced:
                    phase[0] += dt
                    phase[1] += rows
            if "day" in wl.slots and day:
                samples["day"].append(day)
            r += 1
        rss = peak_rss_mb()
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    finally:
        try:
            if wl is not None:
                wl.close()
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    rows_per_s = phase[1] / phase[0] if phase[0] else 0.0
    names = list(wl.slots)
    print(f"# workload {args.workload}  seed {args.seed}  "
          f"sf {ctx.sf}  rounds {len(samples[wl.ops[0]])}")
    print(f"# setup: session {session_start:.2f} s, inputs and state "
          f"{inputs:.2f} s, warm-up {warm - inputs:.2f} s")
    print("# warm-up (s): " + " ".join(warm_ops))
    # CPU time taken by the host from this machine while timing: a
    # non-zero share means the numbers carry outside load
    print(f"# cpu steal during the timed rounds: "
          f"{ticks[7] / max(sum(ticks), 1):.1%}")
    print("# session shape: " + json.dumps(
        {"master": f"local[{cores}]", **shape["env"], **shape["conf"]}))
    e2e = {"setup_s": (setup_s, "s"), "rows_per_s": (rows_per_s, "rows/s")}
    table = [("setup_s", setup_s, "s", 1, None),
             ("rows_per_s", e2e["rows_per_s"][0], "rows/s", 1, None),
             ("fail_frac", runner.failed / max(runner.attempted, 1), "frac",
              runner.attempted, None)]
    for slot, op in zip(SLOTS, names):
        xs = samples[op]
        med = statistics.median(xs) if xs else float("nan")
        p = high_percentile(len(xs))
        table.append((f"{op}_s", med, "s", len(xs),
                      (p, percentile(xs, p)) if p else None))
        e2e[slot] = (med, "s")
    print(f"# {'metric':<16}{'value':>14} {'unit':<7}{'n':>5}  high pct")
    for name, v, unit, n, hp in table:
        hp_s = f"p{hp[0]:g}={hp[1]:.4f}" if hp else "-"
        print(f"# {name:<16}{v:>14.4f} {unit:<7}{n:>5}  {hp_s}")
    print("# samples (s): " + json.dumps(
        {op: [round(x, 3) for x in xs] for op, xs in samples.items() if xs}))
    for e in runner.errors:
        print(f"# failed: {e}")

    if args.trace:
        layer = tracer.layer_metrics()
        layer["session.start_s"] = session_start
        layer["session.warm_s"] = warm
        layer["session.peak_rss_mb"] = rss
        layer["trace.overhead_frac"] = overhead(by_mode)
        _print_layers(tracer, layer, LAYERS)
        out = os.path.join(ROOT, ".bench_work", "traces",
                           f"{args.workload}-seed{args.seed}.json")
        tracer.dump(out, {"workload": args.workload, "seed": args.seed,
                          "metrics": layer})
        print(f"# trace written to {os.path.relpath(out, ROOT)}")
        metrics = {k: {"value": layer[k], "unit": LAYERS[k][0]}
                   for k in LAYERS}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


def overhead(by_mode: dict) -> float:
    """Traced vs untraced time of one round, from each operation's mean
    with and without tracing (the same rows either way, so this is the
    rows_per_s ratio)."""
    both = [op for op in by_mode[True]
            if by_mode[True][op] and by_mode[False][op]]
    if not both:
        return 0.0
    t = sum(statistics.mean(by_mode[True][op]) for op in both)
    u = sum(statistics.mean(by_mode[False][op]) for op in both)
    return t / u - 1


def _print_layers(tracer, layer: dict, layers: dict) -> None:
    print("# per-layer metrics (per traced round)")
    print(f"# {'metric':<30}{'value':>16} {'unit':<6} moves -> on")
    for k, (unit, target, where) in layers.items():
        print(f"# {k:<30}{layer[k]:>16.4f} {unit:<6} {target} -> {where}")
    cols = ["wall_s", "service.build_s", "operators.task_s",
            "llmops.python_stage_s", "sources.scan_task_s",
            "exchange.shuffles", "service.build_jobs"]
    print("# per-operation (mean over traced rounds): op n " + " ".join(cols))
    for row in tracer.op_table():
        print(f"# {row['op']:<14}{row['n']:>3} " + " ".join(
            f"{row.get(c, 0):.3f}" for c in cols))
    print("# span self time (s): " + json.dumps(
        {k: round(v, 4) for k, v in sorted(tracer.self_times().items())}))


def _stop(spark) -> None:
    """Stop the session, the Spark JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = _proc_tree(proc.pid) if proc is not None else []
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — the JVM is still ended below
        pass
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for p in tree:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            try:
                with open(f"/proc/{p}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_relational", "corpus_dedup",
                             "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the benchmark's own tests
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's generated scale")
    ap.add_argument("--rounds", type=int, default=0,
                    help="run exactly this many timed rounds")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one expected output (etl_relational "
                         "only; tests that a failed check reaches fail_frac)")
    args = ap.parse_args(argv)
    if args.plant_wrong and args.workload != "etl_relational":
        ap.error("--plant-wrong applies to etl_relational only")
    if not (os.path.isfile(os.path.join(ROOT, PKG, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tools", "gen_fixture.py"))):
        print(f"perfbench: {PKG}/ and tools/gen_fixture.py not found under "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    # on SIGTERM still stop Spark and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
