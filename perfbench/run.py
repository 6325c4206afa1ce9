"""End-to-end and per-layer benchmark of the rasters_spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload point_sampling --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload regrid --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload regrid --seed 1 --seconds 1 --trace 0 --smoke

One run is one fresh process and one Spark session on ``local[slots]``
(slots = min(2, available cores)). It generates its inputs from the seed
(cached under ``perfbench/.data``, outside the timed set-up), runs one
cold pass, a fixed number of warm-up passes, then measured passes for
``--seconds``, and checks every operation against the numpy reference.
``--trace 1`` adds the layer sweep (``layers.py``) with Spark's event
log enabled. The last line of standard output is one JSON object;
``--smoke`` runs at a tiny size, prints every metric and exits nonzero
on a correctness mismatch. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

_T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / ".data"
WORK = BENCH / ".work"

#: workload → (tiles, points, IDW/kNN point slice); regrid's tiles are
#: the first 2,000 of point_sampling's tile sequence for the same seed
SIZES = {
    "point_sampling": (3000, 200000, 20000),
    "regrid": (2000, 20000, 2000),
}
SMOKE_SIZES = {"point_sampling": (240, 2400, 240), "regrid": (240, 2400, 240)}
#: untimed passes after the cold one, the first of which checks every
#: operation's output against the reference; read off each workload's
#: pass-time curve in a fresh JVM (point_sampling is flat after ~4;
#: regrid falls for ~6, its pandas-UDF operations longest)
WARMUP_PASSES = {"point_sampling": 4, "regrid": 6}
#: plain (False) and traced (True) passes of the tracing-overhead
#: comparison, in an order that leaves any remaining drift to neither side
OVERHEAD_PASSES = (False, True, True, False)
MAX_SLOTS = 2
DEADLINE_S = 175


def metric_units() -> dict[str, str]:
    """Every metric's unit, as ``BENCHMARK.json`` declares it."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def process_start() -> float:
    """Wall-clock time this process was started (Linux), else import time."""
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + int(fields[19]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return _T_IMPORT


def launch_env(run_dir: Path, slots: int, event_log: Path | None) -> None:
    """Spark launch settings: slot count, and every scratch path inside
    the run directory. The event log is enabled only here, at launch."""
    for d in ("spark-local", "tmp"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)  # sizes minPartitionNum
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    args = ["--driver-java-options", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}"]
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir={event_log}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def run(args) -> int:
    start = process_start()
    if not (ROOT / "rasters_spark" / "__init__.py").is_file():
        print(f"perfbench: no rasters_spark package under {ROOT}", file=sys.stderr)
        return 2
    units = metric_units()
    n_tiles, n_points, idw_slice = (SMOKE_SIZES if args.smoke else SIZES)[args.workload]
    slots = min(MAX_SLOTS, len(os.sched_getaffinity(0)))
    traced = bool(args.trace) or args.smoke
    load1 = os.getloadavg()[0]

    sys.path.insert(0, str(ROOT))
    from perfbench import inputs

    t0 = time.time()
    src = inputs.input_dir(DATA, args.workload, args.seed, n_tiles, n_points)
    if not (src / ".complete").exists():
        subprocess.run([sys.executable, str(BENCH / "inputs.py"), str(DATA), args.workload,
                        str(args.seed), str(n_tiles), str(n_points), str(idw_slice)],
                       check=True, timeout=DEADLINE_S - 30)
    gen_s = time.time() - t0

    run_dir = WORK / f"run-{os.getpid()}"  # removed by main() however the run ends
    launch_env(run_dir, slots, run_dir / "eventlog" if traced else None)

    t_session = time.time()
    from perfbench import layers, workloads
    from perfbench.tracing import COUNTERS, Tracer, span_counters
    from rasters_spark import get_spark

    spark = get_spark("perfbench", master=f"local[{slots}]")
    session_s = time.time() - t_session
    try:
        inp = workloads.register(spark, str(src / "tiles.parquet"), str(src / "points.parquet"), idw_slice)
        setup_s = time.time() - start - gen_s
        ref = pickle.loads((src / "reference.pkl").read_bytes())
        canary = layers.host_canary()

        ops = workloads.OPS[args.workload]
        runs = {op.name: 0 for op in ops}
        op_times: dict[str, list[float]] = {op.name: [] for op in ops}
        raised = {op.name: 0 for op in ops}
        correct = {op.name: False for op in ops}

        def one_pass(tracer=None, check=False) -> float:
            """Run every operation once, forced to a noop sink, or with
            ``check`` collected and compared with the reference instead."""
            total = 0.0
            for op in ops:
                t = time.perf_counter()
                try:
                    with tracer.span("pass." + op.name) if tracer else nullcontext():
                        df = op.build(inp)
                        if check:
                            correct[op.name] = workloads.check(op, df, ref[op.name],
                                                               corrupt=op.name == args.corrupt)
                        else:
                            workloads.force(df)
                except Exception:  # a failed operation is counted, the run goes on
                    traceback.print_exc()
                    raised[op.name] += 1
                op_times[op.name].append(time.perf_counter() - t)
                total += op_times[op.name][-1]
                runs[op.name] += 1
            return total

        ticks = layers.cpu_ticks()
        cold = one_pass()
        warmup = [one_pass(check=True)]
        warmup += [one_pass() for _ in range(0 if args.smoke else WARMUP_PASSES[args.workload] - 1)]
        measured, t_m = [], time.perf_counter()
        while not measured or (time.perf_counter() - t_m < args.seconds
                               and time.time() - start < DEADLINE_S - 60):
            measured.append(one_pass())
        p50 = statistics.median(measured)
        steal = layers.steal_share(ticks, layers.cpu_ticks())

        layer, plain_passes, traced_passes = {}, [], []
        if traced:
            tracer = Tracer(spark)
            for with_spans in OVERHEAD_PASSES:  # each operation of a traced pass in a span
                if with_spans:
                    with tracer.span("pass") as span:
                        one_pass(tracer)
                    traced_passes.append(span.seconds)
                else:
                    plain_passes.append(one_pass())
            layer, table = layers.sweep(spark, tracer, inp, str(run_dir / "table"))
            runs["hillshade_write"], raised["hillshade_write"] = 1, 0
            try:
                correct["hillshade_write"] = workloads.check_hillshade(spark, table, ref["hillshade_write"])
            except Exception:  # a check that cannot run is a failed check
                traceback.print_exc()
                correct["hillshade_write"] = False
        from pyspark import SparkContext

        rss = peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
    finally:
        stop_spark(spark)

    attempted = sum(runs.values())
    failed = sum(raised[k] if correct[k] else runs[k] for k in runs)
    e2e = {"setup_s": setup_s, "pass_s_p50": p50, "tiles_per_s": n_tiles / p50,
           "ok_ops_share": (attempted - failed) / attempted}
    if traced:
        traced_pass, plain_pass = statistics.median(traced_passes), statistics.median(plain_passes)
        counters = span_counters(run_dir / "eventlog", tracer.spans, slots)
        for name in layers.COUNTED_SPANS:
            for c in COUNTERS:
                layer[f"{name}.{c}"] = counters[name][c]
        layer.update({"session.start_s": session_s, "session.cold_pass_s": cold,
                      "session.peak_rss_mb": rss, "host.canary_s": canary, "host.load1": load1,
                      "host.steal_share": steal,
                      "trace.pass_s": traced_pass, "trace.untraced_pass_s": plain_pass,
                      "trace.overhead_share": traced_pass / plain_pass - 1.0,
                      "trace.layer_sum_s": sum(layer[s + "_s"] for s in layers.PASS_SPANS[args.workload])})
        layer.update(layers.codec_rates(src / "tiles.parquet"))
        tracer.dump(WORK / f"trace-{args.workload}-seed{args.seed}.json")

    print(f"workload {args.workload} seed {args.seed}: {n_tiles} tiles, {n_points} points, "
          f"slots {slots}, passes {len(measured)} measured after {len(warmup)} warm-up, "
          f"inputs {gen_s:.2f} s, host.canary_s {canary:.4f}, host.load1 {load1:.2f}, "
          f"host.steal_share {steal:.3f}, "
          f"cold_pass_s {cold:.3f}, peak_rss_mb {rss:.1f}")
    curve = {"cold": [cold], "warm-up": warmup, "measured": measured,
             "plain": plain_passes, "traced": traced_passes}
    print("pass seconds: " + " | ".join(f"{k} " + " ".join(f"{t:.3f}" for t in ts)
                                        for k, ts in curve.items() if ts))
    for name, ts in op_times.items():
        print(f"{name} seconds: " + " ".join(f"{t:.3f}" for t in ts))
    for name, ok in correct.items():
        print(f"check {name}: {'ok' if ok else 'MISMATCH'} ({runs[name]} runs, {raised[name]} raised)")
    shown = {**e2e, **layer} if args.smoke else (layer if args.trace else e2e)
    for name, value in shown.items():
        print(f"{name} {value!r} {units[name]}")
    metrics = layer if args.trace else e2e
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 1 if args.smoke and failed else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, every metric, nonzero exit on mismatch")
    ap.add_argument("--corrupt", default=None, help="self-test: corrupt one output value of this operation")
    args = ap.parse_args()
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    try:
        return run(args)
    except TimeoutError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(WORK / f"run-{os.getpid()}", ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
