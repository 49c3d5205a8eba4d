"""Benchmark of the logfile engine, one closed-loop workload per process.

    python3 perfbench/run.py --workload logscan --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --seed 1          # every workload, each in a fresh process

One run, from the root of a checkout:

1. set the workload up: start the Spark session and run a warm-up job,
   while a second thread writes the seeded inputs and works out their
   expected outputs;
2. the cold round in the fresh session: every op kind once (churn: the
   index build);
3. the workload's ``warm_rounds`` (curate 3, the others 1), and more
   while the next one is expected to end within ``--seconds`` of the
   first op.  The cold round alone takes 15 to 30 s on a 4-core box, so
   ``--seconds 15`` adds none there.  The count is best kept fixed: the
   first warm round is slower than later ones, so a varying count would
   move ``warm_s``;
4. check every output outside the timed region, and stop the JVM.

Workloads are defined in ``logscan.py``, ``churn.py`` and ``curate.py``;
``BENCHMARK.json`` lists the ones the regression gate runs and the
metrics it reads, ``metrics.json`` what each metric means.  The gate
leaves out ``stream_default``, whose check fails on the current code
(see ``logscan.StreamDefault``).  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones).  The lines before it are the report: every named
figure with its unit and sample count, and the environment.  With
``--trace 1`` warm rounds alternate untraced and traced, spans go to
``.perfbench/traces/`` and the tracing overhead is the difference of
the two kinds of round.  Scratch data lives in ``.perfbench/`` and is
removed at the end.  Exit status: 0 when every check passed, 1 when
one failed, 2 when the package is not there to benchmark.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

PROCESS_T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hadoop_logfile_inputformat_spark"
WORKLOADS = ("logscan", "churn", "curate", "stream_default")


def _workload(name: str, work_dir: str, seed: int, tracer):
    if name == "logscan":
        from logscan import Logscan as cls
    elif name == "churn":
        from churn import Churn as cls
    elif name == "curate":
        from curate import Curate as cls
    else:
        from logscan import StreamDefault as cls
    return cls(work_dir, seed, tracer)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        spec["about"] = json.load(f)
    spec["units"] = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return spec


def _line(name, value, unit, n=None, note=""):
    count = f"  n={n}" if n is not None else ""
    text = f"{value:.6g}" if isinstance(value, float) else str(value)
    print(f"  {name:42s} {text:>14s} {unit:8s}{count}{note}")


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ to benchmark", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import harness

    spec = _spec()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    harness.configure_environment(work)
    load_start = os.getloadavg()
    tracer = harness.Tracer(args.trace == 1)
    wl = _workload(args.workload, work, args.seed, tracer)
    # the inputs and their expected outputs need no Spark, so they are
    # made while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        pending = pool.submit(_make_inputs, wl)
        t0 = time.perf_counter()
        spark = harness.start_session(f"perfbench-{args.workload}")
        start_s = time.perf_counter() - t0
    try:
        inputs = pending.result()
        wl.spark = spark
        tracer.attach(spark)
        setup_s = time.perf_counter() - PROCESS_T0
        ops = harness.Ops(tracer)
        rounds = _rounds(wl, ops, tracer, args.seconds)
        wl.finish(ops)
        tracer.enabled = args.trace == 1
        layers = {}
        if tracer.enabled and hasattr(wl, "probe_layers"):
            layers.update(wl.probe_layers(ops))
        tracer.finish()
        if tracer.enabled:
            layers.update(wl.layer_report(ops, tracer))
    finally:
        harness.shut_down(spark)
    if tracer.enabled:
        import logscan

        layers.update(logscan.core_scan_rates(work, args.seed))
    load_end = os.getloadavg()
    shutil.rmtree(work, ignore_errors=True)

    cold = sum(ops.first(k) for k in wl.cold_kinds)
    warm = sum(harness.median(ops.warm(k)) for k in wl.warm_kinds)
    untraced = [t for traced, t in rounds[1:] if not traced]
    end_to_end = {
        "setup_s": (setup_s, 1),
        "cold_s": (cold, 1),
        "warm_s": (warm, len(untraced)),
    }
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg_start": load_start, "loadavg_end": load_end,
        "inputs": inputs, "note": "reads are served from the page cache",
    }
    print(f"# perfbench {args.workload}, seed {args.seed}")
    print(json.dumps({"detail": "env", **env}))
    print("# set-up")
    _line("setup_s (process start to first op)", setup_s, "s", 1)
    _line("session.start_s (JVM launch and session)", start_s, "s", 1)
    print("# op kinds: first call, then the median of the calls in warm rounds")
    for kind, xs in ops.samples.items():
        warm_xs = ops.warm(kind)
        tail = harness.tail_percentile(warm_xs)
        note = f"  p{tail[0]}={tail[1]:.4g}" if tail else ""
        _line(f"{kind}.first_s", xs[0], "s", 1)
        if warm_xs:
            _line(f"{kind}.p50_s", harness.median(warm_xs), "s", len(warm_xs), note)
    print("# named figures")
    for name, value, unit, n in wl.report(ops):
        _line(name, value, unit, n)
    _line(f"{args.workload}.failed_frac", ops.failed / max(ops.attempted, 1), "ratio",
          ops.attempted, f"  ({ops.failed} of {ops.attempted} ops)")
    for failure in ops.failures:
        print(f"# FAILED {failure['op']}: {failure['error']}")

    if tracer.enabled:
        metrics = _per_layer(spec, tracer, rounds, layers, start_s, args)
    else:
        metrics = end_to_end
    print("# metrics of this run")
    for name, (value, n) in metrics.items():
        _line(name, value, spec["units"][name], n)
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {
            name: {"value": value if math.isfinite(value) else None,
                   "unit": spec["units"][name]}
            for name, (value, _) in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _make_inputs(wl) -> dict:
    wl.prepare()
    return wl.verify_inputs()


def _rounds(wl, ops, tracer, seconds: float) -> list:
    """Run the cold round, then ``wl.warm_rounds`` warm rounds, and more
    while the next one is expected to end within ``seconds`` of the
    first op.  Traced, warm rounds alternate untraced and traced, and
    only one of each need run.  Returns ``[(traced, wall_s)]`` per
    round."""
    traced_run = tracer.enabled
    least = 3 if traced_run else 1 + wl.warm_rounds
    out = []
    t0 = time.perf_counter()
    rnd = 0
    while True:
        tracer.enabled = traced_run and rnd % 2 == 0
        tracer.round = ops.round = rnd
        t = time.perf_counter()
        wl.round(ops, rnd)
        out.append((tracer.enabled, time.perf_counter() - t))
        rnd += 1
        if rnd >= least and time.perf_counter() - t0 + out[-1][1] > seconds:
            break
    tracer.enabled = traced_run
    tracer.round = ops.round = None  # calls after the rounds belong to none of them
    return out


def _per_layer(spec, tracer, rounds, layers, start_s, args) -> dict:
    """Per-layer metrics from the spans of the traced warm rounds,
    averaged per round; also writes the spans and the layer table."""
    import harness

    traced = [r for r, (on, _) in enumerate(rounds) if on and r > 0]
    spans = [s for s in tracer.spans if s.get("round") in traced]
    n = max(len(traced), 1)

    def per_round(pred, key):
        return sum(s.get(key, 0) for s in spans if pred(s["name"])) / n

    out = {
        "session.start_s": (start_s, 1),
        "operators.self_s": (per_round(
            lambda k: k.startswith(("operators.", "plans.registry.")), "self_s"), n),
        "catalyst.optimize_s": (per_round(lambda k: k == "catalyst.optimize", "dur"), n),
        "catalyst.physical_s": (per_round(lambda k: k == "catalyst.physical", "dur"), n),
        "spark.execute_s": (per_round(lambda k: k == "spark.execute", "dur"), n),
        "py4j.calls": (per_round(lambda k: True, "py4j"), n),
        "spark.jobs": (per_round(lambda k: True, "jobs"), n),
        "plan.exchanges": (per_round(lambda k: k == "spark.execute", "exchanges"), n),
        "plan.shuffle_mb": (per_round(lambda k: k == "spark.execute", "shuffle_bytes") / 1e6, n),
    }
    for key in ("source.scan_mb_s_core", "source.gz_scan_mb_s_core", "source.arrow_mb_s_core"):
        out[key] = (layers[key], 1)
    # the first warm round is untraced and still pays some first-call
    # costs, so in a short run this understates the overhead
    on = [t for traced_round, t in rounds[1:] if traced_round]
    off = [t for traced_round, t in rounds[1:] if not traced_round]
    out["trace.overhead_s"] = (harness.median(on) - harness.median(off), len(on) + len(off))

    trace_dir = os.path.join(ROOT, ".perfbench", "traces")
    stem = f"{args.workload}-s{args.seed}"
    tracer.write(os.path.join(trace_dir, f"spans-{stem}.jsonl"))
    table = _layer_table(tracer.spans)
    with open(os.path.join(trace_dir, f"layers-{stem}.json"), "w") as f:
        json.dump({"named": layers, "spans": table}, f, indent=1, sort_keys=True)
    print("# per-layer table: span name, calls, then per call: wall, self time, py4j calls and Spark jobs while innermost")
    for name, row in sorted(table.items()):
        print(f"  {name:48s} {row['calls']:4d} {row['dur_s']:9.4f} s {row['self_s']:9.4f} s"
              f" {row['py4j']:8.1f} {row['jobs']:6.1f}")
    print("# named per-layer figures")
    for name, value in sorted(layers.items()):
        about = spec["about"].get(name) or spec["about"].get(
            ".".join(["curate", "<key>", name.rsplit(".", 1)[-1]]), {})
        _line(name, value, about.get("unit", ""))
    print(f"# spans written to {os.path.relpath(trace_dir, ROOT)}/spans-{stem}.jsonl")
    return out


def _layer_table(spans) -> dict:
    table: dict = {}
    for s in spans:
        row = table.setdefault(s["name"], {"calls": 0, "dur_s": 0.0, "self_s": 0.0,
                                           "py4j": 0, "jobs": 0})
        row["calls"] += 1
        row["dur_s"] += s["dur"]
        row["self_s"] += s["self_s"]
        row["py4j"] += s["py4j"]
        row["jobs"] += s["jobs"]
    for row in table.values():
        for key in ("dur_s", "self_s", "py4j", "jobs"):
            row[key] /= row["calls"]
    return table


def run_all(args) -> int:
    """Every workload in a fresh process of its own, one after another."""
    status = 0
    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.rstrip("\n").splitlines()
        print("\n".join(lines[:-1]))
        status = max(status, proc.returncode)
        try:
            results[name] = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            results[name] = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS,
                    help="one workload; without it, every workload in turn")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0,
                    help="length of the measured phase, cold round included")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run_one(args) if args.workload else run_all(args)


if __name__ == "__main__":
    sys.exit(main())
