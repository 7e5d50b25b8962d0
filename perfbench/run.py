"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_lakehouse --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from ``--seed`` under ``.perfbench/`` in the checkout, which also holds
Spark's scratch space; both are removed when the run ends. One client
drives the program in a closed loop on ``local[<cores>]``: set-up
(``session.get_spark`` plus one untimed warm-up pass) ``N_SETUPS``
times, each in a freshly launched JVM, the outputs of the last warm-up
pass checked, ``SETTLE_S`` seconds of untimed ops, then ops for
``--seconds`` in the last set-up's JVM.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced ops of each kind over the same ``--seconds``, and
reports the per-layer metrics, the tracing overhead between the two
halves and, under ``.perfbench/out/``, every span of the run.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it are the
same figures for a reader.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()  # the checkout whose program is measured
STATE = os.path.join(ROOT, ".perfbench")
# Every set-up launches its own JVM, so each is a cold start; the run
# reports their median. Two, not more: a cold set-up of the queries
# workload takes ~20 s on 4 shared cores, and every run of a full
# comparison has to fit its time budget.
N_SETUPS = 2
# Untimed ops in the measured JVM between set-up and the measured loop.
# Per-op latency keeps falling for ~30 s after a cold start (JIT); the
# first seconds fall steepest and vary most from run to run.
SETTLE_S = 8.0
GATED_UNITS = {"setup_s": "s", "latency_s": "s", "ops_per_s": "1/s"}


def configure(work: str) -> int:
    """Point every scratch location of the program, Spark and its JVM
    into ``work``; returns the core count Spark runs on."""
    tmp = os.path.join(work, "tmp")
    cores = len(os.sched_getaffinity(0))
    sys.path.insert(1, ROOT)  # after perfbench/ itself
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(work, "spark-warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.log.level=ERROR "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "pyspark-shell"
        ),
    })
    return cores


def timed(run, tracer, spark, kind):
    """(seconds, result, raised) of one op, traced when ``tracer``."""
    t0 = time.perf_counter()
    try:
        if tracer is None:
            result = run()
        else:
            with tracer.op(spark, kind):
                result = run()
        return time.perf_counter() - t0, result, False
    except Exception:
        traceback.print_exc()
        return time.perf_counter() - t0, None, True


def passes(check, result) -> bool:
    """The untimed output check of one op; a check that raises fails."""
    try:
        return bool(check(result))
    except Exception:
        traceback.print_exc()
        return False


def settle(wl, ops) -> None:
    """Untimed, before the measured loop: ops until every latency kind
    has run once and ``SETTLE_S`` seconds have passed, so that the
    measured ops no longer pay for compiling their plans and sit past
    the steepest part of the JVM's JIT warm-up. Their outputs are
    checked."""
    pending = set(wl.latency_kinds)
    end = time.perf_counter() + SETTLE_S
    while pending or time.perf_counter() < end:
        kind, run, check = next(ops, (None, None, None))
        if kind is None:
            wl.problems.append("the op sequence ran out before the measured loop")
            return
        pending.discard(kind)
        _, result, raised = timed(run, None, None, kind)
        if raised or not passes(check, result):
            wl.problems.append(f"untimed {kind} op before the measured loop failed")


def cpu_jiffies() -> tuple[int, int] | None:
    """(stolen, total) CPU time of the host so far, from /proc/stat;
    None where the kernel does not report it."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (fields[7], sum(fields)) if len(fields) == 8 else None


def measure(wl, spark, seconds: float, wrong: list[str], tracer, layers):
    from workloads import Sample

    samples: list[Sample] = []
    seen: dict[str, int] = {}
    ops = wl.ops(spark)
    settle(wl, ops)
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        # drawn only when it will run: drawing prepares the op's inputs
        kind, run, check = next(ops, (None, None, None))
        if kind is None:
            break
        # every other op of a kind is traced, starting with its first,
        # so that a kind that runs once in the loop is traced too
        traced = tracer is not None and seen.get(kind, 0) % 2 == 0
        seen[kind] = seen.get(kind, 0) + 1
        if traced:
            with tracer.patched(layers.TRACED_FUNCTIONS):
                wl.tracer = tracer
                try:
                    dt, result, raised = timed(run, tracer, spark, kind)
                finally:
                    wl.tracer = None
        else:
            dt, result, raised = timed(run, None, spark, kind)
        ok = not raised and kind not in wrong and passes(check, result)
        samples.append(Sample(kind, dt, ok, traced))
        if traced:
            wl.probe(spark, tracer, kind)
    return samples


def run(args) -> dict:
    work = os.path.join(STATE, f"work-{os.getpid()}")
    cores = configure(work)
    try:
        import layers
        import procs
        import workloads
        from spans import Tracer
        from website_traffic_etl_gcp_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)
    os.makedirs(os.path.join(work, "tmp"))

    wl = workloads.WORKLOADS[args.workload](work=work, seed=args.seed)
    try:
        t0 = time.perf_counter()
        wl.inputs()  # not part of set-up time
        print(f"perfbench: inputs {time.perf_counter() - t0:.3f} s", file=sys.stderr)
        setup_s, get_spark_s = [], []
        for k in range(N_SETUPS):
            t0 = time.perf_counter()
            spark = get_spark()
            t1 = time.perf_counter()
            wl.warm(spark, k)
            setup_s.append(time.perf_counter() - t0)
            get_spark_s.append(t1 - t0)
            print(f"perfbench: setup {k}: get_spark {t1 - t0:.3f} s, "
                  f"warm-up {setup_s[-1] - (t1 - t0):.3f} s", file=sys.stderr)
            if k < N_SETUPS - 1:
                procs.stop_spark(spark)  # so every set-up starts cold
        t0 = time.perf_counter()
        wrong = wl.check_warm()
        print(f"perfbench: warm-up check {time.perf_counter() - t0:.3f} s", file=sys.stderr)
        tracer = Tracer() if args.trace else None
        j0 = cpu_jiffies()
        samples = measure(wl, spark, args.seconds, wrong, tracer, layers)
        j1 = cpu_jiffies()
        t0 = time.perf_counter()
        try:
            wl.finish(spark)
        except Exception:
            traceback.print_exc()
            wl.problems.append("final check raised")
        print(f"perfbench: final check {time.perf_counter() - t0:.3f} s", file=sys.stderr)
        failed = sum(1 for s in samples if not s.ok)
        out = {
            "workload": wl.name,
            "cores": cores,
            "attempted": len(samples),
            "failed": failed,
            "problems": wl.problems,
            "samples": samples,
            # share of CPU time the hypervisor gave to other tenants
            # while the ops ran: a high share explains a slow run
            "steal": (j1[0] - j0[0]) / max(1, j1[1] - j0[1]) if j0 and j1 else None,
        }
        if args.trace:
            out["metrics"] = layers.compute(wl, tracer, samples, get_spark_s)
            units = dict(layers.metric_names())
            out["units"] = units
            out["self"] = tracer.self_times()
            os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
            out["spans_file"] = os.path.join(
                STATE, "out", f"trace-{wl.name}-seed{args.seed}.json"
            )
            tracer.dump(out["spans_file"], {"metrics": out["metrics"], "self_s": out["self"]})
        else:
            gated, report = wl.e2e(samples)
            out["metrics"] = {"setup_s": statistics.median(setup_s), **gated}
            out["units"] = GATED_UNITS
            out["report"] = report
            out["setups"] = setup_s
        return out
    finally:
        procs.stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def report(res: dict, trace: bool) -> None:
    """Human-readable lines, then the one-line JSON result."""
    import layers

    print(f"# {res['workload']} on local[{res['cores']}], one client, closed loop")
    att, failed = res["attempted"], res["failed"]
    print(f"{'error_rate':32s} {failed / att if att else 1.0:12.6f}  ({failed}/{att} ops failed)")
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}")
    if res["steal"] is not None:
        print(f"{'host_steal_share':32s} {res['steal']:12.6f}  (CPU time stolen by "
              "the hypervisor during the ops; not a metric of the program)")
    by: dict[str, list[float]] = {}
    for s in res["samples"]:
        by.setdefault(s.kind, []).append(s.seconds)
    for kind, xs in by.items():
        print(f"  {kind:30s} n={len(xs):<3d} median={statistics.median(xs):.4f} "
              f"min={min(xs):.4f} max={max(xs):.4f} s")
    if not trace:
        print(f"{'setups_s':32s} {', '.join(f'{s:.3f}' for s in res['setups'])}")
        for name, (value, unit) in res["report"].items():
            print(f"{name:32s} {value:12.6f}  {unit}")
    else:
        print("self time by span name, summed over the traced ops:")
        for name, secs in sorted(res["self"].items(), key=lambda kv: -kv[1]):
            print(f"  {name:40s} {secs:10.4f} s")
        print("layer metric -> end-to-end metric it should move:")
        for k, v in layers.LAYER_MAP.items():
            print(f"  {k:48s} {v}")
        print(f"spans written to {res['spans_file']}")
    for name, value in res["metrics"].items():
        print(f"{name:40s} {value:14.6f}  {res['units'][name]}")
    print(json.dumps({
        "correct": failed == 0 and not res["problems"],
        "attempted": att,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": res["units"][k]} for k, v in res["metrics"].items()
        },
    }))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    names = ("etl_lakehouse", "queries")  # the keys of workloads.WORKLOADS
    if args.workload not in names:
        ap.error(f"--workload must be one of {', '.join(names)}")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    report(run(args), bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
