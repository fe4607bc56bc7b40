#!/usr/bin/env python3
"""posmspark benchmark: one seeded workload, timed end to end, outputs
checked against the repo's DuckDB oracles.

  python3 perfbench/run.py --workload near_dup --seed 1 --seconds 6 \
      --trace 0

Run from the root of a checkout. Everything the run writes (inputs,
Spark's scratch and shuffle files, checkpoints, traces) goes under
`.perfbench_work/` there. The last line of standard output is one JSON
object {correct, attempted, failed, metrics}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced
run (which also prints a per-layer table before it).
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: set-ups per run; the first starts the JVM, the rest stop the session
#: and build it again in the same JVM
SETUPS = 3
#: the run gives up (no result, non-zero exit) after this many seconds
DEADLINE_S = 170
DRIVER_MEM = "4g"


class Deadline(Exception):
    pass


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def pin_environment() -> None:
    """The run environment, fixed before the JVM starts: local[nproc],
    a driver heap well under host RAM, posmspark importable by the
    Python workers, and every scratch file inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "POSMSPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    os.chdir(WORK)
    sys.path[:0] = [ROOT, HERE]


def setup_session():
    """SETUPS session set-ups: get_spark() (Python worker prewarm
    included) then pipeline.default_prepared(). Returns the session and
    the (total, get_spark, prepare) seconds of each."""
    from posmspark import pipeline
    from posmspark.session import get_spark

    times = []
    spark = None
    for k in range(SETUPS):
        t0 = T_START if k == 0 else time.monotonic()
        if spark is not None:
            spark.stop()
            t0 = time.monotonic()
            getattr(pipeline, "_PREPARED_CACHE", {}).clear()
        spark = get_spark("perfbench")
        t1 = time.monotonic()
        pipeline.default_prepared()
        t2 = time.monotonic()
        times.append((t2 - t0, t1 - t0, t2 - t1))
    return spark, times


def hard_exit(*_) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.proc.kill()
        gw.proc.wait(timeout=10)
    os._exit(3)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def timed_passes(ctx, wl, seconds: float, first: int = 0) -> list[dict]:
    """Passes until `seconds` have gone (at least one), each checked
    after it is timed, with the bytes the JVM wrote to storage during
    the pass."""
    from spans import write_bytes

    jvm = jvm_pid()
    out = []
    t0 = time.monotonic()
    while not out or time.monotonic() - t0 < seconds:
        i = first + len(out)
        w0 = write_bytes(jvm)
        res = wl.run_pass(ctx, i)
        res["write_bytes"] = write_bytes(jvm) - w0
        log(f"pass {i}: " + " ".join(f"{k} {res[k + '_s']:.3f}s"
                                      for k in ctx.runs))
        wl.check(ctx, i, res)
        out.append(res)
    return out


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def end_to_end(wl, setups, passes) -> dict:
    med = lambda k: statistics.median(p[k] for p in passes)  # noqa: E731
    wall = med("base_s")
    return {
        "setup_s": (statistics.median(s[0] for s in setups), "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (wl.n_docs / wall, "docs/s"),
        "rerun_s": (med("changed_s"), "s"),
        "write_amp": (med("write_bytes") / wl.input_bytes, "ratio"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "posmspark", "pipeline.py")):
        print(f"posmspark/ not found under {ROOT}: run from the root of a "
              "checkout", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    pin_environment()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    def on_alarm(*_):
        raise Deadline(f"no result within {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    spark = None
    try:
        spark, setups = setup_session()
        log(f"set-up {[round(s[0], 3) for s in setups]}")
        import gen

        for d in ("inputs", "passes"):
            gen.reset_dir(os.path.join(WORK, d))
        ctx = workloads.Ctx(spark, args.seed, WORK)
        wl = workloads.WORKLOADS[args.workload]()
        wl.prepare(ctx)
        log("inputs ready")
        wl.warm_up(ctx)
        log("warm-up done")
        if args.trace:
            import layers

            metrics = layers.traced_run(ctx, wl, setups, timed_passes)
        else:
            passes = timed_passes(ctx, wl, args.seconds)
            log(f"{len(passes)} timed passes")
            metrics = end_to_end(wl, setups, passes)
        signal.alarm(0)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        # a JVM that will not stop is killed rather than outliving us
        signal.signal(signal.SIGALRM, hard_exit)
        signal.alarm(20)
        shutdown(spark)
        signal.alarm(0)
    for f in ctx.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"{args.workload} seed {args.seed}: failed_frac "
          f"{len(ctx.failures)}/{ctx.attempted} checked operations")
    if not args.trace:
        for k, (v, u) in metrics.items():
            print(f"  {k:<14} {v:>14.6g} {u}")
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
