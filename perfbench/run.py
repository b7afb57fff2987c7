"""Run one benchmark workload against ``psweep_spark`` and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload sweep_interactive --seed 1 \\
        --seconds 12 --trace 0 [--smoke]

Workloads: ``sweep_interactive`` and ``corpus_queries`` (see
``perfbench/workloads.py``), each one client in one process on a fresh
``local[nproc]`` session.  A run

1. makes the workload's inputs and expected results from ``--seed``;
2. starts the session and makes the workload's first call; ``setup_s``
   runs from the start of this script to the return of that call, less
   the time of step 1 and of the output checks;
3. runs one untimed cycle of the workload's fixed set of calls, past
   the steepest part of the JIT's slope;
4. times ``cycles(--seconds)`` cycles.  ``op_s`` and ``read_s`` are the
   medians over those cycles of the summed latency of a cycle's op
   calls and of its read calls.  Every run times the same cycles of
   the session, so runs compare like with like.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` traces
steps 2 and 3, then, in place of step 4, runs three cycles, untraced,
traced, untraced (every cycle starts from the same state, so they do
the same work, and the untraced pair brackets the traced cycle's place
on the JIT's slope).  It prints the per-layer metrics rolled up over
the traced cycle, with ``trace.overhead_s`` the traced cycle minus the
median untraced cycle and ``trace.bookkeeping_s`` the tracer's own
time in the traced cycle.  ``--smoke`` shrinks every input for the
benchmark's own tests.

The line ``perfbench-cycles {json}`` holds every cycle's sums and wall
time, and in a traced run the pair cycles and the per-op-kind roll-up.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Scratch files
(databases, tables, Spark local dirs, warehouse, checkpoints) live in a
per-run directory under ``.perfbench_tmp/`` that is removed on exit.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {"setup_s": "s", "op_s": "s", "read_s": "s"}
# untimed cycles before the timed ones.  The first cycle after the
# first call is the steep part of the JIT's slope: on a 4-core host it
# reads up to ~1.5x the next one on sweep, and on corpus it is the
# cold pass (~4x: first use of each operator, the streaming gate's
# index provisioning).  Per-cycle time then keeps falling slowly for
# ~7 cycles as the JVM compiles Spark's code.  Warming to the flat
# part does not fit the time the benchmark's runs may take, so every
# run times the same cycles of the slope: runs compare like with like,
# but sit above steady state
WARM_CYCLES = 1
CYCLE_S = 6  # nominal seconds per cycle on a 4-core host


def cycles(seconds: int) -> int:
    """Timed cycles per run: the same number on every commit."""
    return max(2, round(seconds / CYCLE_S))


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop(spark) -> None:
    """Stop the session, then wait for the driver JVM and the Python
    worker daemon it started to exit."""
    proc = spark.sparkContext._gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _install_wrappers(tracer) -> None:
    from psweep_spark import database, metastore, runner

    tracer.wrap(runner, "prepare_params_df", "runner.prepare_params_df_s")
    tracer.wrap(database.Database, "append", "database.append_s")
    tracer.wrap(database.Database, "reserve_seqs", "database.reserve_seqs_s")
    tracer.wrap(database.Database, "load", "database.load_s")
    tracer.wrap_lock(database.Database, "writer_lock", "database.lock_held_s")
    tracer.wrap_put(metastore.LocalFSMetaStore, "put_if_absent")


def bench(args, tmp: str) -> int:
    if not os.path.isdir(os.path.join(ROOT, "psweep_spark")):
        print(f"perfbench: no psweep_spark package under {ROOT}", file=sys.stderr)
        return 2
    local = os.path.join(tmp, "local")
    os.makedirs(local)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        # no JVM perf-data file under /tmp either
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)

    import psweep_spark as ps

    from perfbench import trace, workloads

    wl = workloads.WORKLOADS[args.workload](ps, tmp, args.seed, args.smoke)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = ps.get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.checkpoint.dir": os.path.join(tmp, "checkpoints"),
        },
    )
    session_s = time.perf_counter() - t0
    try:
        wl.spark = spark
        tracer = trace.Tracer(spark) if args.trace else trace.NullTracer()
        if args.trace:
            _install_wrappers(tracer)
            wl.tracer = tracer
        tracer.phase, tracer.active = trace.SETUP, bool(args.trace)
        wl.first()
        setup_s = time.perf_counter() - T_START - prepare_s - wl.check_s
        tracer.phase = trace.WARM
        n = 1 if args.smoke else cycles(args.seconds)
        done = [wl.run_cycle()
                for _ in range(WARM_CYCLES + (0 if args.trace else n))]
        tracer.phase, tracer.active = "", False
        timed = done[WARM_CYCLES:]
        if args.trace:
            # untraced, traced, untraced: the untraced pair brackets
            # the traced cycle's place on the JIT's slope
            timed, traced, spans = [], [], []
            bookkeeping0 = tracer.bookkeeping_s
            for on in (False, True, False):
                tracer.active = on
                first_call = len(tracer.calls)
                (traced if on else timed).append(wl.run_cycle())
                if on:
                    spans.append(range(first_call, len(tracer.calls)))
            bookkeeping = (tracer.bookkeeping_s - bookkeeping0) / len(traced)
            tracer.phase, tracer.active = trace.AFTER, True
            wl.after()
            tracer.active = False

        record = {"workload": args.workload, "seed": args.seed,
                  "cycles": done, "timed": len(timed)}
        if args.trace:
            layers = dict.fromkeys(trace.LAYER_METRICS, 0.0)
            layers.update(tracer.rollup(spans))
            layers["session.get_spark_s"] = session_s

            def wall(cs):
                return statistics.median(c["op"] + c["read"] for c in cs)

            layers["trace.overhead_s"] = wall(traced) - wall(timed)
            layers["trace.bookkeeping_s"] = bookkeeping
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in trace.LAYER_METRICS.items()}
            record.update(pairs={"traced": traced, "untraced": timed},
                          by_kind=tracer.by_kind())
            tracer.close()
        else:
            e2e = {
                "setup_s": setup_s,
                "op_s": statistics.median(c["op"] for c in timed),
                "read_s": statistics.median(c["read"] for c in timed),
            }
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in END_TO_END.items()}
    finally:
        _stop(spark)

    print("perfbench-cycles " + json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["sweep_interactive", "corpus_queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs and one timed cycle, for the "
                   "benchmark's own tests")
    args = p.parse_args(argv)
    base = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        return bench(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
