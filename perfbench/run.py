"""Oracle-checked benchmark of the refined_spark engine.

    python3 perfbench/run.py --workload er_lsh_store --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --prepare --workload catalog_sf01 --seed 1
    python3 perfbench/run.py --selftest

Run from the repository root. One process, one Spark session on
local[<nproc>] with a heap sized from MemTotal, one closed-loop client: the
next iteration starts once the previous output went through the noop sink.
Reference answers are made apart from the engine by `--prepare`, never
inside a timed run: the catalog's are kept in perfbench/data, and a run of
a seeded ER corpus that has none yet makes them before anything starts.
The last stdout line is one JSON object: correct, attempted, failed and the
metrics (end-to-end ones with --trace 0; per-layer ones from one traced
iteration with --trace 1).
"""

from __future__ import annotations

import argparse
import gzip
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACES = os.path.join(HERE, "traces")
DEADLINE_S = 170

sys.path.insert(0, HERE)
import probe  # noqa: E402

END_TO_END = {"setup_s": "s", "iter_s": "s", "cpu_s": "s", "written_mb": "MB",
              "peak_rss_mb": "MB"}
ER_STAGES = ["mentions", "candidates", "coref", "resolved", "clusters", "final_join"]
STAGE_FIELDS = {"wall_s": "s", "cpu_s": "s", "py_cpu_s": "s", "gc_s": "s",
                "shuffle_write_mb": "MB", "spill_mb": "MB", "tasks": "count",
                "task_skew": "ratio", "rows": "count"}
PAIR_FIELDS = {"py_cpu_s": "s", "shuffle_write_mb": "MB", "task_skew": "ratio",
               "rows": "count"}


def per_layer_units() -> dict[str, str]:
    from catalog import PAIR_QUERIES, QUERIES

    units = {f"er.{s}.{f}": u for s in ER_STAGES for f, u in STAGE_FIELDS.items()}
    units.update({"er.candidates.per_mention": "ratio", "snapshots.write_mb": "MB",
                  "er.resume.wall_s": "s", "blocking.recall": "ratio"})
    units.update({f"q.{q}.wall_s": "s" for q in QUERIES})
    units.update({f"q.{q}.{f}": u for q in PAIR_QUERIES for f, u in PAIR_FIELDS.items()})
    units.update({"host.busy_cores": "cores", "host.sys_cores": "cores",
                  "host.steal_cores": "cores", "iter.wall_s": "s",
                  "iter.outside_calls_s": "s"})
    return units


# ----------------------------------------------------------------- machine

def machine() -> tuple[int, int]:
    """(cores, JVM heap MB). The heap leaves a quarter of RAM to the OS and
    to shuffle files in the page cache, 1 GiB per core to the Python
    workers, and takes half of what remains."""
    cores = int(subprocess.run(["nproc"], capture_output=True, text=True,
                               check=True).stdout)
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:")) // 1024
    return cores, max(1024, (mem_mb * 3 // 4 - cores * 1024) // 2)


# ---------------------------------------------------------- inputs/answers

def _digest(inp: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(inp)):
        h.update(name.encode())
        with open(os.path.join(inp, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def prepare(mod, seed: int) -> None:
    """Make the inputs (of a seeded workload) unless they are complete, and
    the reference answers, keyed on the seed and the input digest. Untimed;
    never called inside a run's measurement."""
    inp, path = mod.locate(seed)
    if mod.SEEDED and not os.path.exists(os.path.join(inp, "_DONE")):
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
        os.makedirs(inp)
        mod.make_inputs(inp, seed)
        open(os.path.join(inp, "_DONE"), "w").close()
    answers = mod.make_answers(inp)
    answers.update(seed=seed if mod.SEEDED else None, digest=_digest(inp))
    with gzip.open(path + ".tmp", "wt") as f:
        json.dump(answers, f)
    os.replace(path + ".tmp", path)


def load_answers(mod, seed: int) -> tuple[str, dict]:
    """The input dir and the answer set. A missing answer set of a seeded
    workload is made first: a fresh checkout has none for a new seed. A
    stale one (other seed or input digest), or a missing one of a fixed
    input, refuses the run."""
    inp, path = mod.locate(seed)
    if mod.SEEDED and not os.path.exists(path):
        prepare(mod, seed)
    try:
        with gzip.open(path, "rt") as f:
            answers = json.load(f)
    except OSError as e:
        raise SystemExit(f"no answer set ({e}); run with --prepare")
    if (answers.get("seed") != (seed if mod.SEEDED else None)
            or answers.get("digest") != _digest(inp)):
        raise SystemExit(f"answer set {path} is stale; run with --prepare")
    return inp, answers


# --------------------------------------------------------------- the run

def start_session(cores: int, heap_mb: int, tmp: str):
    from refined_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:-UsePerfData"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """spark.stop() leaves the JVM running for seconds after this process
    exits: close its stdin (the gateway exits on EOF) and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    except Exception as e:  # a broken gateway must not stop the teardown
        print(f"spark.stop failed: {e!r}", file=sys.stderr)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(mod, inp, answers, work, cores, heap_mb, seconds, trace, seed,
            tally) -> dict:
    """Set up, then run whole iterations for `seconds`. Every iteration,
    the warm-up too, attempts `ops` operations; `tally` counts them, and
    an iteration that raises counts all of them failed.

    BENCHMARK.json sets `seconds` below one iteration, so every run times
    exactly one, on a fast host as on a slow one. A window near one
    iteration's length made the count flip between one and two from run to
    run, and the first timed iteration, which still pays JIT compilation
    (about 10 s more JVM CPU than the next), entered some medians whole and
    others halved: iter_s and cpu_s then spread 0.24-0.39 over ten seeds."""
    from pyspark import SparkContext

    def attempt(fn, *args, **kw):
        tally["attempted"] += mod.Workload.ops
        try:
            return fn(*args, **kw)
        except BaseException:
            tally["failed"] += mod.Workload.ops
            raise

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spark = procs = None
    try:
        t0 = time.perf_counter()
        spark = start_session(cores, heap_mb, tmp)
        procs = probe.ProcTree(SparkContext._gateway.proc.pid)
        procs.start_sampling()
        wl = mod.Workload(spark, inp, work, answers)
        attempt(wl.warm_up)
        setup_s = time.perf_counter() - t0
        status = probe.StatusStore(spark)
        if trace:
            return attempt(traced, wl, spark, status, procs, seed)
        iters = []
        t_end = time.perf_counter() + seconds
        while not iters or time.perf_counter() < t_end:
            group = f"iter-{len(iters)}"
            status.group(group)
            cpu0 = sum(procs.cpu_s())
            r = attempt(wl.iterate)
            r["cpu_s"] = sum(procs.cpu_s()) - cpu0
            r["written_mb"] = (r.get("written_mb", 0.0)
                               + status.stages(group)["shuffle_write_mb"])
            iters.append(r)
        procs.stop_sampling()
        print("iterations: " + json.dumps(
            [{k: round(v, 3) for k, v in i.items() if isinstance(v, float)}
             for i in iters]), file=sys.stderr)
        med = lambda k: statistics.median(i[k] for i in iters)  # noqa: E731
        return {"setup_s": setup_s, "iter_s": med("wall_s"), "cpu_s": med("cpu_s"),
                "written_mb": med("written_mb"), "peak_rss_mb": procs.peak_mb}
    finally:
        if procs is not None:
            procs.stop_sampling()
        if spark is not None:
            stop_session(spark)


def traced(wl, spark, status, procs, seed) -> dict:
    """One iteration with every layer a span and a job group."""
    tracer = probe.Tracer(f"{wl.name}-s{seed}")
    ledger = probe.Ledger(tracer, status, procs)
    host0 = probe.host_jiffies()
    with tracer.span("iteration") as it:
        r = wl.iterate(ledger=ledger)
    host1 = probe.host_jiffies()
    layers = ledger.finish()
    wall = r["wall_s"]  # the timed phases: excludes the checks between them
    calls = [s for s in tracer.spans if s["name"].endswith(".call")]
    m = dict.fromkeys(per_layer_units(), 0)
    for name, v in layers.items():
        for f in STAGE_FIELDS:
            if f"{name}.{f}" in m and f in v:
                m[f"{name}.{f}"] = v[f]
    for q, n in getattr(wl, "rows", {}).items():
        if f"q.{q}.rows" in m:
            m[f"q.{q}.rows"] = n
    if wl.name == "er_lsh_store":
        from er import recall

        m["er.final_join.rows"] = r["output_rows"]
        m["er.candidates.per_mention"] = (
            layers["er.candidates"]["rows"] / layers["er.mentions"]["rows"])
        m["snapshots.write_mb"] = r["written_mb"]
        m["blocking.recall"] = recall(r["candidates"], wl.answers, wl.dictionary)
    tick = probe.CLK_TCK * (it["end"] - it["start"])
    m.update({"host.busy_cores": (host1[0] - host0[0]) / tick,
              "host.sys_cores": (host1[1] - host0[1]) / tick,
              "host.steal_cores": (host1[2] - host0[2]) / tick,
              "iter.wall_s": wall,
              "iter.outside_calls_s": wall - sum(s["end"] - s["start"] for s in calls)})
    os.makedirs(TRACES, exist_ok=True)
    with open(os.path.join(TRACES, f"{tracer.trace_id}.json"), "w") as f:
        json.dump({"spans": tracer.spans, "layers": layers}, f, indent=1)
    return m


# -------------------------------------------------------------------- main

def _raise(exc):
    def handler(signum, frame):
        raise exc
    return handler


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["er_lsh_store", "catalog_sf01"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only make the inputs and reference answers")
    ap.add_argument("--selftest", action="store_true",
                    help="feed each checker a wrong output; each must fail")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    if args.selftest:
        import selftest

        return selftest.main()
    if args.workload is None:
        ap.error("--workload is required")
    import refined_spark  # noqa: F401  (fail before making any directory)

    mod = __import__("er" if args.workload == "er_lsh_store" else "catalog")
    if args.prepare:
        prepare(mod, args.seed)
        return 0
    inp, answers = load_answers(mod, args.seed)

    cores, heap_mb = machine()
    work = os.path.join(HERE, "work", str(os.getpid()))
    os.makedirs(work)
    # shuffle goes to the work dir: the run writes only inside its checkout
    os.environ.pop("REFINED_SPARK_TMPFS_SHUFFLE", None)
    os.environ.update({"SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                       "SPARK_DRIVER_MEM": f"{heap_mb}m",
                       "TMPDIR": os.path.join(work, "tmp")})
    probe.become_subreaper()
    signal.signal(signal.SIGTERM, _raise(SystemExit(143)))
    signal.signal(signal.SIGALRM, _raise(TimeoutError(f"run exceeded {DEADLINE_S}s")))
    signal.alarm(DEADLINE_S)
    tally = {"attempted": 0, "failed": 0}
    try:
        metrics = measure(mod, inp, answers, work, cores, heap_mb, args.seconds,
                          args.trace, args.seed, tally)
    except Exception as e:  # a failed check, a Spark error, the deadline
        print(f"run failed: {e!r}", file=sys.stderr)
        metrics = None
        if not tally["attempted"]:  # set-up failed before the first operation
            tally = {"attempted": mod.Workload.ops, "failed": mod.Workload.ops}
    finally:
        signal.alarm(0)
        probe.reap_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # unless a concurrent run uses it
        except OSError:
            pass
    units = per_layer_units() if args.trace else END_TO_END
    print(json.dumps({
        "correct": metrics is not None, **tally,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in (metrics or {}).items()},
    }))
    return 0 if metrics is not None else 1


if __name__ == "__main__":
    sys.exit(main())
