#!/usr/bin/env python3
"""Same-host benchmark of hope_graph_builder_spark: one seeded workload
per invocation, end to end (``--trace 0``) or layer by layer
(``--trace 1``).

    python3 perfbench/run.py --workload noise_resume --seed 1 --seconds 12 --trace 0

Run it from the repository root; it builds nothing and imports the
package from there. One client process runs one job at a time (a closed
loop) on ``local[4]``. An invocation:

1. sets up three times: a Spark session (the first start launches the
   JVM) and the seeded inputs, written to parquet and read back;
2. warms up once: the workload's own warm-up, then untimed reps of the
   job, at least the workload's ``warm_min``, until two in a row agree
   within WARM_TOL or the workload's ``warm_cap_s`` of them has run.
   ``setup_s`` is the median set-up plus the warm-up;
3. runs the job back to back for ``--seconds`` (at least one timed
   rep) and reports the median wall time (``wall_s``) and input
   rows per second at that median (``input_rows_per_s``);
4. samples the RSS of its whole process tree (client, driver JVM,
   Python workers) from /proc every 50 ms during 1 to 3
   (``peak_rss_mb``);
5. checks every rep's output, untimed ones too (see each workload's
   ``check``).

With ``--trace 1`` the timed reps are replaced by traced reps, for
``--seconds`` (at least one): the job as a chain of layer spans (see
spans.py), whose medians are the per-layer metrics.
``trace.overhead_s`` is the time the spans' own bookkeeping adds to a
traced rep (see ``Tracer.metrics``). A traced run also prints the
workload's input properties. A layer the workload does not call
reports 0.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}; the metric names and units are BENCHMARK.json's. A wrong
output, a rep that raised or one that ran past its timeout counts as
failed, and the exit code is then 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
MAX_RAISED = 2  # reps that may raise before the timed loop gives up
SETUPS = 3
# after the workload's own warm-up, untimed reps of the job (at least the
# workload's warm_min) run until two in a row agree within WARM_TOL, or
# until the workload's warm_cap_s of them has run
WARM_TOL = 0.10
REP_TIMEOUT_S = 90.0
# session shape (recorded in perfbench/README.md): local[4], a driver
# heap well below the 15 GiB of the baseline host, shuffle and spill files inside
# the checkout
CORES = 4
DRIVER_MEM = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants, read from
    /proc while the benchmark runs."""

    def __init__(self, pid: int, every_s: float = 0.05):
        super().__init__(daemon=True)
        self.pid, self.every_s = pid, every_s
        self.peak_kb = 0
        self._halt = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def _rss_kb(self) -> int:
        # a child spawned with CLONE_VM (posix_spawn, before its exec)
        # shares its parent's memory and reports the same statm line:
        # count each distinct line once
        seen = set()
        for p in self._tree():
            try:
                with open(f"/proc/{p}/statm") as f:
                    seen.add(f.read())
            except OSError:
                continue
        return sum(int(line.split()[1]) for line in seen) * self._page_kb

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, self._rss_kb())
            self._halt.wait(self.every_s)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        return self.peak_kb / 1024.0


def pin_environment(root: str, work: str) -> None:
    """Fix the session shape whatever the caller's environment says."""
    for k in ("SPARK_GRAFT_EXECUTORS", "SPARK_GRAFT_AQE", "HGBS_PERSIST",
              "HGBS_WEBTEXT_CKPT", "HGBS_CURATION_CKPT", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # Python workers import the package and these modules
        PYTHONPATH=os.pathsep.join([root, HERE]),
    )


def start_session(work: str):
    from hope_graph_builder_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(app="perfbench", cpus=CORES, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: no heap resizing between runs
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session, then the driver JVM, and wait for it (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def percentile_line(values: list[float]) -> str:
    """Median, sample count and the highest percentile that has at
    least ten samples beyond it (none below 20 samples)."""
    n = len(values)
    line = f"median {statistics.median(values):.4f} n={n}"
    if n >= 20:
        p = int(100 * (1 - 10 / n))
        q = statistics.quantiles(values, n=100, method="inclusive")[p - 1]
        line += f" p{p} {q:.4f}"
    else:
        line += " (no percentile with >=10 samples beyond it)"
    return line


def timed_rep(spark, wl, ctx, inp, i):
    """(wall seconds, digest, output handle); jobs still running past
    the rep timeout are cancelled, which makes the rep raise."""
    sc = spark.sparkContext
    handle = wl.prepare(ctx, inp, i)
    timer = threading.Timer(REP_TIMEOUT_S, sc.cancelAllJobs)
    timer.start()
    try:
        t0 = time.perf_counter()
        out = wl.rep(ctx, inp, handle)
        wall = time.perf_counter() - t0
    finally:
        timer.cancel()
    return wall, wl.digest(ctx, inp, handle, out), handle


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hope_graph_builder_spark", "__init__.py")):
        print("perfbench: run from the repository root (no hope_graph_builder_spark/ here)",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    pin_environment(root, work)
    sys.path[:0] = [root, HERE]

    import workloads

    wl = workloads.make(args.workload)
    sampler = RssSampler(os.getpid())
    sampler.start()
    try:
        return run(args, spec, wl, work, sampler, workloads)
    finally:
        if sampler.is_alive():
            sampler.stop()
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec, wl, work, sampler, workloads) -> int:
    from spans import Tracer

    from pyspark import SparkContext

    parts = {"session.start_s": [], "synth.materialize_s": []}
    spark = ctx = inp = None
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        ctx = workloads.Ctx(spark, args.seed, work)
        inp = wl.setup(ctx, k)
        parts["session.start_s"].append(t1 - t0)
        parts["synth.materialize_s"].append(time.perf_counter() - t1)
    t0 = time.perf_counter()
    wl.warmup(ctx, inp)
    walls, digests, raised, last = [], [], 0, None
    warm = []
    while len(warm) < wl.warm_min or (sum(warm) < wl.warm_cap_s and not (
            len(warm) > 1 and abs(warm[-1] - warm[-2]) <= WARM_TOL * warm[-2])):
        wall, dig, last = timed_rep(spark, wl, ctx, inp, len(digests))
        warm.append(wall)
        digests.append(dig)
    warmup_s = time.perf_counter() - t0
    setups = [a + b for a, b in zip(*parts.values())]

    deadline = time.perf_counter() + args.seconds
    chain_reps = 0
    if args.trace:
        tracer = Tracer(spark)
        while not chain_reps or time.perf_counter() < deadline:
            # a chain that ends in the whole job returns its output, which
            # is checked like a timed rep's
            done = wl.traced_rep(ctx, inp, tracer, chain_reps)
            chain_reps += 1
            if done is not None:
                last = done[0]
                digests.append(wl.digest(ctx, inp, *done))
    else:
        while not walls or time.perf_counter() < deadline:
            try:
                wall, dig, last = timed_rep(spark, wl, ctx, inp, len(digests))
                walls.append(wall)
                digests.append(dig)
            except Exception:  # a failed rep is counted and reported, not fatal
                traceback.print_exc()
                raised += 1
                if raised > MAX_RAISED:
                    break
    peak_mb = sampler.stop()

    t0 = time.perf_counter()
    problems = wl.check(ctx, inp, digests, last)
    check_s = time.perf_counter() - t0
    attempted = len(digests) + raised
    bad_reps = {r for r, _ in problems if r is not None}
    failed = attempted if any(r is None for r, _ in problems) else raised + len(bad_reps)
    for r, msg in problems:
        print(f"CHECK FAILED ({wl.name}, {'all reps' if r is None else f'rep {r}'}): {msg}",
              file=sys.stderr)

    print(f"# {wl.name} seed={args.seed} local[{CORES}] driver={DRIVER_MEM} "
          f"spark={SparkContext._active_spark_context.version}")
    if args.trace:
        print(f"# input properties: {json.dumps(wl.properties(ctx, inp))}")
    values: dict[str, float] = {}
    if walls:
        med = statistics.median(walls)
        values.update(wall_s=med, input_rows_per_s=wl.rows / med)
        print(f"# wall_s (s): {percentile_line(walls)} reps {[round(w, 3) for w in walls]}")
    values.update(setup_s=statistics.median(setups) + warmup_s, peak_rss_mb=peak_mb)
    print(f"# setup_s (s): {values['setup_s']:.4f} = session+inputs {percentile_line(setups)} "
          f"(first {setups[0]:.3f}) + warm-up {warmup_s:.4f} n=1 "
          f"(untimed reps {[round(w, 3) for w in warm]})")
    print(f"# peak_rss_mb (MB): {peak_mb:.1f} n=1")
    print(f"# failed_frac: {failed}/{attempted} = {failed / max(attempted, 1):.4f}")
    print(f"# output checks took {check_s:.1f} s")

    if args.trace:
        layer = {k: statistics.median(v) for k, v in parts.items()}
        layer["warmup_s"] = warmup_s
        per_rep = [tracer.metrics(r) for r in range(chain_reps)]
        for key in per_rep[0]:
            layer[key] = statistics.median(m[key] for m in per_rep if key in m)
        for k in sorted(layer):
            print(f"#   {k} = {layer[k]:.6g}")
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-{wl.name}-s{args.seed}.jsonl"))
        wanted, values = spec["per_layer"], layer
    else:
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    correct = failed == 0 and not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
