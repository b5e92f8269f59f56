"""CDC-ingest benchmark: one workload per run, or all of them.

Run from the repository root:

    python3 perfbench/run.py --workload view_follow --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py                  # every workload, untraced + traced

Workloads (``workloads.py``): ``bulk_backfill``, ``mor_read_write`` and
``view_follow`` are in BENCHMARK.json; ``steady_cow`` runs by hand and
in ``--workload all``. A run builds a Spark session on
``local[min(2, nproc)]``, generates its inputs from ``--seed``, sets up
several times (the last set-up carries on), runs warm-up steps and then
the timed steps as a closed loop with one client, checks the final
tables against an independent reference (``reference.py``), and prints
an ``info`` line (cores, heap, Avro decoder, pre-run loadavg and steal%,
phase times, the timed batch series with the jobs and tasks of each,
the wall-time figures, ``failed_frac``) and, last, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

End-to-end metrics (``--trace 0``):

* ``setup_s``: wall time of session build + median of the set-ups +
  follower bootstrap + warm-up steps; input generation is timed apart;
* ``jobs_per_batch`` / ``tasks_per_batch``: Spark jobs, and tasks of
  their executed stages, that applying one micro-batch starts
  (``process_batch``; decode + ``apply_batch`` in ``bulk_backfill``),
  mean over the timed steps: the fixed cost a micro-batch pays;
* ``lookup_scan_bytes``: bytes of the files a ``conv_id`` point lookup's
  plan reads on the final table, mean over the lookup keys;
* ``write_bytes_per_event``: parquet bytes the timed steps added under
  the table's data dir, compaction included, per event;
* ``peak_rss_mb``: ``VmHWM`` of the Spark JVM.

Apart from ``setup_s`` these are amounts of work done, not times: on a
shared 4-core host the middle half of ten runs of the same code spread
over half the median in every wall time of the timed phase, and CPU
times moved with them (runs at 2-4% steal were 25-30% slower in both).
Those times are still measured and printed, on the info line
(``wall``) and as ``traced.*`` in the traced run:

* ``events_per_s``: events applied by the timed steps / their wall time
  (a ``mor_read_write`` step includes its reads);
* ``batch_s_p50`` / ``batch_s_tail``: median / highest percentile with
  ten samples beyond it (the maximum below eleven samples, as labelled)
  of the call the user waits on;
* ``read_s_p50`` / ``lookup_s_p50``: median full read
  (``read().count()``) / point lookup (``LakeTable.count(where=...)``);
  ``mor_read_write`` reads after every batch, the other workloads probe
  their final table.

``--trace 1`` wraps each layer's entry points in spans (``spans.py``)
and reports per-layer metrics, means per timed step, beside the traced
run's own end-to-end figures; ``--workload all`` prints the difference
to an untraced run as the tracing overhead. Spans of a traced run are
written to ``.perfbench_out/``. Scratch data lives in
``.perfbench_work/`` and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Spark task slots: half of a 4-core host, so that task threads, the
#: driver thread, JIT, GC and Python workers together do not ask for
#: more cores than the host gives
CORES = 2
#: set-ups per run; setup_s takes their median
SETUPS = 3
#: full reads (and lookups per key) after the timed phase, for
#: workloads that read nothing while timed
READS_AFTER = 3
#: figures printed with --trace 0, in order, with their units
E2E = [("setup_s", "s"), ("jobs_per_batch", "count"),
       ("tasks_per_batch", "count"), ("lookup_scan_bytes", "B"),
       ("write_bytes_per_event", "B"), ("peak_rss_mb", "MB")]
#: wall-time figures of the timed phase: printed on the info line and by
#: the traced run, but no end-to-end metric, as a shared host moves them
#: too far between runs of the same code
WALL = [("events_per_s", "1/s"), ("batch_s_p50", "s"),
        ("batch_s_tail", "s"), ("read_s_p50", "s"), ("lookup_s_p50", "s")]


def cpu_stat() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail_percentile(xs: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are ten samples or fewer (then nothing has ten
    beyond it), which the label says."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], f"max of n={n} (fewer than 11 samples)"
    k = n - 10
    return s[k - 1], f"p{100 * k // n} of n={n}"


def session_conf(work: str) -> dict[str, str]:
    return {
        # JVM heap well under the host's RAM (bench.py uses 16g), pinned
        # (-Xms = -Xmx) so peak_rss_mb does not follow heap resizing
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:-UsePerfData "
            # runs last under a minute: C1 alone compiles what they run,
            # where C2 burned more CPU than the tasks and never settled;
            # a code cache that Spark's generated classes do not fill;
            # a GC without threads of its own
            f"-XX:TieredStopAtLevel=1 -XX:CICompilerCount=1 "
            f"-XX:ReservedCodeCacheSize=256m -XX:+UseSerialGC "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the status tracker must keep every job for per-span counts;
        # set in untraced runs too so both measure the same JVM
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def isolate_env(work: str) -> None:
    """Scratch files, Spark's and Python workers' included, stay in
    ``work``; Python workers import the engine and these modules."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # so the launcher and driver JVMs write no hsperfdata files outside
    # the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                        .split(os.pathsep) if p])


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def measure(wl, tracer, tracing, info: dict) -> tuple[dict, tuple]:
    """Set-ups, warm-up steps and timed steps of one workload; returns
    the end-to-end figures (session build excluded from ``setup_s``
    here, the caller adds it) and the timed window."""
    import workloads

    t0 = time.perf_counter()
    wl.inputs()
    info["inputs_s"] = round(time.perf_counter() - t0, 3)
    setup_reps = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        wl.setup()
        setup_reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.finish_setup()
    finish_s = time.perf_counter() - t0
    warmup = []
    for i in range(wl.WARMUP_STEPS):
        t0 = time.perf_counter()
        wl.step(i)
        warmup.append(time.perf_counter() - t0)
    info["setup_reps_s"] = [round(x, 3) for x in setup_reps]
    info["finish_setup_s"] = round(finish_s, 3)
    info["warmup_steps_s"] = [round(x, 3) for x in warmup]

    bytes0 = workloads.data_bytes(wl.table_path)
    steps = []
    t_lo = time.perf_counter()
    for i in range(wl.WARMUP_STEPS, wl.WARMUP_STEPS + wl.n_steps):
        t0 = time.perf_counter()
        with tracer.span(tracing.STEP) if tracer else nullcontext():
            m = wl.step(i)
        m["wall_s"] = time.perf_counter() - t0
        steps.append(m)
    window = (t_lo, time.perf_counter())

    timed_s = sum(m["wall_s"] for m in steps)
    events = sum(m["events"] for m in steps)
    batch = [m["batch_s"] for m in steps]
    reads = [x for m in steps for x in m.get("read_s", [])]
    lookups = [x for m in steps for x in m.get("lookup_s", [])]
    if not reads:
        # no reads in the timed phase: probe the final table, after one
        # untimed round that warms the read path up
        for rnd in range(READS_AFTER + 1):
            t0 = time.perf_counter()
            wl.full_read()
            if rnd:
                reads.append(time.perf_counter() - t0)
            for key in wl.lookup_keys():
                t0 = time.perf_counter()
                wl.lookup(key)
                if rnd:
                    lookups.append(time.perf_counter() - t0)
    tail, tail_label = tail_percentile(batch)
    info["batch_s"] = [round(x, 3) for x in batch]
    info["batch_s_tail"] = f"{tail:.4f} s, {tail_label}"
    info["timed_steps"] = wl.n_steps
    info["reads"], info["lookups"] = len(reads), len(lookups)
    figures = {
        "setup_s": statistics.median(setup_reps) + finish_s + sum(warmup),
        "events_per_s": events / timed_s,
        "batch_s_p50": statistics.median(batch),
        "batch_s_tail": tail,
        "read_s_p50": statistics.median(reads),
        "lookup_s_p50": statistics.median(lookups),
        "write_bytes_per_event":
            (workloads.data_bytes(wl.table_path) - bytes0) / events,
        "lookup_scan_bytes": wl.lookup_scan_bytes(),
        "step_s_mean": timed_s / wl.n_steps,
    }
    if not tracer:
        info["jobs"] = [m["jobs"] for m in steps]
        info["tasks"] = [m["tasks"] for m in steps]
        figures["jobs_per_batch"] = statistics.mean(info["jobs"])
        figures["tasks_per_batch"] = statistics.mean(info["tasks"])
    return figures, window


def traced_metrics(tracer, tracing, spark, wl, window, figures) -> dict:
    """Per-layer metrics of a traced run, with its end-to-end figures
    beside them as ``traced.<metric>``."""
    layers = tracing.layer_metrics(tracer, spark.sparkContext, window,
                                   wl.n_steps)
    layers["lake.stats.lookup_files_frac"] = (wl.lookup_files_frac(), "1")
    lo, hi = window
    spans_per_step = sum(1 for s in tracer.spans
                         if s["start"] >= lo and s["end"] <= hi) / wl.n_steps
    layers["trace.overhead_est_s"] = (
        tracing.calibrate_overhead() * spans_per_step, "s")
    layers["bench.step.wall_s"] = (figures["step_s_mean"], "s")
    for name, unit in E2E + WALL:
        if name in figures:
            layers[f"traced.{name}"] = (figures[name], unit)
    return layers


def run_one(args) -> int:
    sys.path[:0] = [ROOT, HERE]
    try:
        from kafka_jdbc_sink_connector_spark import session
        from kafka_jdbc_sink_connector_spark.sources.avro import (
            spark_avro_available)
        import spans as tracing
        import workloads
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    isolate_env(work)
    cores = min(CORES, len(os.sched_getaffinity(0)))
    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.install(tracer)
    load0 = loadavg()
    steal0, total0 = cpu_stat()
    time.sleep(0.25)
    steal1, total1 = cpu_stat()
    info = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "shuffle_partitions": 2 * cores, "loadavg_pre": load0,
            "steal_pct_pre": round(100 * (steal1 - steal0)
                                   / max(1, total1 - total0), 2)}
    spark = None
    attempted = failed = 0
    metrics: dict[str, dict] = {}
    try:
        t0 = time.perf_counter()
        conf = session_conf(work)
        spark = session.build_session(
            app_name="perfbench", cores=cores,
            shuffle_partitions=2 * cores, extra_conf=conf)
        session_s = time.perf_counter() - t0
        info["session_s"] = round(session_s, 3)
        info["heap"] = conf["spark.driver.memory"]
        info["avro_decoder"] = ("spark-avro" if spark_avro_available(spark)
                                else "python pandas_udf fallback")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        wl = workloads.WORKLOADS[args.workload](
            spark, work, args.seed, args.seconds, tracer)
        figures, window = measure(wl, tracer, tracing, info)
        figures["setup_s"] += session_s
        figures["peak_rss_mb"] = vm_hwm_mb(jvm_pid)

        t0 = time.perf_counter()
        wl.check()
        info["check_s"] = round(time.perf_counter() - t0, 3)
        attempted = len(wl.checks) + info["reads"] + info["lookups"]
        failed = sum(1 for _, ok, _ in wl.checks if not ok)
        for what, ok, detail in wl.checks:
            if not ok or not what.startswith("batch "):
                print(f"check {'ok' if ok else 'FAILED'}: {what}: {detail}")

        if tracer:
            layers = traced_metrics(tracer, tracing, spark, wl, window,
                                    figures)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}.spans.json"))
        else:
            layers = {name: (figures[name], unit) for name, unit in E2E}
        info["wall"] = {name: figures[name] for name, _ in WALL}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    except Exception as e:  # noqa: BLE001 — report the failed run
        import traceback

        traceback.print_exc()
        print(f"run failed: {type(e).__name__}: {e}", file=sys.stderr)
        attempted += 1
        failed += 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal2, total2 = cpu_stat()
    info["steal_pct_run"] = round(100 * (steal2 - steal1)
                                  / max(1, total2 - total1), 2)
    info["failed_frac"] = failed / max(1, attempted)
    print("info " + json.dumps(info))
    print(json.dumps({"correct": failed == 0 and bool(metrics),
                      "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 and metrics else 1


def run_all(args) -> int:
    """Every workload untraced then traced, in child processes; prints a
    table with the tracing overhead and a combined JSON last line."""
    sys.path[:0] = [ROOT, HERE]
    import spans as tracing
    import workloads

    combined: dict[str, dict] = {}
    correct, attempted, failed = True, 0, 0
    for name in workloads.WORKLOADS:
        res = {}
        for traced in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(traced)]
            p = subprocess.run(cmd, capture_output=True, text=True,
                               cwd=ROOT, timeout=900)
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                sys.stderr.write(p.stderr[-4000:])
                print(f"{name} trace={traced}: exit {p.returncode}")
                correct = False
                failed += 1
                continue
            res[traced] = json.loads(lines[-1])
            for line in lines[:-1]:
                print(f"[{name} trace={traced}] {line}")
                if line.startswith("info ") and not traced:
                    wall = json.loads(line[5:])["wall"]
            correct &= res[traced]["correct"]
            attempted += res[traced]["attempted"]
            failed += res[traced]["failed"]
        if 0 not in res or 1 not in res:
            continue
        plain, traced_m = res[0]["metrics"], res[1]["metrics"]
        print(f"\n== {name}: end-to-end, then wall time "
              f"(untraced | traced | overhead)")
        for metric, unit in E2E + WALL:
            a = plain[metric]["value"] if metric in plain else wall[metric]
            combined[f"{name}.{metric}"] = {"value": a, "unit": unit}
            if f"traced.{metric}" not in traced_m:
                print(f"  {metric:24s} {a:12.4f} | {'(untraced only)':>12s}"
                      f" {unit}")
                continue
            b = traced_m[f"traced.{metric}"]["value"]
            print(f"  {metric:24s} {a:12.4f} | {b:12.4f} {unit:5s} | "
                  f"{(b - a) / a:+.1%}")
        print(f"== {name}: per layer, mean per timed step")
        for span in tracing.SPANS + (tracing.STEP,):
            v = {k: traced_m[f"{span}.{k}"]["value"]
                 for k in ("calls", "self_s", "jobs", "stages")}
            if v["calls"]:
                print(f"  {span:26s} calls {v['calls']:7.2f}  self "
                      f"{v['self_s']:8.4f} s  jobs {v['jobs']:6.2f}  "
                      f"stages {v['stages']:6.2f}")
        for k in ("lake.table.commit.bytes", "lake.table.commit.files",
                  "lake.maintenance.compact.bytes",
                  "streaming.runner.retries", "lake.stats.lookup_files_frac",
                  "trace.overhead_est_s"):
            print(f"  {k:26s} {traced_m[k]['value']:.4f} "
                  f"{traced_m[k]['unit']}")
        spanned = sum(traced_m[f"{s}.self_s"]["value"]
                      for s in tracing.SPANS + (tracing.STEP,)
                      if s != "session.build")
        print(f"  self times sum to {spanned:.4f} s per step "
              f"(bench.step.self_s is the unspanned part); step wall "
              f"{traced_m['bench.step.wall_s']['value']:.4f} s, traced "
              f"batch_s_p50 {traced_m['traced.batch_s_p50']['value']:.4f} s")
    print("\nlayer map: span | wraps | should move | on")
    for span, row in tracing.LAYER_MAP.items():
        print(f"  {span} | " + " | ".join(row))
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": combined}))
    return 0 if correct and not failed else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
