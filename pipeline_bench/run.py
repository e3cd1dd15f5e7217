#!/usr/bin/env python3
"""Production-path benchmark: ``plans.checkpoint.run_resumable`` and the
read side of its output, driven by one closed-loop client.

Run from the repository root::

    python3 pipeline_bench/run.py --workload backfill --seed 1 \\
        --seconds 10 --trace 0

Workloads: ``backfill``, ``report`` and, by hand only, ``tail`` (see
README.md). The last line of stdout is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``; with ``--trace 0`` the metrics are
the end-to-end ones, with ``--trace 1`` the per-layer table of a separate
traced pass. The line before it records the host, the CPU steal seen
during the run and the raw samples. The run writes only under
``.bench_work/`` in the current directory and removes its own directory
there at exit; the oracle cache ``.bench_work/oracle/`` is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_OPS = 3
# A scaling_eff above 1 + this bound cannot be true on identical input: the
# run is reported as invalid instead of as a result.
SCALING_BOUND = 0.25
INVALID_EXIT = 3


def host() -> dict:
    """Cores from the affinity mask, memory from /proc/meminfo."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return {"cores": len(os.sched_getaffinity(0)),
            "mem_gb": round(kb / 2 ** 20, 1)}


def cpu_times() -> tuple[int, int, int]:
    """(steal, total, idle + iowait) jiffies from the first line of
    /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields), fields[3] + fields[4]


def stolen_share(c0: tuple, c1: tuple) -> float:
    """Share of the CPU time the guest wanted between two cpu_times()
    readings that the hypervisor gave to someone else."""
    steal, total, idle = (b - a for a, b in zip(c0, c1))
    return steal / max(1, total - idle)


def process_tree() -> set[int]:
    """This process and all its descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return tree


def peak_rss_mb(cores: int) -> float:
    """High-water RSS of the program's process tree: VmHWM of this process
    and the JVM, plus the ``cores`` largest Python workers (one
    busy worker per core). Idle and surplus pool workers are left out: how
    many exist at the end depends on when Spark forks and reaps them, not
    on the program's memory use."""
    main, workers = 0, []
    for p in process_tree():
        try:
            with open(f"/proc/{p}/status") as f:
                kb = next((int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:")), 0)
            with open(f"/proc/{p}/cmdline", "rb") as f:
                python_worker = b"pyspark.daemon" in f.read()
        except OSError:
            continue
        if python_worker:
            workers.append(kb)
        else:
            main += kb
    return (main + sum(sorted(workers)[-cores:])) / 1024


def configure(work: str, h: dict) -> None:
    """Host-derived settings, read by ``session.get_spark`` at import and
    session start, plus every temp location inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(h["cores"])
    # an eighth of RAM: with a quarter, the JVM's resident size on a 16 GB
    # host stopped anywhere between 1.5 and 2.0 GB from run to run; with an
    # eighth it stays within 1.2-1.4 GB, so peak_rss_mb follows the program
    # more than the heap sizing
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, int(h['mem_gb'] // 8))}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first would otherwise keep
    # its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)


def start_spark(work: str, cores: int, event_dir: str | None = None):
    from log_collector_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     # the installed Python has no zstandard to read the
                     # default compressed log
                     "spark.eventLog.compress": "false"})
    spark = get_spark(f"local[{cores}]", app_name="pipeline_bench",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def timed(wl, spark, seconds: float, tracer=None, min_ops: int = MIN_OPS,
          steal: list[float] | None = None) -> tuple[list[float], set]:
    """Closed loop: operations back to back for ``seconds`` (at least
    ``min_ops``). Returns per-op latencies and, when traced, the op spans;
    appends each op's stolen CPU share to ``steal`` when given."""
    lat, roots = [], set()
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or len(lat) < min_ops:
        wl.before_op()
        c0 = cpu_times()
        t0 = time.perf_counter()
        if tracer is None:
            wl.op(spark)
        else:
            with tracer.span("op") as s:
                wl.op(spark)
            roots.add(s.sid)
        lat.append(time.perf_counter() - t0)
        if steal is not None:
            steal.append(stolen_share(c0, cpu_times()))
    return lat, roots


def invalid(reason: str) -> None:
    print(f"invalid run: {reason}", file=sys.stderr)
    sys.exit(INVALID_EXIT)


def metric(v: float, unit: str) -> dict:
    return {"value": v, "unit": unit}


def end_to_end(setup_s: float, lat: list[float], units: int,
               rss_mb: float) -> dict:
    p50 = statistics.median(lat)
    return {
        "setup_s": metric(setup_s, "s"),
        "turns_per_s": metric(units / p50, "1/s"),
        "commit_ms_p50": metric(p50 * 1e3, "ms"),
        "commit_ms_p75": metric(statistics.quantiles(lat, n=4)[2] * 1e3,
                                "ms"),
        "peak_rss_mb": metric(rss_mb, "MB"),
    }


def pin_tree(cpus: list[int]) -> None:
    """Set the CPU affinity of every thread of this process and its
    descendants (the JVM and the Python workers it forks). Threads and
    processes created later inherit it from their creator."""
    for pid in process_tree():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                continue


def scaling(wl, spark, work: str, cores: int, sec_all: float,
            event_dir: str | None):
    """N vs 4N on identical backfill input, N the largest n with 4n <=
    cores. A level below all cores restarts the Spark context in the same,
    already warm JVM with the whole process tree pinned to that many cores,
    runs one warm-up op, then times two. Returns (metrics, session)."""
    n = cores // 4
    if n == 0:
        return {"scaling_eff": 0.0, "scaling.n": 0, "scaling.4n": 0}, spark
    cpus = sorted(os.sched_getaffinity(0))
    secs = {cores: sec_all}
    for k in sorted({n, 4 * n} - {cores}):
        spark.stop()
        pin_tree(cpus[:k])
        spark = start_spark(work, k, event_dir)
        cold, _ = timed(wl, spark, 0, min_ops=1)
        lat, _ = timed(wl, spark, 0, min_ops=2)
        if statistics.median(lat) > cold[0]:
            invalid(f"{k}-core warm {statistics.median(lat):.3f}s slower "
                    f"than its cold op {cold[0]:.3f}s")
        secs[k] = statistics.median(lat)
    pin_tree(cpus)
    eff = secs[n] / secs[4 * n] / 4
    if eff > 1 + SCALING_BOUND:
        invalid(f"scaling_eff {eff:.3f} > {1 + SCALING_BOUND}: {n} core(s) "
                f"{secs[n]:.3f}s vs {4 * n} cores {secs[4 * n]:.3f}s")
    return {"scaling_eff": eff, "scaling.n": n, "scaling.4n": 4 * n,
            "scaling.sec_n": secs[n], "scaling.sec_4n": secs[4 * n]}, spark


def traced_pass(wl, spark, a, work: str):
    """Traced and untraced ops alternate (so neither side sits later in the
    JVM's warm-up ramp), then the prefix table and the kernel. Returns the
    per-layer metrics measured so far (event-log counts are added after the
    session stops), the untraced latencies, the tracer and the op spans."""
    import layers
    import spans

    tracer = spans.Tracer(spark)
    plain_span = wl.span
    lat = {False: [], True: []}
    roots: set[int] = set()
    end = time.perf_counter() + a.seconds
    while (time.perf_counter() < end
           or min(len(v) for v in lat.values()) < 2):
        on = len(lat[False]) > len(lat[True])
        if on:
            tracer.install()
            wl.span = tracer.span
        try:
            got, r = timed(wl, spark, 0, tracer if on else None, min_ops=1)
        finally:
            if on:
                tracer.uninstall()
                wl.span = plain_span
        lat[on] += got
        roots |= r
    if wl.name == "report":
        pre = {"scan": layers.read_scan_time(spark, wl.out, wl.ckpt)}
    else:
        pre = layers.prefix_times(spark, wl.files,
                                  os.path.join(work, "prefix-out"))
    seq = ["scan", "parse", "enrich", "route", "write"]
    diff = {k: pre[k] - pre[seq[i - 1]] if i else pre[k]
            for i, k in enumerate(seq) if k in pre}
    out = {
        "sources.scan_s": (diff["scan"], "s"),
        "operators.parse.s": (diff.get("parse", 0.0), "s"),
        "operators.enrich.s": (diff.get("enrich", 0.0), "s"),
        "operators.route.s": (diff.get("route", 0.0), "s"),
        "operators.route.sink_write_s": (diff.get("write", 0.0), "s"),
        "grok.kernel_rows_per_s": (layers.kernel_rows_per_s(wl.files), "1/s"),
        "trace.overhead": (1 - statistics.median(lat[False])
                           / statistics.median(lat[True]), "ratio"),
        "trace.residual_s": (spans.uncovered(tracer.spans, roots)
                             / len(roots), "s"),
    }
    for k, v in layers.output_counts(wl.output_dirs()).items():
        layer = "enrich" if k.endswith("_miss") else "route"
        out[f"operators.{layer}.{k}"] = (v, "count")
    ckpt = wl.runs[-1][0] if wl.name == "backfill" else wl.ckpt
    out["plans.checkpoint.ckpt_files"] = (len([
        f for f in os.listdir(os.path.join(ckpt, "checkpoint"))
        if f.endswith(".parquet")]), "count")
    return out, lat[False], tracer, roots


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "tail", "report"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs, for the benchmark's own smoke tests")
    a = ap.parse_args(argv)

    h = host()
    work = os.path.join(os.getcwd(), ".bench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    configure(work, h)
    try:
        run(a, h, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, h: dict, work: str) -> None:
    # imported only after configure(): session.py reads SPARK_GRAFT_CPUS
    # when it is first imported
    import layers
    import spans
    import workloads as wls
    from log_collector_spark.plans import pipeline as pl

    sizes = wls.SMALL if a.small else wls.FULL
    wl = wls.WORKLOADS[a.workload](work, a.seed, sizes)
    steal0 = cpu_times()
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0

    event_dir = os.path.join(work, "events") if a.trace else None
    op_steal: list[float] = []
    t0 = time.perf_counter()
    spark = start_spark(work, h["cores"], event_dir)
    try:
        session_s = time.perf_counter() - t0
        pl.compiled_transcript_grok()
        pl.lookups(spark)
        warm = wl.setup(spark)
        setup_s = time.perf_counter() - t0

        if a.trace:
            layer, lat, tracer, roots = traced_pass(wl, spark, a, work)
        else:
            lat, _ = timed(wl, spark, a.seconds, steal=op_steal)
        # the first set-up op of backfill ran cold (Python workers, JIT): a
        # timed median above it means the timed phase measured something else
        if wl.name == "backfill" and statistics.median(lat) > warm[0]:
            invalid(f"warm median {statistics.median(lat):.3f}s slower than "
                    f"cold {warm[0]:.3f}s")
        rss = peak_rss_mb(h["cores"])
        sc = {}
        if a.trace and wl.name == "backfill":
            sc, spark = scaling(wl, spark, work, h["cores"],
                                statistics.median(lat), event_dir)
        t0 = time.perf_counter()
        errors = wl.check(spark)
        check_s = time.perf_counter() - t0
    finally:
        # also on an invalid run or a failed operation: the JVM is shared by
        # every context this run started, so stopping it ends them all
        stop_spark(spark)
    steal = stolen_share(steal0, cpu_times())

    if a.trace:
        stats = spans.summarize_event_log(event_dir)
        report = wl.name == "report"
        layer.update(layers.table(tracer, roots, stats, len(roots),
                                  0 if report else wl.units,
                                  0 if report else len(wl.files)))
        layer["session.start_s"] = (session_s, "s")
        for k in ("scaling_eff", "scaling.n", "scaling.4n"):
            layer[k] = (sc.get(k, 0), "ratio" if k == "scaling_eff"
                        else "count")
        metrics = {k: metric(float(v), u)
                   for k, (v, u) in sorted(layer.items())}
    else:
        metrics = end_to_end(setup_s, lat, wl.units, rss)

    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({"host": h, "steal": round(steal, 4),
                      "workload": wl.name, "seed": a.seed,
                      "prepare_s": prepare_s, "session_s": session_s,
                      "setup_ops_s": warm, "samples_s": lat,
                      "check_s": check_s, "units_per_op": wl.units,
                      "op_steal": op_steal,
                      "scaling": sc}))
    print(json.dumps({"correct": not errors, "attempted": wl.ops,
                      "failed": len(errors), "metrics": metrics}))


if __name__ == "__main__":
    main()
