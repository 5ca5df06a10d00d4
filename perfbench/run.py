"""Seeded end-to-end benchmark of the CSV-slice loader pipeline.

    python3 perfbench/run.py --workload slices_many --seed 1 --seconds 20 --trace 0

One run generates the workload's CSV slices from ``--seed``, sets up a
local SparkSession (start plus one warm-up pass on a small input of the same
shape), then repeats one pipeline pass through the public API while the
next pass still fits in ``--seconds`` (at least once) and reports medians
over the passes:

    TimeSeriesLoader.initialize() + noop write    -> load_s     (median of 3)
    analyze_continuity()                          -> analyze_s
    the workload's resample(...) + noop write     -> resample_s (median of
                                                     w.resample_repeats)

Every pass is checked against the generator's ground truth (row counts,
non-null counts and sums observed on the writes, and the exact gap list).
The warm-up pass collects its outputs instead of writing them, and those
are compared row by row.

``--trace 1`` alternates untraced and traced passes, each step running once
in both, and reports the per-layer metrics listed in METRICS.md instead of
the end-to-end ones.

Everything the run writes stays under ``.perfbench/`` in the checkout:
inputs and Spark scratch are deleted at the end; one record per run is
appended to ``.perfbench/records.jsonl`` and traces go to
``.perfbench/traces/``. Progress goes to stderr; the result is the only line
on stdout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for set-up time

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(1, ROOT)

from workloads import (  # noqa: E402
    CSV_TIME_FORMAT,
    TIME_COLUMN,
    VALUE_COL,
    WORKLOADS,
    generate,
    tiny,
)

END_TO_END = (
    ("setup_s", "s"),
    ("load_s", "s"),
    ("analyze_s", "s"),
    ("resample_s", "s"),
    ("total_s", "s"),
    ("rows_per_s", "rows/s"),
    ("peak_rss_mb", "MiB"),
)
# fail_frac is printed with the metrics above but is not in BENCHMARK.json:
# it is 0 on correct code, and the result line carries it as failed/attempted.
MIN_PASSES = 1  # timed passes per run, even when --seconds runs out first
# loads per timed pass of a --trace 0 run; load_s is their median, since the
# first load after the warm-up is the slowest
LOAD_REPEATS = 3
# --trace 1: passes alternate untraced and traced, each step running once in
# both, so the tracing overhead is the difference of their totals
TRACE_MIN_PASSES = 2


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def configure(run_dir: str) -> dict:
    """Environment for the library and Spark; returns the settings used."""
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # an eighth of the box, 1-4 GiB: the library default (24g) does not fit
    # small machines, and these inputs need far less
    mem_gib = max(1, min(4, mem_kib // (8 * 1024 * 1024)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(ncpu),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_gib}g",
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "PYSPARK_PYTHON": sys.executable,
            # both JVMs spark-submit starts (launcher and driver) keep their
            # temporary files in the run directory. They compile with C1
            # only: a run's JVM lives about a minute and mostly plans small
            # queries. With C2 the first timed pass after the warm-up was up
            # to 45% slower than later ones, so it measured how far the
            # compiler had got; with C1 alone it is near steady speed, and
            # set-up is shorter.
            "JAVA_TOOL_OPTIONS": (
                f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
            ),
            "TMPDIR": tmp,
            "TZ": "UTC",
        }
    )
    time.tzset()
    return {"nproc": ncpu, "driver_memory": f"{mem_gib}g", "run_dir": run_dir}


def start_spark(cfg: dict):
    """A local[nproc] session built by the library, from this checkout."""
    import time_series_loader_spark as lib

    if not os.path.abspath(lib.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: library imported from {lib.__file__}, not {ROOT}")
    from time_series_loader_spark.session import get_spark

    n = cfg["nproc"]
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(cfg["run_dir"], "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def cpu_ticks() -> list[int]:
    """This machine's busy and stolen CPU time so far, in clock ticks."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return [user + nice + system + irq + softirq, steal]


def peak_rss_mib(pids) -> float:
    """Sum of the processes' peak resident set (VmHWM)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total / 1024.0


# --- one pipeline pass ----------------------------------------------------


def resample_calls(w) -> list[tuple[str, dict]]:
    calls = []
    if w.resample_mean_s:
        calls.append(("mean", {"frequency": w.resample_mean_s, "method_resample": "mean"}))
    if w.regrid_s:
        calls.append(("interpolate", {"frequency": w.regrid_s, "method_fill": "interpolate"}))
    return calls


def sink(df, span: str, tracer, collect: bool):
    """Materialize ``df`` through a sink the optimizer cannot prune (noop
    write, not count()), observing row count, non-null count and sum of the
    value on the way. With ``collect`` the rows are fetched instead."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.count(VALUE_COL).alias("nonnull"),
        F.sum(VALUE_COL).alias("sum"),
    )
    frame = None
    with tracer.span(span):
        if collect:
            frame = observed.select(TIME_COLUMN, VALUE_COL).toPandas()
        else:
            observed.write.format("noop").mode("overwrite").save()
    summary = obs.get
    tracer.count(f"{span}.rows", summary["rows"])
    return summary, frame


def run_pass(spark, w, data_dir: str, tracer, collect: bool = False, repeat: bool = False) -> dict:
    """One pass of the pipeline, timing each step; returns its outputs.

    With ``repeat`` the load step runs ``LOAD_REPEATS`` times and each
    resample call ``w.resample_repeats`` times, and a step's time is the
    median of its repeats; otherwise every step runs once."""
    from time_series_loader_spark.config import (
        LoadingConfig,
        TimeSeriesConfig,
        ValidationStrategy,
    )
    from time_series_loader_spark.plans.hooks import OutlierRemovalHook
    from time_series_loader_spark.plans.loader import TimeSeriesLoader
    from time_series_loader_spark.sources.metadata import TimeMetadataExtractor

    calls = {}  # step -> the time of each call

    def timed(step, n, fn):
        """``n`` calls of ``fn``: the median time and every output."""
        times, outs = calls.setdefault(step, []), []
        for _ in range(n):
            t = time.perf_counter()
            outs.append(fn())
            times.append(time.perf_counter() - t)
        return statistics.median(times), outs

    def load():
        loader = TimeSeriesLoader.from_directory(
            spark,
            data_dir,
            loading=LoadingConfig(timestamp_column=TIME_COLUMN, time_format=CSV_TIME_FORMAT),
            extractor=TimeMetadataExtractor(),
            ts_config=TimeSeriesConfig(strategy=ValidationStrategy.LENIENT),
            hooks=[OutlierRemovalHook([VALUE_COL], threshold=3.0)] if w.hook else [],
        )
        return loader, sink(loader.initialize(), "action.load", tracer, collect)

    load_s, loads = timed("load", LOAD_REPEATS if repeat else 1, load)
    loader = loads[-1][0]
    analyze_s, (analysis,) = timed("analyze", 1, loader.analyze_continuity)
    resample_s = 0.0
    outputs = {"load": [out for _, out in loads]}
    for name, kw in resample_calls(w):
        call_s, outputs[name] = timed(
            name,
            w.resample_repeats if repeat else 1,
            lambda kw=kw: sink(loader.resample(**kw), "action.resample", tracer, collect),
        )
        resample_s += call_s
    tracer.count("errors.ledger.records", len(loader.ledger.errors))
    return {
        "loader": loader,
        "analysis": analysis,
        # output name -> one observed summary per repeat
        "summaries": {name: [s for s, _ in outs] for name, outs in outputs.items()},
        "frames": {name: outs[-1][1] for name, outs in outputs.items()},
        "times": {
            "load_s": load_s,
            "analyze_s": analyze_s,
            "resample_s": resample_s,
            "total_s": load_s + analyze_s + resample_s,
        },
        "calls": calls,
    }


def check_pass(res: dict, w, exp, truth, full: bool) -> list[list[str]]:
    """Problems found in each operation of a pass (load, analyze, each
    resample call). Every pass checks counts, sums and the gap list; a
    ``full`` check also compares every collected row and the file choices."""
    import check

    names = [name for name, _ in resample_calls(w)]

    def summaries(name):
        want = exp.summaries[name]
        return [p for got in res["summaries"][name] for p in check.check_summary(name, got, want)]

    found = [summaries("load"), check.check_analysis(res["analysis"], exp.analysis)]
    found += [summaries(n) for n in names]
    if full:
        # initialize() promises a time-sorted table. With a hook the
        # optimizer drops that sort (a known defect of the library), so there
        # unsorted rows are reported and compared in time order; without a
        # hook they are a failure.
        loaded = res["frames"]["load"]
        res["load_time_sorted"] = bool(loaded[TIME_COLUMN].is_monotonic_increasing)
        if not res["load_time_sorted"]:
            if w.hook:
                log("WARNING initialize() returned rows out of time order")
                loaded = loaded.sort_values(TIME_COLUMN, kind="stable", ignore_index=True)
            else:
                found[0].append("load: rows out of time order")
        found[0] += check.check_frame("load", loaded, exp.loaded)
        found[0] += check.check_files(file_facts(res["loader"]), truth)
        for i, n in enumerate(names):
            found[2 + i] += check.check_frame(n, res["frames"][n], exp.outputs[n])
    return found


def file_facts(loader) -> dict:
    """What the loader decided about each file, for ``check.check_files``."""
    from tracing import flagged
    from time_series_loader_spark.sources.validation import validate_file_sequence

    base = os.path.basename
    rejected = {base(p): r for p, r in loader.discovery_stats.invalid_reasons.items()}
    for e in loader.ledger.errors:
        if e.error_type == "metadata_extraction_failed":
            rejected[base(e.file)] = "metadata"
        elif e.error_type == "schema_congruence":
            rejected[base(e.file)] = "header"
    issues = validate_file_sequence(loader.metas, loader.ts_config)
    return {
        "files_seen": loader.discovery_stats.total_candidates,
        "loaded": [base(p) for p in loader.valid_paths],
        "rejected": rejected,
        "file_gaps": flagged(issues, "gap"),
        "sequence_valid": loader.sequence_valid,
    }


class Tally:
    """Operations attempted and failed; a mismatch counts as a failure."""

    def __init__(self, ops: int) -> None:
        self.ops = ops  # operations per pass
        self.attempted = 0
        self.failed = 0

    def run(self, fn, *args, **kw):
        """``fn(*args, **kw)``, or None with a whole pass failed if it raises."""
        try:
            return fn(*args, **kw)
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            import traceback

            log(f"pass failed:\n{traceback.format_exc()}")
            self.attempted += self.ops
            self.failed += self.ops
            return None

    def add(self, found: list[list[str]]) -> bool:
        self.attempted += len(found)
        bad = [problems for problems in found if problems]
        self.failed += len(bad)
        for problems in bad:
            log("MISMATCH " + "; ".join(problems[:5]))
        return not bad


# --- records ----------------------------------------------------------------


def env_stamp(spark, cfg: dict, args, run_id: str) -> dict:
    commit = "unknown"  # the checkout may not be a git repository
    if os.path.isdir(os.path.join(ROOT, ".git")):
        p = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            timeout=30,
        )
        commit = p.stdout.strip() or commit
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(os.path.join(ROOT, "time_series_loader_spark")):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(f.read())
    return {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cfg["nproc"],
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": cfg["driver_memory"],
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": commit,
        "library_sha256": h.hexdigest()[:16],
    }


def write_record(record: dict, trace_doc: dict | None) -> None:
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "records.jsonl"), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    if trace_doc is not None:
        env = trace_doc["env"]
        path = os.path.join(WORK, "traces", f"{env['workload']}-s{env['seed']}-{env['run_id']}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(trace_doc, f, default=str)
        log(f"trace written to {os.path.relpath(path, ROOT)}")


def unit(name: str) -> str:
    return dict(END_TO_END, fail_frac="ratio").get(name) or (
        "s" if name.endswith("_s") else "count"
    )


def result_line(correct: bool, attempted: int, failed: int, values: dict) -> str:
    metrics = {k: {"value": v, "unit": unit(k)} for k, v in values.items()}
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


# --- main ---------------------------------------------------------------------


def measure(spark, w, args, data_dir, exp, truth, tally):
    """Timed passes while another one fits in ``--seconds``. Returns the untraced
    passes' times, and with --trace the traced passes' times and per-layer
    metrics."""
    import tracing

    tracer = tracing.Tracer(spark, args.run_id) if args.trace else None
    null = tracing.NullTracer()
    times, traced, layers = [], [], []
    min_passes = TRACE_MIN_PASSES if args.trace else MIN_PASSES
    start = time.perf_counter()
    i = 0
    # after the minimum, a pass starts only if one more pass as long as the
    # average so far still ends within --seconds
    while i < min_passes or (elapsed := time.perf_counter() - start) + elapsed / i <= args.seconds:
        if args.trace and i % 2 == 1:
            tracer.pass_no += 1
            with tracing.traced(tracer):
                res = tally.run(run_pass, spark, w, data_dir, tracer)
            tracer.collect_jobs()
            if res is not None and tally.add(check_pass(res, w, exp, truth, full=False)):
                traced.append(res["times"])
                layers.append(tracer.pass_metrics(tracer.pass_no))
        else:
            res = tally.run(run_pass, spark, w, data_dir, null, repeat=not args.trace)
            if res is not None and tally.add(check_pass(res, w, exp, truth, full=False)):
                times.append({**res["times"], "calls": res["calls"]})
        i += 1
    return times, traced, layers, tracer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.run_id = uuid.uuid4().hex[:12]
    # a terminated run still stops Spark and removes its inputs
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    # stdout carries only the result line: anything else this process or
    # the JVM it launches prints goes to stderr
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    w = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{args.run_id}")
    spark = None
    try:
        cfg = configure(run_dir)
        g0 = time.perf_counter()
        data_dir, warm_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "warm")
        truth = generate(w, args.seed, data_dir)
        warm_truth = generate(tiny(w), args.seed, warm_dir)
        gen_s = time.perf_counter() - g0

        s0 = time.perf_counter()
        spark = start_spark(cfg)
        import tracing

        s1 = time.perf_counter()
        warm = run_pass(spark, w, warm_dir, tracing.NullTracer(), collect=True)
        s2 = time.perf_counter()
        setup_s = s2 - T0 - gen_s
        setup_parts = {"imports_s": s0 - T0 - gen_s, "session_s": s1 - s0, "warmup_s": s2 - s1}
        log("setup: " + ", ".join(f"{k} {v:.2f}" for k, v in setup_parts.items()))

        import check

        tally = Tally(ops=2 + len(resample_calls(w)))
        tally.add(check_pass(warm, w, check.expected(warm_truth, tiny(w)), warm_truth, full=True))
        exp = check.expected(truth, w)
        env = env_stamp(spark, cfg, args, args.run_id)
        log(f"env {json.dumps(env)}")

        ticks = cpu_ticks()
        times, traced, layers, tracer = measure(spark, w, args, data_dir, exp, truth, tally)
        busy, steal = (b - a for a, b in zip(ticks, cpu_ticks()))
        # a shared host that takes CPU time from this machine slows every step
        steal_share = steal / max(1, busy + steal)
        if not times or (args.trace and not layers):
            raise SystemExit("perfbench: no pass completed correctly")
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rows = truth.input_rows
        e2e = {
            "setup_s": setup_s,
            "load_s": statistics.median(t["load_s"] for t in times),
            "analyze_s": statistics.median(t["analyze_s"] for t in times),
            "resample_s": statistics.median(t["resample_s"] for t in times),
            "total_s": statistics.median(t["total_s"] for t in times),
            "rows_per_s": statistics.median(rows / t["total_s"] for t in times),
            "peak_rss_mb": peak_rss_mib((os.getpid(), jvm_pid)),
            "fail_frac": tally.failed / tally.attempted,
        }
        log(f"{w.name} seed={args.seed}: {rows} input rows, {len(times)} untraced passes")
        log(f"  CPU time taken by the host while timing: {steal_share:.1%}")
        for k, v in e2e.items():
            n = "" if k in ("setup_s", "peak_rss_mb", "fail_frac") else f"  ({len(times)} passes)"
            log(f"  {k} = {v:.6g} {unit(k)}{n}")

        record = {"env": env, "attempted": tally.attempted, "failed": tally.failed}
        record.update(load_time_sorted=warm["load_time_sorted"], setup_parts=setup_parts)
        record.update(e2e=e2e, passes=times, steal_share=steal_share)
        trace_doc = None
        if args.trace:
            layer = {
                k: statistics.median(p[k] for p in layers) for k in tracing.layer_metric_names()
            }
            layer["trace.overhead_s"] = (
                statistics.median(t["total_s"] for t in traced) - e2e["total_s"]
            )
            for k, v in layer.items():
                if not k.endswith((".wall_s", ".spark_jobs")):
                    log(f"  {k} = {v:.6g} {unit(k)}  (median of {len(layers)} traced passes)")
            record["per_layer"] = layer
            trace_doc = {"env": env, "spans": tracer.spans, "counts": tracer.counts}
            values = layer
        else:
            values = {k: e2e[k] for k, _ in END_TO_END}
        write_record(record, trace_doc)
        line = result_line(tally.failed == 0, tally.attempted, tally.failed, values)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line, file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
