"""Corpus-safety benchmark: run one seeded workload on local[nproc].

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_scrub --seed 1 --seconds 6 --trace 0

Set-up is input generation (once), then three rounds of session start,
input staging and the warm pass, each on a fresh SparkContext so Python
workers start cold; then the op's plans are warmed once more (the JVM
keeps their generated and compiled code). ``setup_s`` is the generation
time plus the median round plus that plan warm-up. Then the
workload's op repeats for ``--seconds`` (at least the workload's
``min_ops`` times) and the output checks run.
``--trace 1`` writes Spark's event log throughout and runs one more op with
spans around the calls into the package; it reports the per-layer metrics
(from the spans, the event log's SQL metrics and the stream's progress
reports) instead of the end-to-end ones.

Every metric is printed as ``<workload> <name> = <value> <unit>``; the
last line of standard output is the JSON result. Metric names and units
come from ``BENCHMARK.json`` at the checkout root.
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
import traceback

SETUP_ROUNDS = 3
CROSSING_REPS = 3


def build_session(cores: int, work: str, events: str | None = None):
    """bench.py's session settings on local[cores]; every directory Spark
    writes lies under ``work``. ``events``: write the event log there."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if events:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{events}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def crossing_layers(wl, tracer) -> dict[str, float]:
    """Time the crossing's public functions in-process, single-threaded, on
    one Arrow-sized batch of the workload's own inputs (median of reps), and
    count their outcomes on it."""
    import pandas as pd

    from safe_zone_spark.functions.langid import classify_series
    from safe_zone_spark.functions.perplexity import DEFAULT_PPL_MAX, perplexity_series
    from safe_zone_spark.operators.scan import detect_batch
    from safe_zone_spark.rules import default_rules
    from safe_zone_spark.sources.corpus import extract_text_from_html

    htmls, rules = wl.crossing_htmls(), default_rules()
    for rep in range(CROSSING_REPS):
        tracer.trace_id = f"crossing-{rep}"
        with tracer.span("crossing.batch"):
            with tracer.span("sources.extract_text_from_html"):
                texts = pd.Series([extract_text_from_html(h) for h in htmls])
            with tracer.span("operators.scan.detect_batch"):
                scanned = detect_batch(texts, rules)
            with tracer.span("functions.langid.classify_series"):
                langs = classify_series(texts)
            with tracer.span("functions.perplexity.perplexity_series"):
                ppl = perplexity_series(texts)

    def med(name):
        return statistics.median(tracer.self_times(name))

    return {
        "extract.self_s": med("sources.extract_text_from_html"),
        "scan.detect_batch_s": med("operators.scan.detect_batch"),
        "langid.classify_series_s": med("functions.langid.classify_series"),
        "perplexity.series_s": med("functions.perplexity.perplexity_series"),
        "scan.detections": int(scanned.n_detections.sum()),
        "scan.docs_blocked": int(scanned.blocked.sum()),
        "langid.und_docs": sum(lang == "und" for lang in langs),
        "perplexity.over_max_docs": int((pd.Series(ppl) > DEFAULT_PPL_MAX).sum()),
    }


def spark_layers(ev) -> dict[str, float]:
    """Crossing, shuffle, scan and spill metrics of the traced op, summed
    over its tasks from Spark's own SQL metrics."""
    out = {key: ev.total(metric) for metric, key in (
        ("time to run Python workers", "crossing.py_run_s"),
        ("time to initialize Python workers", "crossing.py_init_s"),
        ("time to start Python workers", "crossing.py_start_s"),
        ("data sent to Python workers", "crossing.bytes_to_py"),
        ("data returned from Python workers", "crossing.bytes_from_py"),
        ("shuffle bytes written", "pipeline.shuffle_bytes"),
        ("shuffle write time", "pipeline.shuffle_write_s"),
        ("spill size", "pipeline.spill_bytes"),
        ("number of files read", "pipeline.scan_files"))}
    by_stage: dict[int, list[float]] = {}
    for stage, metrics in ev.tasks:
        if "time to run Python workers" in metrics:
            by_stage.setdefault(stage, []).append(metrics["time to run Python workers"])
    out["crossing.tasks"] = sum(len(t) for t in by_stage.values())
    # max over median task time in the heaviest crossing stage
    heaviest = max(by_stage.values(), key=sum, default=[1.0])
    out["pipeline.task_skew"] = max(heaviest) / max(statistics.median(heaviest), 1e-3)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "safe_zone_spark", "__init__.py")):
        print(f"perfbench: {root} holds no safe_zone_spark package; run from a "
              "checkout root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    # everything the run writes stays under the checkout; Python workers
    # import the package from the checkout root
    work = os.path.join(root, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, root)

    from observe import SparkEvents, Tracer, WorkerRss
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](cores)
    off = Tracer(False)
    spark, checks, per_layer = None, [], {}
    # traced runs write Spark's event log from the start, so their ops all
    # run in one configuration
    events = os.path.join(work, "events") if args.trace else None
    if events:
        os.makedirs(events)
    try:
        t0 = time.perf_counter()
        wl.generate(args.seed)
        gen_s = time.perf_counter() - t0
        print(f"perfbench: input generation: {gen_s:.2f} s", file=sys.stderr)
        setup = []
        for r in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = build_session(cores, work, events)
            wl.prepare(spark, os.path.join(work, f"inputs-{r}"))
            wl.warm(spark, off)
            setup.append(time.perf_counter() - t0)
            print(f"perfbench: set-up round {r}: {setup[-1]:.2f} s", file=sys.stderr)
        t0 = time.perf_counter()
        wl.warm_plans(spark, off)
        plans_s = time.perf_counter() - t0
        print(f"perfbench: plan warm-up: {plans_s:.2f} s", file=sys.stderr)

        ops, attempted, failed = [], 0, 0
        steal0, total0 = cpu_ticks()
        deadline = time.perf_counter() + args.seconds
        with WorkerRss() as rss:
            while len(ops) < wl.min_ops or time.perf_counter() < deadline:
                attempted += 1
                try:
                    ops.append(wl.op(spark, attempted, os.path.join(work, "ops", str(attempted)),
                                     off))
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    if failed >= 3:
                        break
                shutil.rmtree(os.path.join(work, "ops", str(attempted - 1)), ignore_errors=True)
        if not ops:
            print(f"perfbench: every op of {args.workload} failed", file=sys.stderr)
            return 1
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests: the ops' times are
        # comparable across runs only when this is similar
        print("perfbench: op walls: " + " ".join(f"{o.step} {o.wall_s:.3f}" for o in ops)
              + f"; host steal {(steal1 - steal0) / max(1, total1 - total0):.1%}",
              file=sys.stderr)

        if args.trace:
            tracer = Tracer(True)
            tracer.trace_id = "op"
            attempted += 1
            t0_ms = time.time() * 1000
            with tracer.span("op"):
                traced = wl.traced_op(spark, os.path.join(work, "ops", "traced"), tracer)
            t1_ms = time.time() * 1000
            probes = wl.trace_probes(spark, os.path.join(work, "probes"), tracer)
            app_id = spark.sparkContext.applicationId

        t0 = time.perf_counter()
        try:
            checks = wl.check(spark)
        except Exception:
            traceback.print_exc()
            checks = [("check", False, "raised")]
        print(f"perfbench: checks: {time.perf_counter() - t0:.2f} s", file=sys.stderr)

        if args.trace:
            per_layer["pipeline.kept_frac"] = wl.kept_frac(spark)
            per_layer.update(crossing_layers(wl, tracer))
            spark.stop()  # completes the event log
            log = os.path.join(events, app_id)
            ev = SparkEvents(log, t0_ms, t1_ms)
            per_layer.update(spark_layers(ev))
            per_layer.update(wl.layer_metrics(ops, ev))
            per_layer.update(wl.probe_metrics(
                {name: SparkEvents(log, *window) for name, window in probes.items()}))
            untraced = wl.last_wall(ops)
            per_layer["trace.untraced_wall_s"] = untraced
            per_layer["trace.overhead_s"] = traced.wall_s - untraced
            tracer.dump(os.path.join(root, ".perfbench", "traces",
                                     f"{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted += len(checks)
    failed += sum(not ok for _, ok, _ in checks)
    for name, ok, detail in checks:
        print(f"{args.workload} check {name}: {'ok' if ok else 'FAILED'} ({detail})")

    wall_s, docs_per_s = wl.summary(ops)
    end_to_end = {
        "setup_s": gen_s + statistics.median(setup) + plans_s,
        "wall_s": wall_s,
        "docs_per_s": docs_per_s,
        "worker_rss_peak_mb": rss.peak_mb,
    }
    print(f"{args.workload} ops = {len(ops)}, failed_ops_frac = {failed / attempted:.4f}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = end_to_end
    if args.trace:
        # the commit, stream and dedup layers are each driven by one
        # workload; on the other they did no work and read 0
        values = {m["name"]: 0.0 for m in wanted
                  if m["name"].startswith(("commit.", "stream.", "dedup."))}
        values.update(per_layer)
    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
        print(f"{args.workload} {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
