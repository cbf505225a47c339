"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_book --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.bench_work/``, starts the Spark session, runs the
workload for ``--seconds`` (at least one full operation), checks outputs
against the oracle and prints two JSON lines: a detail report (every metric
named in perfbench/README.md, sizes, host facts), then, as the last line,
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
HEAP = "4g"  # a quarter of a 15 GiB box; the JVM, Python workers and OS share the rest

E2E_UNITS = {
    "setup_s": "s", "full_p50_s": "s", "incr_p50_s": "s", "rows_per_s": "rows/s",
    "write_amp": "ratio", "space_amp": "ratio",
}
LAYER_FUNCS = {
    # span name: (module path, attribute owner, attribute)
    "catalog.insert_data": ("empujar_spark.catalog", "Warehouse", "insert_data"),
    "catalog.get_max": ("empujar_spark.catalog", "Warehouse", "get_max"),
    "catalog.query": ("empujar_spark.catalog", "Warehouse", "query"),
    "catalog.read": ("empujar_spark.catalog", "Warehouse", "read"),
    "catalog.table_size": ("empujar_spark.catalog", "Warehouse", "table_size"),
    "types.infer_column_types": ("empujar_spark.types", None, "infer_column_types"),
    "types.normalize_rows": ("empujar_spark.types", None, "normalize_rows"),
    "corpus.load": ("empujar_spark.plans.corpus", None, "load"),
    "indexes.ensure_fresh": ("empujar_spark.indexes", "IndexRegistry", "ensure_fresh"),
    "indexes.ensure_fresh_fold": ("empujar_spark.indexes", "IndexRegistry", "ensure_fresh_fold"),
}
# operator entry points the pretrain chapters call; spans sum to plan_s
OPERATOR_FUNCS = {
    "text": ["char_classes", "lang_cols", "fingerprint_col"],
    "sketch": ["bloom_from_df", "bloom_ingest_dedup", "bloom_fold_into_registry",
               "bloom_params", "build_bloom_with_params", "bloom_to_df"],
    "dedup": ["segment_dedup"],
    "curation": ["repetition_signals", "ngram_contamination", "pack_sequences"],
    "quality": ["run_checks", "expect_fused", "expect_references", "unique_spec",
                "not_null_spec", "accepted_values_spec", "in_range_spec"],
}
PRETRAIN_CHAPTERS = ["ingest", "curate", "decontam", "span-dedup", "pack", "validate"]
LAYERS = ["catalog", "types", "corpus", "indexes", "operators", "page", "chapter", "book"]


def per_layer_names() -> list[str]:
    names = []
    for n in ("catalog.insert_data", "catalog.get_max", "indexes.ensure_fresh",
              "indexes.ensure_fresh_fold", "types.infer_column_types",
              "types.normalize_rows", "corpus.load"):
        names += [f"{n}.calls", f"{n}.self_s"]
        if n.startswith(("catalog.", "indexes.")):
            names.append(f"{n}.jobs")
    names += ["catalog.insert_data.tasks", "catalog.query.self_s", "catalog.read.self_s",
              "catalog.table_size.self_s", "catalog.table_size.jobs",
              "catalog.bytes_written", "catalog.files_written", "catalog.bytes_on_disk",
              "catalog.versions_on_disk", "types.rows_normalized",
              "chapter.wall_s", "chapter.page_busy_s", "chapter.page_wait_s",
              "chapter.concurrency", "chapter.straggler_s", "book.same_priority_serial_s"]
    names += [f"operators.{m}.plan_s" for m in OPERATOR_FUNCS]
    names += [f"page.{c}.s" for c in PRETRAIN_CHAPTERS]
    names += ["session.get_spark_s", "spark.jobs", "spark.tasks", "trace.wall_s",
              "trace.full_p50_s", "trace.incr_p50_s"]
    names += [f"share.{layer}_pct" for layer in LAYERS]
    return names


def layer_unit(name: str) -> str:
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.startswith("catalog.bytes"):
        return "bytes"
    if name == "chapter.concurrency":
        return "ratio"
    return "count"


class Context:
    def __init__(self, args) -> None:
        self.seed, self.trace = args.seed, bool(args.trace)
        self.work = WORK
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = self.jobs = self.tracer = None
        self.sizes: dict = {}


def prepare_env(cpus: int) -> None:
    """Fit the box and keep every file the run writes inside the checkout.
    Must run before the JVM starts."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )  # Python workers import empujar_spark for UDFs
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()


def spark_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
        # the status tracker must still hold every job of a run when its
        # tasks are counted at the end
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def install_tracing(tracer) -> None:
    import importlib

    for name, (mod, owner, attr) in LAYER_FUNCS.items():
        m = importlib.import_module(mod)
        count = (lambda args, kwargs: len(args[0])) if attr == "normalize_rows" else None
        tracer.wrap(getattr(m, owner) if owner else m, attr, name, count=count)
    for mod, fns in OPERATOR_FUNCS.items():
        m = importlib.import_module(f"empujar_spark.operators.{mod}")
        for fn in fns:
            tracer.wrap(m, fn, f"operators.{mod}.{fn}")


def layer_metrics(ctx, res) -> dict[str, float]:
    """Per-layer figures of a traced run; shares are of the time spent in
    timed operations (``trace.wall_s``), oracle and input work excluded."""
    tr = ctx.tracer
    timed_s = sum(res.samples["timed_s"])
    out = {n: 0.0 for n in per_layer_names()}
    agg = tr.by_name()
    for name, a in agg.items():
        for k in ("calls", "self_s", "jobs", "tasks"):
            key = f"{name}.{k}"
            if key in out:
                out[key] = a[k]
    for mod in OPERATOR_FUNCS:
        out[f"operators.{mod}.plan_s"] = sum(
            a["self_s"] for n, a in agg.items() if n.startswith(f"operators.{mod}.")
        )
    out.update(tr.chapter_stats())
    for chapter, s in tr.page_seconds().items():
        if f"page.{chapter}.s" in out:
            out[f"page.{chapter}.s"] = s
    out["types.rows_normalized"] = tr.counts.get("types.normalize_rows", 0)
    for k in ("bytes_written", "files_written", "bytes_on_disk", "versions_on_disk"):
        out[f"catalog.{k}"] = res.samples[f"catalog.{k}"][-1]
    out["spark.jobs"] = sum(res.samples.get("spark.jobs", [0]))
    out["spark.tasks"] = sum(res.samples.get("spark.tasks", [0]))
    out["session.get_spark_s"] = res.layer["get_spark_s"]
    out["trace.wall_s"] = timed_s
    out["trace.full_p50_s"] = statistics.median(res.samples["full_s"])
    out["trace.incr_p50_s"] = statistics.median(res.samples["incr_s"])
    for layer in LAYERS:
        busy = sum(a["self_s"] for n, a in agg.items() if n.split(".", 1)[0] == layer)
        out[f"share.{layer}_pct"] = 100.0 * busy / timed_s
    return out


def detail(res, workload: str, e2e: dict, peak_rss_mb: float) -> dict:
    """Every metric perfbench/README.md names for this workload, with
    units, tails and the sample counts behind them."""
    from workloads import tail

    m = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    m["peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
    m["error_rate"] = {"value": res.failed / max(1, res.attempted), "unit": "ratio"}
    if workload == "incremental_sync":
        for op in ("write", "watermark", "query"):
            xs = res.samples[f"{op}_ms"]
            v, pct, n = tail(xs)
            m[f"{op}_p50_ms"] = {"value": statistics.median(xs), "unit": "ms", "n": len(xs)}
            m[f"{op}_tail_ms"] = {"value": v, "unit": "ms", "percentile": pct, "n": n}
        m["full_load_s"] = m.pop("full_p50_s")
        m["cycle_p50_s"] = m.pop("incr_p50_s")
    else:
        for key, name in (("full", "full_book"), ("incr", "incr_book")):
            xs = res.samples[f"{key}_s"]
            v, pct, n = tail(xs)
            m[f"{name}_p50_s"] = m.pop(f"{key}_p50_s")
            m[f"{name}_p50_s"]["n"] = len(xs)
            m[f"{name}_tail_s"] = {"value": v, "unit": "s", "percentile": pct, "n": n}
    return m


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    owns) to exit."""
    import probes

    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(probes.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    ctx = Context(args)
    prepare_env(ctx.cpus)
    import empujar_spark  # noqa: F401  (fails fast outside a checkout)
    import probes
    import workloads
    from spans import JobCounter, Tracer

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload](ctx)
    res = workloads.Result()
    host = probes.host_facts(HEAP)

    with probes.RssSampler() as rss:
        gen_s = []
        for _ in range(3):  # inputs are a pure function of the seed
            t = time.perf_counter()
            ctx.sizes = wl.generate()
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        from empujar_spark import get_spark

        ctx.spark = get_spark(f"perfbench-{args.workload}", extra_conf=spark_conf())
        res.layer["get_spark_s"] = time.perf_counter() - t
        try:
            ctx.jobs = JobCounter(ctx.spark.sparkContext)
            t = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t
            # process start until ready, the repeated generation at its median
            setup_s = time.perf_counter() - T0 - sum(gen_s) + statistics.median(gen_s)

            if ctx.trace:
                ctx.tracer = Tracer(ctx.jobs if args.workload == "incremental_sync" else None)
                install_tracing(ctx.tracer)
            t_run = time.perf_counter()
            try:
                wl.run(res, t_run + args.seconds)
            finally:
                measured_s = time.perf_counter() - t_run
                if ctx.tracer:
                    ctx.tracer.restore()
        except BaseException:
            stop_spark(ctx.spark)
            raise
    res.sizes.update(ctx.sizes)

    e2e = {
        "setup_s": setup_s,
        "full_p50_s": statistics.median(res.samples["full_s"]),
        "incr_p50_s": statistics.median(res.samples["incr_s"]),
        "rows_per_s": statistics.median(res.samples["rows_per_s"]),
        "write_amp": statistics.median(res.samples["write_amp"]),
        "space_amp": statistics.median(res.samples["space_amp"]),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "measured_s": measured_s, "host": host,
        "setup_parts_s": {"generate_median": statistics.median(gen_s),
                          "get_spark": res.layer["get_spark_s"], "warm_up": warm_s},
        "sizes": res.sizes, "metrics": detail(res, args.workload, e2e, rss.peak_mb),
        "errors": res.errors, "samples": res.samples,
    }
    if ctx.trace:
        layers = layer_metrics(ctx, res)
        report["layers"] = layers
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.jsonl"))
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    stop_spark(ctx.spark)
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": res.failed == 0, "attempted": res.attempted,
        "failed": res.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
