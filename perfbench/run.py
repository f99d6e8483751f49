#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop workload per run.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 \\
        --seconds 14 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed`` under ``.perfbench_work/`` (never elsewhere), sets the
engine up, primes it with untimed cycles of the workload's job mix,
runs whole timed cycles until the jobs have been busy for
``--seconds``, checks the outputs outside every timed job, and prints
a table of metrics followed, on the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` its
per-layer metrics.  The full record (environment stamp, per-type
breakdown, and in a traced run every span) goes to
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "samplebatchprocessing_spark"
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def set_environment(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work`` and
    make the engine importable on the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} "
        f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData' pyspark-shell")


def instrument(tracer) -> None:
    """Traced run only: spans around the engine's catalog and
    commit-log entry points wherever engine code calls them."""
    import functools

    from samplebatchprocessing_spark import catalog
    from samplebatchprocessing_spark.pipeline import manifest

    def wrap(fn, name):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)
        return traced

    load = catalog.load_table
    traced_load = wrap(load, "catalog.load")
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PACKAGE) and \
                getattr(mod, "load_table", None) is load:
            mod.load_table = traced_load
    manifest.commit_log = wrap(manifest.commit_log, "pipeline.commit_log")


class Session:
    """Builds the engine session for one workload."""

    def __init__(self, w, ctx, cores: int) -> None:
        self.w, self.ctx, self.cores = w, ctx, cores

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from samplebatchprocessing_spark import catalog, session
        tr, ctx = self.ctx.tracer, self.ctx
        with tr.span("session.start"):
            ctx.spark = session.get_spark(
                "perfbench", master=f"local[{self.cores}]",
                extra_conf={"spark.driver.memory": DRIVER_MEMORY})
            # the workers import the package from PYTHONPATH (see
            # set_environment); ship_package would write its zip
            # outside the checkout
            session._SHIPPED.add(id(ctx.spark.sparkContext))
        with tr.span("catalog.attach"):
            for name in self.w.tables:
                catalog.load_table(ctx.spark, ctx.data_dir, name) \
                    .createOrReplaceTempView(name)
        with tr.span("session.warmup"):
            # executors and the shuffle path; the Python workers start
            # in the priming cycle
            (ctx.spark.range(self.cores * 1000).repartition(self.cores)
             .groupBy((F.col("id") % 10).alias("g")).count()
             .write.format("noop").mode("overwrite").save())

    def shutdown(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext
        if self.ctx.spark is not None:
            self.ctx.spark.stop()
            self.ctx.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()      # the JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def run_loop(w, ctx, seconds: float, trace: bool, cursor) -> tuple:
    """``w.prime_cycles`` untimed priming cycles of the job mix (JIT,
    codegen and worker caches fill), then whole cycles of the seeded
    mix, one job at a time, until the timed jobs have been busy
    ``seconds``.  A traced run also runs at least two timed cycles, so
    that every type runs both traced and untraced."""
    rng = random.Random(ctx.seed)
    n = len(w.mix)
    prime = w.prime_cycles * n
    jobs: list[dict] = []
    seen = dict.fromkeys(w.mix, 0)
    prime_s = check_s = busy = 0.0
    i = 0
    while (i < prime or busy < seconds or i % n
           or (trace and i < prime + 2 * n)):
        if i % n == 0:
            cycle = list(w.mix)
            rng.shuffle(cycle)
        jtype = cycle[i % n]
        # timed runs of a type alternate traced and untraced, half the
        # types starting each way, so every pair of cycles has both
        traced = trace and i >= prime and \
            (seen[jtype] + w.mix.index(jtype)) % 2 == 0
        rec, chk = run_job(w, ctx, i, jtype, traced, cursor)
        check_s += chk
        if i < prime:
            prime_s += rec["wall_s"]
        else:
            seen[jtype] += 1
            jobs.append(rec)
            busy += rec["wall_s"]
        i += 1
    return jobs, prime_s, check_s


def run_job(w, ctx, i: int, jtype: str, traced: bool, cursor) -> tuple:
    """Job ``i`` with its untimed preparation and output check."""
    import procstat
    tracer = ctx.tracer
    w.before_job(ctx, i, jtype)
    if traced:
        cursor.skip()
    tracer.enabled, tracer.job = traced, i
    cpu0 = procstat.tree_cpu_s()
    t0 = time.perf_counter()
    ok, items, nbytes = True, 0, 0
    try:
        with tracer.span("job", type=jtype):
            items, nbytes = w.run_job(ctx, i, jtype)
    except Exception:
        traceback.print_exc()
        ok = False
    wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu_s() - cpu0
    tracer.enabled = False
    rec = {"i": i, "type": jtype, "wall_s": wall, "cpu_s": cpu, "ok": ok,
           "items": items, "bytes": nbytes, "from_tables": bool(w.tables),
           "traced": traced}
    if traced:
        rec["exec"] = cursor.read()
    tc = time.perf_counter()
    if ok:
        rec["outputs"], rec["failed_outputs"] = w.after_job(ctx, i, jtype)
        if traced:
            rec["counters"] = w.job_counters(ctx, i, jtype)
    w.cleanup_job(ctx, i)
    return rec, time.perf_counter() - tc


def summarize_e2e(jobs, setup_s: float, peak_mb: float) -> dict:
    import stats
    ok = [j for j in jobs if j["ok"]]
    walls = [j["wall_s"] for j in ok]
    by_type: dict[str, list[float]] = {}
    for j in ok:
        by_type.setdefault(j["type"], []).append(j["wall_s"])
    busy = sum(walls)
    return {
        "setup_s": (setup_s, "s"),
        "job_p50_s": (statistics.median(walls), "s"),
        "query_geomean_s": (stats.type_geomean(by_type), "s"),
        "items_per_s": (sum(j["items"] for j in ok) / busy, "items/s"),
        "input_mb_per_s": (sum(j["bytes"] for j in ok) / busy / 2**20,
                           "MB/s"),
        "cpu_s_per_job": (sum(j["cpu_s"] for j in ok) / len(ok), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


LAYER_SPANS = {
    # per-layer metric -> the span whose self time it reports
    "catalog.load_s": "catalog.load",
    "queries.build_s": "queries.build",
    "operators.build_s": "operators.build",
    "exec.s": "exec.run",
    "exec.plan_s": "exec.plan",
    "pipeline.drain_s": "pipeline.drain",
    "pipeline.commit_log_s": "pipeline.commit_log",
    "job.glue_s": "job",
}
EXEC_MEANS = {
    "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.executor_cpu_s": "executor_cpu_s", "exec.gc_s": "gc_s",
    "exec.shuffle_read_mb": "shuffle_read_mb",
    "exec.shuffle_write_mb": "shuffle_write_mb",
    "exec.spill_mb": "spill_mb", "exec.python_mb": "python_mb",
}


def layer_metrics(jobs: list[dict], selft: dict, cores: int) -> dict:
    """Per-layer metrics over the traced jobs ``jobs``: mean per job of
    each layer's self time and of each counter, ratios over sums."""
    n = max(len(jobs), 1)
    out = {}
    for metric, span in LAYER_SPANS.items():
        out[metric] = sum(selft.get((j["i"], span), 0.0) for j in jobs) / n
    ex = [j.get("exec", {}) for j in jobs]
    for metric, key in EXEC_MEANS.items():
        out[metric] = sum(e.get(key, 0) for e in ex) / n
    task_s = sum(e.get("task_s", 0.0) for e in ex)
    wall_s = sum(j["wall_s"] for j in jobs)
    out["exec.narrow_stage_share"] = (
        sum(e.get("narrow_task_s", 0.0) for e in ex) / task_s
        if task_s else 0.0)
    out["exec.parallel_eff"] = task_s / (wall_s * cores) if wall_s else 0.0
    tabled = [j for j in jobs if j["from_tables"]]
    out["catalog.input_rows"] = sum(j["items"] for j in tabled) / n
    out["catalog.input_mb"] = sum(j["bytes"] for j in tabled) / n / 2**20
    cnt = [j.get("counters", {}) for j in jobs]
    for key in ("pipeline.micro_batches", "pipeline.files_ok",
                "pipeline.files_failed"):
        out[key] = sum(c.get(key, 0) for c in cnt) / n
    files = out["pipeline.files_ok"] + out["pipeline.files_failed"]
    out["pipeline.ok_ratio"] = out["pipeline.files_ok"] / files \
        if files else 0.0
    written = sum(c.get("pipeline.written_bytes", 0) for c in cnt)
    read = sum(c.get("pipeline.input_bytes", 0) for c in cnt)
    out["pipeline.write_amp"] = written / read if read else 0.0
    lsh = [e for j, e in zip(jobs, ex) if j["type"] == "ngram_lsh"]
    cand = sum(e.get("join_rows_max", 0) for e in lsh)
    ver = sum(e.get("output_rows", 0) for e in lsh)
    out["dedup.candidate_pairs"] = cand / len(lsh) if lsh else 0.0
    out["dedup.verified_pairs"] = ver / len(lsh) if lsh else 0.0
    out["dedup.verify_ratio"] = ver / cand if cand else 0.0
    return out


def per_layer(tracer, jobs: list[dict], mix: tuple, prime_s: float,
              check_s: float, cores: int) -> tuple[dict, dict]:
    """Every per-layer metric, in aggregate and by job type, from the
    spans' self times (the set-up's carry no job id), and the
    status-store counters of the traced jobs."""
    selft = tracer.self_times()
    by_job: dict = {}
    for s in tracer.spans:
        by_job[s.job, s.name] = by_job.get((s.job, s.name), 0.0) + \
            selft[s.sid]
    traced = [j for j in jobs if j["traced"] and j["ok"]]
    layers = layer_metrics(traced, by_job, cores)
    per_type = {t: layer_metrics([j for j in traced if j["type"] == t],
                                 by_job, cores) for t in mix}
    for metric, span in (("session.start_s", "session.start"),
                         ("session.warmup_s", "session.warmup"),
                         ("catalog.attach_s", "catalog.attach")):
        layers[metric] = by_job.get((None, span), 0.0)
    layers["session.prime_s"] = prime_s
    layers["oracle.check_s"] = check_s
    layers["trace.overhead_share"] = tracing_overhead(jobs)
    layers["trace.job_p50_s"] = statistics.median(
        [j["wall_s"] for j in traced] or [0.0])
    return layers, per_type


def tracing_overhead(jobs: list[dict]) -> float:
    """Geometric mean over job types of (median traced wall / median
    untraced wall), minus 1; both kinds ran in the same process."""
    import stats
    ratios = []
    for jtype in {j["type"] for j in jobs}:
        tr = [j["wall_s"] for j in jobs if j["type"] == jtype and j["ok"]
              and j["traced"]]
        un = [j["wall_s"] for j in jobs if j["type"] == jtype and j["ok"]
              and not j["traced"]]
        if tr and un:
            ratios.append(statistics.median(tr) / statistics.median(un))
    return stats.geomean(ratios) - 1.0 if ratios else 0.0


def count_failures(w, jobs: list[dict], checks: dict) -> tuple[int, int]:
    """(attempted, failed).  A workload that checks each job's outputs
    counts per output, and a job that raised fails all of its outputs;
    otherwise it counts per job, and a job fails if it raised or its
    type failed the run's check."""
    bad_types = {t for t, ok in checks.items() if not ok}
    attempted = failed = 0
    for j in jobs:
        if w.files_per_job:
            n = j["outputs"] if j["ok"] else w.files_per_job
            attempted += n
            failed += j["failed_outputs"] if j["ok"] else n
        else:
            attempted += 1
            failed += not j["ok"] or j["type"] in bad_types
    return attempted, failed


def environment_stamp(args, w, cores: int, manifest: dict) -> dict:
    import duckdb
    import pyspark
    return {"cpus": cores, "cpu_count": os.cpu_count(),
            "spark": pyspark.__version__, "python": platform.python_version(),
            "duckdb": duckdb.__version__, "platform": platform.platform(),
            "workload": w.name, "seed": args.seed, "k": 1,
            "item": w.item, "seconds": args.seconds, "trace": args.trace,
            "inputs": manifest}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the engine package {PACKAGE}/ is not in "
              f"{ROOT}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{w.name}-s{args.seed}-p{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    set_environment(work)

    import procstat
    import stats
    import sparkstat

    tg = time.perf_counter()
    data_dir = os.path.join(work, "data")
    manifest = w.make_inputs(data_dir, args.seed)
    gen_s = time.perf_counter() - tg

    tracer = stats.Tracer(enabled=bool(args.trace))
    ctx = workloads.Ctx(tracer, data_dir, work, args.seed, cores,
                        manifest)
    sess = Session(w, ctx, cores)
    try:
        with procstat.RssSampler() as rss:
            tracer.enabled, tracer.job = bool(args.trace), None
            with tracer.span("setup"):
                sess.setup()
            # from process start, less the benchmark's own data generation
            setup_s = procstat.process_age_s() - gen_s
            if args.trace:
                from samplebatchprocessing_spark.queries import registry
                registry()          # import every module that calls in
                instrument(tracer)
            cursor = sparkstat.Cursor(ctx.spark) if args.trace else None
            jobs, prime_s, check_s = run_loop(w, ctx, args.seconds,
                                              bool(args.trace), cursor)
        tc = time.perf_counter()
        checks = w.check(ctx)
        check_s += time.perf_counter() - tc
    finally:
        sess.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    if not any(j["ok"] for j in jobs):
        print("perfbench: every job failed; see the tracebacks above",
              file=sys.stderr)
        return 1
    attempted, failed = count_failures(w, jobs, checks)
    e2e = summarize_e2e(jobs, setup_s, rss.peak_mb)
    e2e["fail_ratio"] = (failed / attempted, "ratio")

    record = {"env": environment_stamp(args, w, cores, manifest),
              "gen_s": gen_s, "setup_s": setup_s, "prime_s": prime_s,
              "checks": checks, "oracle.check_s": check_s,
              "jobs": jobs, "e2e": {k: v for k, (v, _) in e2e.items()}}
    if args.trace:
        layers, per_type = per_layer(tracer, jobs, w.mix, prime_s, check_s,
                                     cores)
        record.update(per_layer=layers, per_type=per_type,
                      spans=tracer.to_records())
        units = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
        metrics = {m: (layers[m], units[m]) for m in units}
    else:
        units = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
        metrics = {m: e2e[m] for m in units}

    out = os.path.join(results, f"{w.name}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"# {w.name} seed={args.seed} cpus={cores} jobs={len(jobs)} "
          f"item={w.item} checks={checks} record={os.path.relpath(out)}")
    if args.trace:
        for t, lm in per_type.items():
            print(f"#   {t}: " + " ".join(
                f"{k}={v:.4g}" for k, v in lm.items() if v))
    shown = dict(metrics)
    if not args.trace:       # carried as failed/attempted in the JSON
        shown["fail_ratio"] = e2e["fail_ratio"]
    for name, (value, unit) in shown.items():
        print(f"{name:<28} {value:>14.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
