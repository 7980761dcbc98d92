"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the seed
under ``.perfbench_work/`` (nothing outside the checkout is read or
written), starts Spark as ``local[<cpus>]`` with as many shuffle partitions,
runs untimed warm-up passes, then closed-loop timed passes (one client,
each op after the previous one returns) until ``--seconds`` have passed and
the workload's minimum pass count is reached. Outputs are checked on every
pass and against the DuckDB oracle once per run.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (wall seconds from
process start to the first timed op), ``pass_cpu_s`` (median CPU seconds of
this process, the JVM and the Python workers per timed pass) and
``rows_per_cpu_s`` (input rows per CPU second over the timed passes). The
wall-clock pass time, rows per second, op latency median and tail, peak RSS
and the CPU time the host stole go to the record and stderr.
``--trace 1`` alternates untraced and traced passes and prints the
per-layer metrics, including the tracing overhead. Both print a human
summary on stderr, write the full record (and the spans, when traced) to
``.perfbench_work/results/``, and end stdout with one JSON line:
{correct, attempted, failed, metrics}.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import procs  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

#: Passes each workload completes in every run, however fast it is.
MIN_PASSES = {"analytics_mix": 1, "corpus_prep": 1, "train_feed": 6}
#: Untimed warm-up passes before the first timed op.
#: (train_feed passes keep getting cheaper for about six passes: JIT and
#: Python worker start-up)
WARMUP_PASSES = {"analytics_mix": 1, "corpus_prep": 1, "train_feed": 6}
JVM_HEAP = "2g"
#: A run that is still going after this long kills its children and exits 3.
WATCHDOG_S = 175.0
LAYERS = ("bench", "queries", "exec", "spark", "sources", "pipeline", "caching",
          "ingest", "loader")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the engine from the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # HotSpot keeps its perf-data file under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # small inputs; a capped heap keeps the JVM's footprint small and steady
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    sys.path.insert(0, ROOT)


def start_spark(work: str, traced: bool):
    from datapipelines_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.executor.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if traced:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        procs.wait_children()


# ------------------------------------------------------------------ tracing

class Patches:
    """Spans around the engine's layer functions that builders call
    internally: every module-level reference to each function is swapped
    for a traced wrapper while installed."""

    TARGETS = (
        ("datapipelines_spark.sources.parquet", "load_table", "sources"),
        ("datapipelines_spark.sources.shards", "read_tar_samples", "sources"),
        ("datapipelines_spark.functions.caching", "managed_persist", "caching"),
    )

    def __init__(self, tracer: spans.Tracer) -> None:
        self.tracer = tracer
        self.saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import importlib

        for mod_name, fn_name, layer in self.TARGETS:
            orig = getattr(importlib.import_module(mod_name), fn_name)
            wrapped = self.tracer.wrap(orig, fn_name, layer)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("datapipelines_spark"):
                    continue
                if getattr(mod, fn_name, None) is orig:
                    self.saved.append((mod, fn_name, orig))
                    setattr(mod, fn_name, wrapped)

    def remove(self) -> None:
        while self.saved:
            mod, fn_name, orig = self.saved.pop()
            setattr(mod, fn_name, orig)


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command`` (installed only in traced passes)."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client

    def install(self) -> None:
        orig = self.client.send_command
        self._count = counter = itertools.count()

        def send_command(*a, **k):
            next(counter)  # atomic under the GIL, unlike += on a shared int
            return orig(*a, **k)

        self.client.send_command = send_command

    def remove(self) -> int:
        """Uninstall; return the number of calls since ``install``."""
        del self.client.send_command
        return next(self._count)


def ancestors(by_id: dict[int, spans.Span], s: spans.Span):
    while s.parent is not None:
        s = by_id[s.parent]
        yield s


def layer_metrics(tracer: spans.Tracer, pass_span: spans.Span, jobs: list[spans.Job],
                  stages: dict[int, dict], python: dict[int, dict], op_stats: list[dict],
                  result: workloads.PassResult, py4j_calls: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    sub = tracer.descendants(pass_span.id)
    ops = [s for s in sub if s.attrs.get("op")]
    spans.attribute_jobs(jobs, ops)
    spans.place_jobs(tracer, jobs)
    sub = [pass_span] + tracer.descendants(pass_span.id)
    by_id = {s.id: s for s in tracer.spans}

    def busy(layer: str, name: str | None = None) -> float:
        chosen = [s for s in sub if s.layer == layer and (name is None or s.name == name)]
        ids = {s.id for s in chosen}
        # nested spans of the same layer count once
        return sum(s.end - s.start for s in chosen
                   if not any(a.id in ids for a in ancestors(by_id, s)))

    self_t = spans.layer_self_times(sub)
    m: dict[str, float] = {f"self_s.{layer}": self_t.get(layer, 0.0) for layer in LAYERS}
    job_spans = [s for s in sub if s.layer == "spark"]
    m["queries.build_s"] = busy("queries")
    m["queries.build_jobs"] = sum(
        1 for s in job_spans if any(a.layer == "queries" for a in ancestors(by_id, s)))
    m["py4j.calls"] = py4j_calls
    m["exec.s"] = busy("exec")
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    for key, field in (("spark.tasks", "tasks"), ("spark.executor_run_s", "run_s"),
                       ("spark.executor_cpu_s", "cpu_s"), ("spark.gc_s", "gc_s"),
                       ("shuffle.write_bytes", "shuffle_write"),
                       ("shuffle.read_bytes", "shuffle_read"), ("spill.bytes", "spill"),
                       ("scan.input_bytes", "input_bytes"), ("scan.input_rows", "input_rows")):
        m[key] = sum(st[field] for st in stages.values())
    per_op: dict[int, list[spans.Job]] = {}
    for j in jobs:
        if j.op is not None:
            per_op.setdefault(j.op, []).append(j)
    m["spark.job_gap_s"] = sum(spans.job_gap(js) for js in per_op.values())
    m["trace.unattributed_jobs"] = sum(1 for j in jobs if j.op is None)
    m["sources.load_s"] = busy("sources")
    m["pipeline.build_s"] = busy("pipeline")
    python = list(python.values()) + ([result.extras["python"]]
                                      if "python" in result.extras else [])
    m["python.rows"] = sum(p["rows"] for p in python)
    m["python.bytes"] = sum(p["bytes"] for p in python)
    m["python.stage_run_s"] = sum(p["run_s"] for p in python)
    m["cache.persist_calls"] = sum(1 for s in sub if s.name == "managed_persist")
    m["cache.peak_bytes"] = max((o["cached_bytes"] for o in op_stats), default=0)
    m["cache.live_rdds_after_op"] = max((o["live_rdds"] for o in op_stats), default=0)
    ex = result.extras
    ticks = ex.get("tick_busy", [])
    m["ingest.tick_s"] = statistics.median(ticks) if ticks else 0.0
    m["ingest.first_tick_s"] = ticks[0] if ticks else 0.0
    m["ingest.state_bytes_per_input_byte"] = ex.get("state_bytes_per_input_byte", 0.0)
    m["ingest.state_files"] = ex.get("state_files", 0)
    m["ingest.read_asof_s"] = busy("ingest", "read_ingest_verdicts") + sum(
        s.end - s.start for s in sub
        if s.layer == "exec" and s.parent is not None
        and by_id[s.parent].name.startswith("ingest_asof_"))
    m["loader.batches"] = ex.get("batches", 0)
    m["loader.collate_s"] = busy("loader", "collation_fn")
    m["loader.wait_s"] = ex.get("wait_s", 0.0)
    m["loader.first_batch_s"] = ex.get("first_batch_s", 0.0)
    return m


# --------------------------------------------------------------------- main

def run(args: argparse.Namespace) -> int:
    if not os.path.isfile(os.path.join(ROOT, "datapipelines_spark", "__init__.py")):
        log(f"perfbench: no datapipelines_spark package under {ROOT}; "
            "run from the root of a full checkout")
        return 2
    name = args.workload
    traced = bool(args.trace)
    tag = f"{name}-s{args.seed}-t{args.trace}"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{tag}-{os.getpid()}")
    results_dir = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results_dir, exist_ok=True)
    environment(work)

    sampler = procs.RssSampler()
    sampler.start()
    wl = workloads.make(name)
    ctx = workloads.Ctx(os.path.join(work, "data"), work, args.seed)
    spark = None
    try:
        t = time.perf_counter()
        sizes = wl.prepare(ctx)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        spark = start_spark(work, traced)
        session_s = time.perf_counter() - t
        ctx.spark = spark
        wl.bind(ctx)
        log(f"[{tag}] inputs {gen_s:.2f}s, session {session_s:.2f}s")

        attempted = failed = 0
        failures: list[str] = []

        def account(res: workloads.PassResult) -> None:
            nonlocal attempted, failed
            for o in res.ops:
                attempted += 1
                if not o.ok:
                    failed += 1
                    failures.append(f"{o.name}: {o.detail}")

        # a traced run warms one pass longer, so its first untraced pass is
        # not still warming up when it is compared with the traced ones
        for i in range(WARMUP_PASSES[name] + args.trace):
            warm = wl.run_pass(ctx, 1000 + i)
            account(warm)
        setup_s = procs.process_age_s()
        log(f"[{tag}] warm-up pass {warm.seconds:.2f}s, set-up {setup_s:.2f}s")

        tracer = harvester = patches = counter = None
        if traced:
            tracer = spans.Tracer()
            harvester = spans.StatusHarvester(spark)
            patches = Patches(tracer)
            counter = Py4jCounter(spark)
            harvester.skip()
        plain: list[workloads.PassResult] = []  # untraced timed passes
        traced_passes: list[workloads.PassResult] = []
        layer_rows: list[dict[str, float]] = []
        unattributed: list[dict] = []
        # a traced run alternates untraced and traced passes
        min_passes = max(2, MIN_PASSES[name]) if traced else MIN_PASSES[name]
        t_start = time.perf_counter()
        pass_no = 0
        while pass_no < min_passes or time.perf_counter() - t_start < args.seconds:
            pass_no += 1
            if traced and pass_no % 2 == 0:
                ctx.tracer, ctx.op_stats = tracer, []
                patches.install()
                counter.install()
                with tracer.span(f"pass {pass_no}", "bench") as ps:
                    res = wl.run_pass(ctx, pass_no)
                calls = counter.remove()
                patches.remove()
                ctx.tracer = None
                harvester.settle()
                jobs, stages = harvester.new_jobs()
                python = harvester.new_python_metrics()
                layer_rows.append(layer_metrics(tracer, ps, jobs, stages, python,
                                                ctx.op_stats, res, calls))
                unattributed += [{"pass": pass_no, "job": j.job_id, "group": j.group}
                                 for j in jobs if j.op is None]
                traced_passes.append(res)
            else:
                cpu0, steal0 = procs.cpu_ticks(), procs.steal_s()
                res = wl.run_pass(ctx, pass_no)
                res.extras.update(cpu_s=procs.cpu_s_between(cpu0, procs.cpu_ticks()),
                                  steal_s=procs.steal_s() - steal0)
                if traced:
                    harvester.settle()
                    harvester.skip()
                plain.append(res)
            account(res)
        peak_mb = sampler.stop()
        checks = wl.check(ctx)
        for cname, ok, detail in checks:
            attempted += 1
            if not ok:
                failed += 1
                failures.append(f"oracle {cname}: {detail}")
    except Exception:
        log(traceback.format_exc())
        if spark is not None:
            stop_spark(spark)
        return 1
    stop_spark(spark)

    timed = plain
    samples = [x for r in timed for x in r.samples]
    latencies = [x for _, x in samples]
    record = {
        "workload": name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": cpu_count(), "inputs": sizes, "input_gen_s": gen_s,
        "warmup_pass_s": warm.seconds, "passes": len(timed), "samples": len(samples),
        "checks": checks, "failures": failures,
        "warmup_ops": [(o.name, o.latency) for o in warm.ops],
        "pass_ops": [[(o.name, o.latency) for o in r.ops] for r in timed],
        "pass_wall_cpu_steal_s": [(r.seconds, r.extras.get("cpu_s"), r.extras.get("steal_s"))
                                  for r in timed],
    }
    if not traced:
        pct, tail = spans.tail_percentile(latencies, wl.samples_per_pass() * MIN_PASSES[name])
        rows = sum(r.rows for r in timed)
        cpu = [r.extras["cpu_s"] for r in timed]
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_cpu_s": (statistics.median(cpu), "s"),
            "rows_per_cpu_s": (rows / sum(cpu), "rows/cpu_s"),
        }
        # Wall-clock figures are reported but not gated: on a shared VM the
        # host's CPU steal (steal_s) moves them by up to 2x from one minute
        # to the next; CPU seconds move far less.
        walls = [r.seconds for r in timed]
        record.update(
            pass_s=statistics.median(walls), rows_per_s=rows / sum(walls),
            op_s_p50=spans.op_p50(samples), op_tail_s=tail, tail_percentile=pct,
            rows_per_pass=rows / len(timed), peak_rss_mb=peak_mb,
            steal_s=statistics.median(r.extras["steal_s"] for r in timed))
    else:
        metrics = {k: (statistics.median(r[k] for r in layer_rows), UNITS.get(k, "count"))
                   for k in layer_rows[0]}
        base_pass = statistics.median(r.seconds for r in plain)
        traced_pass = statistics.median(r.seconds for r in traced_passes)
        metrics["trace.overhead_pct"] = ((traced_pass / base_pass - 1.0) * 100.0, "%")
        metrics["session.start_s"] = (session_s, "s")
        record.update(untraced_pass_s=base_pass, traced_pass_s=traced_pass,
                      traced_passes=len(traced_passes), unattributed_jobs=unattributed,
                      layer_table=layer_rows)
        if name == "analytics_mix":
            # the JVM-only control must send nothing to Python workers
            attempted += 1
            if metrics["python.rows"][0] or metrics["python.bytes"][0]:
                failed += 1
                failures.append("analytics_mix sent rows to Python workers")
        with open(os.path.join(results_dir, f"{tag}-spans.json"), "w") as f:
            json.dump([s.as_dict() for s in tracer.spans], f)
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    record["correct"], record["attempted"], record["failed"] = failed == 0, attempted, failed
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    summarize(record)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": record["metrics"]}))
    return 0


UNITS = {k: u for k, u in (
    [(f"self_s.{layer}", "s") for layer in LAYERS]
    + [(k, "s") for k in ("queries.build_s", "exec.s", "spark.job_gap_s",
                          "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
                          "sources.load_s", "pipeline.build_s", "python.stage_run_s",
                          "ingest.tick_s", "ingest.first_tick_s", "ingest.read_asof_s",
                          "loader.collate_s", "loader.wait_s", "loader.first_batch_s")]
    + [(k, "bytes") for k in ("shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
                              "scan.input_bytes", "python.bytes", "cache.peak_bytes")]
    + [("ingest.state_bytes_per_input_byte", "ratio")]
)}


#: Per-layer metrics grouped by layer, for the stderr layer table.
LAYER_TABLE = (
    ("session", ("session.start_s",)),
    ("queries", ("queries.build_s", "queries.build_jobs", "py4j.calls")),
    ("exec", ("exec.s",)),
    ("spark", ("spark.jobs", "spark.stages", "spark.tasks", "spark.job_gap_s",
               "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
               "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes")),
    ("sources", ("sources.load_s", "scan.input_bytes", "scan.input_rows")),
    ("pipeline", ("pipeline.build_s",)),
    ("operators", ("python.rows", "python.bytes", "python.stage_run_s")),
    ("caching", ("cache.persist_calls", "cache.peak_bytes", "cache.live_rdds_after_op")),
    ("ingest", ("ingest.tick_s", "ingest.first_tick_s", "ingest.state_bytes_per_input_byte",
                "ingest.state_files", "ingest.read_asof_s")),
    ("loader", ("loader.batches", "loader.collate_s", "loader.wait_s", "loader.first_batch_s")),
    ("bench", ()),
)


def summarize(record: dict) -> None:
    log(f"[{record['workload']} seed {record['seed']}] {record['passes']} passes, "
        f"{record['samples']} samples, correct={record['correct']} "
        f"attempted={record['attempted']} failed={record['failed']}")
    if "tail_percentile" in record:
        log(f"  wall clock: pass {record['pass_s']:.3f} s, {record['rows_per_s']:.1f} rows/s, "
            f"op p50 {record['op_s_p50']:.4g} s, op p{record['tail_percentile']:g} "
            f"{record['op_tail_s']:.4g} s ({record['samples']} samples); "
            f"peak RSS {record['peak_rss_mb']:.0f} MB; "
            f"CPU stolen by the host per pass {record['steal_s']:.2f} s")
    m = record["metrics"]
    if not record.get("trace"):
        for k, v in m.items():
            log(f"  {k:<12} {v['value']:>12.6g} {v['unit']}")
    else:
        log("  layer table (per traced pass; self_s = time in the layer itself)")
        for layer, keys in LAYER_TABLE:
            self_s = m.get(f"self_s.{layer}")
            cells = [f"self_s {self_s['value']:.3f}s"] if self_s else []
            cells += [f"{k}={m[k]['value']:.4g}" for k in keys]
            log(f"  {layer:<10} " + ", ".join(cells))
        log(f"  tracing overhead {m['trace.overhead_pct']['value']:+.1f}% of pass_s")
        log(f"  traced pass {record['traced_pass_s']:.3f}s vs untraced "
            f"{record['untraced_pass_s']:.3f}s; unattributed jobs: "
            f"{len(record['unattributed_jobs'])}")
    for f in record["failures"]:
        log(f"  FAILED {f}")


def main(argv: list[str]) -> int:
    args = parse_args(argv)

    def expire() -> None:
        log(f"perfbench: run exceeded {WATCHDOG_S:.0f}s; stopping")
        procs.wait_children(timeout_s=0)
        os._exit(3)

    watchdog = threading.Timer(WATCHDOG_S, expire)
    watchdog.daemon = True
    watchdog.start()
    try:
        return run(args)
    finally:
        watchdog.cancel()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
