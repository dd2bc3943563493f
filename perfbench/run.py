"""Closed-loop benchmark of the clinical_bi_spark engine.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 1 --trace 0

Run from the repository root. One client drives the engine's public
functions (``queries.load_all()[name].fn``, ``session.get_spark``/``warm``,
``caching.release_all``, ``sinks.write_*``) in a closed loop: each op starts
when the previous one has finished. See perfbench/README.md for the
workloads, the metrics and the layer -> metric map.

The last line of standard output is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits non-zero without that line if the engine cannot be found or set up.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import host  # noqa: E402


@dataclass(frozen=True)
class Op:
    name: str  # registry name
    sink: str = "noop"  # noop | parquet | delimited


WORKLOADS: dict[str, list[Op]] = {
    # flagship_feature_query and dashboard_extract run in clinical_etl, through
    # their sinks; leaving them out here keeps a run inside the time budget
    "bi_dashboard": [Op(n) for n in (
        "etl_cohort_conditional_agg",
        "agg_pricing_summary", "agg_rollup", "agg_percentiles", "w2_running_total",
        "evt_tumbling_window", "evt_sessionization", "evt_group_zscore_window",
        "asof_join_events", "agg_ks_two_sample", "evt_rfm_segmentation",
    )],
    # not in BENCHMARK.json (a run takes 80-130 s); run it by hand
    "corpus_curation": [Op(n) for n in (
        "dedup_minhash_lsh", "text_winnow_fingerprint", "text_boilerplate_strip",
        "dedup_jaccard_prefix", "pipeline_corpus_curation", "sim_ann_lsh",
        "dedup_semantic_cluster", "multimodal_resize", "multimodal_audio_features",
        "multimodal_image_patches",
    )],
    "clinical_etl": [
        Op("flagship_feature_query", "parquet"),
        Op("etl_cohort_conditional_agg", "parquet"),
        Op("etl_scd2_history", "parquet"),
        Op("dashboard_extract", "delimited"),
        Op("m9_mlp_train_eval"),
        # two corpus-curation operators, so the Python/Arrow boundary
        # (mapInPandas in operators.dedup and operators.multimodal) is measured
        Op("text_winnow_fingerprint"),
        Op("multimodal_resize"),
    ],
}

#: Confs that turn on Spark's event log for the traced window.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

#: Effective Spark settings printed for every session the run starts.
SHOWN_CONF = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
              "spark.sql.adaptive.enabled", "spark.eventLog.enabled")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="minimum timed time; passes are always completed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict[str, str]:
    """Set the environment the engine runs under; returns what was set."""
    for key in [k for k in os.environ if k.startswith(("CLINICAL_BI_", "CBS_"))]:
        del os.environ[key]  # every program switch stays at its default
    with open("/proc/meminfo") as f:
        mem_mib = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")  # keeps Python's and the JVM's temp files in the checkout
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": f"{min(2048, mem_mib // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp}") + " pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(pinned)
    for d in (pinned["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d, exist_ok=True)
    return pinned


def prepare_inputs(args, work: str) -> tuple[str, dict]:
    """Seeded copy of the input tables for this run, made once per seed."""
    out = os.path.join(work, "tables", f"seed{args.seed}")
    stats_path = os.path.join(out, "stats.json")
    if not os.path.exists(stats_path):
        shutil.rmtree(out, ignore_errors=True)
        stats = inputs.copy_tables(inputs.DEFAULT_DIR, out, args.seed)
        with open(stats_path, "w") as f:
            json.dump(stats, f)
    with open(stats_path) as f:
        return out, json.load(f)


def hd_quantile(samples: list[float], q: float, steps: int = 64) -> float:
    """Harrell-Davis estimate of quantile ``q``: a Beta-weighted average of
    all order statistics. With a dozen ops of unequal cost per pass, the
    plain middle order statistic jumps between op kinds from run to run;
    this estimator moves less."""
    xs = sorted(samples)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x: float) -> float:
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta)

    h = 1.0 / (n * steps)
    weights = [sum(pdf((i * steps + k + 0.5) * h) for k in range(steps)) * h for i in range(n)]
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def tail_percentile(samples: list[float]) -> tuple[float, float, float]:
    """(value, percentile, samples beyond it) for the op latency tail: the
    highest percentile with at least ten samples beyond it, but never below
    p90. A run of one pass holds a dozen ops or fewer, so there the tail is
    the Harrell-Davis p90, which weights the slowest few ops; the count
    beyond it is then below ten and is printed with it."""
    n = len(samples)
    q = max(0.9, (n - 10) / n)
    return hd_quantile(samples, q), 100.0 * q, n * (1 - q)


def emit(line: str) -> None:
    print(line, flush=True)


class Bench:
    """One benchmark run: set-up, output check, timed passes."""

    def __init__(self, args, tables_dir: str, work: str):
        from spans import Tracer

        self.args = args
        self.ops = WORKLOADS[args.workload]
        self.tables = tables_dir
        self.work = work
        self.sink_root = os.path.join(work, "sink")
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.verdicts: dict[str, str] = {}
        self.readback_ref: dict[str, tuple] = {}

    # -- session ---------------------------------------------------------
    def start_session(self, parent, conf: dict[str, str] | None = None) -> None:
        from pyspark import SparkContext

        from clinical_bi_spark.session import get_spark, warm

        for key, value in (conf or {}).items():
            # a new context reads spark.* JVM system properties as its conf
            SparkContext._jvm.java.lang.System.setProperty(key, value)
        with self.tracer.span("session.get_spark", parent):
            self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        for key in SHOWN_CONF:
            emit(f"conf {key}={self.spark.conf.get(key, '<unset>')}")
        with self.tracer.span("session.warm", parent):
            warm(self.spark)

    def stop_session(self) -> None:
        from clinical_bi_spark import caching

        caching.release_all(self.spark)
        self.spark.stop()
        self.spark = None

    # -- one op ----------------------------------------------------------
    def _write(self, op: Op, df, path: str) -> None:
        from clinical_bi_spark import sinks

        if op.sink == "parquet":
            sinks.write_parquet(df, path)
        elif op.sink == "delimited":
            sinks.write_delimited(df, path)
        else:
            df.write.format("noop").mode("overwrite").save()

    def _read_back(self, op: Op, df, path: str):
        """The written output, read back as the dashboard load step does."""
        from clinical_bi_spark import sinks

        if op.sink == "parquet":
            return self.spark.read.parquet(path)
        cleansed = sinks.cleanse_string_columns(sinks.format_booleans_tf(df))
        return self.spark.read.schema(cleansed.schema).option("sep", "|").csv(path)

    @staticmethod
    def _aggregate(back) -> tuple:
        from pyspark.sql import functions as F

        row = back.agg(F.count(F.lit(1)), *[F.count(c) for c in back.columns]).collect()[0]
        return tuple(row)

    def run_op(self, op: Op, parent, spec) -> tuple[float, float]:
        """Build, execute (and read back) one op, then release its caches;
        returns (latency, release time)."""
        from clinical_bi_spark import caching

        tr = self.tracer
        path = os.path.join(self.sink_root, op.name)
        with tr.span("op", parent, op=op.name) as span:
            t0 = time.perf_counter()
            with tr.span("queries.build", span):
                df = spec.fn(self.spark, self.tables)
            with tr.span("engine.exec" if op.sink == "noop" else "sinks.write", span) as w:
                self._write(op, df, path)
            agg = None
            if op.sink != "noop":
                with tr.span("sources.readback", span):
                    agg = self._aggregate(self._read_back(op, df, path))
            latency = time.perf_counter() - t0
            span.attrs["latency_s"] = latency
            if op.sink != "noop":
                w.attrs.update(_dir_stats(path), rows=agg[0])
            with tr.span("caching.release", span) as rel:
                if tr.sc is not None:
                    rel.attrs["storage_mb"] = _storage_mb(self.spark)
                rel.attrs["released"] = sum(caching.release_all(self.spark))
        shutil.rmtree(path, ignore_errors=True)
        if agg is not None and agg != self.readback_ref.get(op.name):
            raise AssertionError(f"read-back {agg} != checked {self.readback_ref.get(op.name)}")
        return latency, rel.dur

    # -- warm-up pass with output check ------------------------------------
    def warm_up_and_check(self, registry, parent) -> float:
        """The untimed-for-ops warm-up pass: every op runs once and its
        output is checked. Returns the set-up share of its time (checks
        excluded)."""
        import check
        from clinical_bi_spark import caching, sinks

        con = check.oracle_connection(self.tables)
        setup_s = 0.0
        for op in self.ops:
            spec = registry[op.name]
            path = os.path.join(self.sink_root, op.name)
            self.attempted += 1
            verdict = None
            try:
                with self.tracer.span("op", parent, op=op.name, warm_up=True):
                    t0 = time.perf_counter()
                    df = spec.fn(self.spark, self.tables)
                    if op.sink == "noop":
                        rows = df.collect()
                    else:
                        self._write(op, df, path)
                        back = self._read_back(op, df, path)
                        self.readback_ref[op.name] = self._aggregate(back)
                    setup_s += time.perf_counter() - t0
                    if op.sink != "noop":  # untimed: the rows written, and read back
                        rows = df.collect()
                        written = rows if op.sink == "parquet" else sinks.cleanse_string_columns(
                            sinks.format_booleans_tf(df)).collect()
                        verdict = check.against_rows(back.collect(), written, back.columns)
                    if verdict is None and spec.oracle:
                        verdict = check.against_oracle(
                            op.name, rows, df.columns, df.dtypes, con, spec.oracle)
                    elif verdict is None:
                        verdict = check.shape(op.name, rows, df.columns)
                    t1 = time.perf_counter()
                    caching.release_all(self.spark)
                    setup_s += time.perf_counter() - t1
            except Exception as exc:  # a failing op is a result, not a crash
                traceback.print_exc(file=sys.stderr)
                verdict = f"error: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            shutil.rmtree(path, ignore_errors=True)
            self.verdicts[op.name] = verdict or "ok"
            self.failed += verdict is not None
        con.close()
        return setup_s

    # -- timed passes ----------------------------------------------------
    def timed_window(self, registry, parent, seconds: float, tag: str) -> list[dict]:
        """Closed-loop passes until ``seconds`` have elapsed; each pass
        runs every op once, in an order drawn from the seed."""
        passes = []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < seconds:
            order = list(self.ops)
            random.Random(f"{self.args.seed}:{tag}:{len(passes)}").shuffle(order)
            cpu0, tree0 = host.cpu_times(), host.tree_cpu_s(os.getpid())
            with self.tracer.span("pass", parent, index=len(passes), window=tag) as pspan:
                lat, busy = {}, 0.0
                for op in order:
                    self.attempted += 1
                    t0 = time.perf_counter()
                    try:
                        lat[op.name], release_s = self.run_op(op, pspan, registry[op.name])
                        busy += lat[op.name] + release_s
                    except Exception as exc:
                        busy += time.perf_counter() - t0
                        traceback.print_exc(file=sys.stderr)
                        self.failed += 1
                        self.verdicts[op.name] = f"error in timed pass: {type(exc).__name__}"
            passes.append({"span": pspan, "latency": lat, "busy_s": busy,
                           "cpu_s": host.tree_cpu_s(os.getpid()) - tree0,
                           "steal": host.steal_frac(cpu0, host.cpu_times())})
        return passes


def _dir_stats(path: str) -> dict:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return {"files": files, "bytes": size}


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(passes: list[dict]) -> dict[str, float]:
    lats = [x for p in passes for x in p["latency"].values()]
    busy = sum(p["busy_s"] for p in passes)
    return {"ops": len(lats), "ops_per_s": len(lats) / busy, "lats": lats}


def per_layer(bench: Bench, passes: list[dict], setup: dict, window_host: dict) -> dict[str, float]:
    """Per-layer metrics: each summed per pass, median over passes."""
    import spans

    log = spans.read_event_log(os.path.join(bench.work, "eventlog"))
    spans.attach_spark_spans(bench.tracer, log)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    sums = []
    for p in passes:
        acc: dict[str, float] = {}
        for op in bench.tracer.children(p["span"]):
            if "latency_s" not in op.attrs:
                continue
            for k, v in spans.op_layers(bench.tracer, log, op).items():
                acc[k] = acc.get(k, 0.0) + v
        wall, rows = acc.pop("wall_s"), acc.pop("rows_written")
        acc["engine.cpu_busy_frac"] = acc["engine.executor_run_s"] / (wall * cores)
        acc["sinks.bytes_per_row"] = acc["sinks.bytes_written_mb"] * 2**20 / rows if rows else 0.0
        sums.append(acc)
    out = {k: _median([s[k] for s in sums]) for k in sums[0]}
    out.update(setup)
    out.update(window_host)
    return out


PER_LAYER_UNITS = {
    "session.get_spark_s": "s", "session.warm_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.driver_gap_s": "s", "engine.exec_s": "s", "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s", "engine.gc_s": "s", "engine.cpu_busy_frac": "ratio",
    "engine.input_mb": "MiB", "engine.shuffle_write_mb": "MiB",
    "engine.shuffle_read_mb": "MiB", "engine.spill_mb": "MiB",
    "operators.python_nodes": "count", "operators.python_mb_sent": "MiB",
    "caching.release_s": "s", "caching.released": "count", "caching.storage_mb": "MiB",
    "sinks.write_s": "s", "sinks.bytes_written_mb": "MiB", "sinks.files_written": "count",
    "sinks.bytes_per_row": "B", "sources.readback_s": "s",
    "host.steal_frac": "ratio", "host.loadavg": "count", "host.peak_rss_mb": "MiB",
    "trace.ops_per_s": "1/s", "trace.overhead_ops_per_s": "1/s",
}


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it and every process it
    started have exited."""
    pyspark = sys.modules.get("pyspark")
    gw = pyspark.SparkContext._gateway if pyspark else None
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        pyspark.SparkContext._gateway = None
        pyspark.SparkContext._jvm = None
    deadline = time.time() + 20
    while True:
        left = [p for p in host.tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.2)


def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "clinical_bi_spark")):
        raise SystemExit(f"clinical_bi_spark not found beside {HERE}; run from a full checkout")
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    env = pin_environment(work)
    for k, v in sorted(env.items()):
        emit(f"env {k}={v}")
    emit(f"env CLINICAL_BI_*=<program defaults> trace={args.trace} workload={args.workload} seed={args.seed}")

    sampler = host.RssSampler(os.getpid()).start()
    tables_dir, stats = prepare_inputs(args, work)
    for name, st in stats.items():
        emit(f"input {name} rows={st['rows']} bytes={st['bytes']}")
    shutil.rmtree(os.path.join(work, "eventlog"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "sink"), ignore_errors=True)

    bench = Bench(args, tables_dir, work)
    tr = bench.tracer
    root = tr.open("run", None, workload=args.workload, seed=args.seed)
    t0 = time.perf_counter()
    with tr.span("queries.load_all", root):
        from clinical_bi_spark.queries import load_all

        registry = load_all()
    bench.start_session(root)
    t_session = time.perf_counter() - t0
    with tr.span("warm_up", root) as wspan:
        setup_s = t_session + bench.warm_up_and_check(registry, wspan)
    for name, verdict in bench.verdicts.items():
        emit(f"check {name}: {verdict}")

    cpu0, load0 = host.cpu_times(), host.loadavg()
    with tr.span("window", root, traced=False) as window:
        passes = bench.timed_window(registry, window, args.seconds, "plain")
    host_ctx = {"host.steal_frac": host.steal_frac(cpu0, host.cpu_times()),
                "host.loadavg": (load0 + host.loadavg()) / 2}
    e2e = end_to_end(passes)

    layers = None
    if args.trace:
        setup_spans = {s.name: s.dur for s in tr.spans if s.name.startswith("session.")}
        bench.stop_session()
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf = dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + log_dir})
        bench.start_session(root, conf)
        with tr.span("window", root, traced=False) as rewarm:  # untimed: warm the new context
            bench.timed_window(registry, rewarm, 0, "rewarm")
        tr.sc = bench.spark.sparkContext
        cpu0, load0 = host.cpu_times(), host.loadavg()
        with tr.span("window", root, traced=True) as window:
            tpasses = bench.timed_window(registry, window, args.seconds, "traced")
        tr.sc = None
        tctx = {"host.steal_frac": host.steal_frac(cpu0, host.cpu_times()),
                "host.loadavg": (load0 + host.loadavg()) / 2}
        bench.stop_session()  # flushes the event log
        traced = end_to_end(tpasses)
        layers = per_layer(bench, tpasses, {
            "session.get_spark_s": setup_spans["session.get_spark"],
            "session.warm_s": setup_spans["session.warm"],
            "trace.ops_per_s": traced["ops_per_s"],
            "trace.overhead_ops_per_s": e2e["ops_per_s"] - traced["ops_per_s"],
        }, tctx)
    else:
        bench.stop_session()
    root.end = time.time()
    peak_mb = sampler.stop()

    import spans

    spans.dump(tr, os.path.join(work, "spans", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    for p in passes:
        emit(f"pass wall={p['busy_s']:.4f} cpu={p['cpu_s']:.2f} steal={p['steal']:.4f} "
             + json.dumps({k: round(v, 4) for k, v in p["latency"].items()}))
    tail, pct, beyond = tail_percentile(e2e["lats"])
    emit(f"op_tail_s is the Harrell-Davis p{pct:.1f} of {len(e2e['lats'])} ops, "
         f"{beyond:.1f} beyond it")
    emit(f"failed_frac {bench.failed / bench.attempted:.4f} ratio ({bench.failed}/{bench.attempted})")
    emit(f"peak_rss_mb {peak_mb:.1f} MiB, peak by process: " + json.dumps(
        {k: round(v / 2**20, 1) for k, v in sampler.peak_by_name.items()}))
    for k, v in host_ctx.items():
        emit(f"{k} {v:.4f}")

    if layers is not None:
        layers["host.peak_rss_mb"] = peak_mb
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ops_per_s": {"value": e2e["ops_per_s"], "unit": "1/s"},
            "op_p50_s": {"value": hd_quantile(e2e["lats"], 0.5), "unit": "s"},
            "op_tail_s": {"value": tail, "unit": "s"},
        }
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        result = run(args)
    finally:
        shutdown_jvm()  # also on failure: leave no JVM or Python worker behind
    emit(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
