"""Benchmark of the analytics engine, end to end and layer by layer.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload olap_llm --seed 1 --seconds 22 --trace 0

One process, one closed-loop client: the next operation starts only when
the previous one has returned. A run

1. generates its inputs from ``--seed`` (not timed);
2. sets up: starts the session through ``session.get_session`` on
   ``local[N]`` (N = min(4, cores)) with a 2 GiB driver heap, loads the
   query registry and registers the Excel format, and calls every
   operation once, in the listed order. These calls write the program's
   on-disk fixtures (every run starts without them: always cold) and
   start the Python workers; their outputs are checked outside the timer;
3. runs rounds, as many as fit ``--seconds`` at the workload's nominal
   round time (``workloads.json``), so that every run of a workload does
   the same work: each operation once, in a seeded order that never
   starts with the operation the previous round ended on, each call
   followed at once by a second call of the same operation (the rerun,
   with the session's caches warm).

End-to-end metrics:

- ``setup_s``: the session's start counted from process start (input
  generation excluded), the registry load, and the warm-up calls (their
  output checks excluded);
- ``round_s`` / ``rerun_s``: a typical round's cold calls / reruns, as
  the sum over operations of each one's median across rounds;
- ``op_tail_s``: each round's slowest cold call, medianed over rounds.

Only the first three are bounded in BENCHMARK.json (see ``E2E_KEYS``).

The last line of standard output is one JSON object. With ``--trace 0``
its metrics are the end-to-end ones. With ``--trace 1`` rounds alternate
untraced and traced (at least three, starting untraced), and its metrics
are the per-layer numbers of the traced rounds and the tracing overhead.
A report with every metric, per-operation detail, sample counts and the
host's shape and load goes to standard error; a traced run also writes
its spans to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_excel_datasource_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench")

#: a call running longer than this is cancelled and counted as failed
CALL_TIMEOUT_S = 60.0
#: the session's 16g default exceeds small hosts
DRIVER_MEM = "2g"
#: the end-to-end metrics of the last output line. The report on
#: standard error adds op_p50_s, op_tail_s, peak_rss_mb and failed_ratio:
#: single-call latencies and the JVM's peak RSS swing by a fifth or more
#: between runs on a shared 4-core host, too much to bound.
E2E_KEYS = ("setup_s", "round_s", "rerun_s")

#: per-layer counters reported for reruns too: what separates a cold
#: call from a warm one
RERUN_KEYS = (
    "operators.build_s",
    "operators.build_jobs",
    "spark.jobs",
    "spark.tasks",
    "spark.exec_s",
    "cache.scans",
)


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: how fast the host runs one
    thread now, to tell a slow host from a slow program."""
    t0 = time.perf_counter()
    x = 0
    for k in range(2_000_000):
        x += k * k
    return time.perf_counter() - t0


class Runner:
    def __init__(self, args):
        import ops

        self.args = args
        self.spec = ops.WORKLOADS[args.workload]
        self.names = list(self.spec["operations"])
        self.rng = random.Random(args.seed)
        self.work = os.path.join(OUT_DIR, f"work-{args.workload}-{os.getpid()}")
        self.cores = max(1, min(4, os.cpu_count() or 1))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.correct = True
        self.tracer = None
        self.host: dict = {"cores": self.cores, "nproc": os.cpu_count(),
                           "driver_memory": DRIVER_MEM, "seed": args.seed}

    # -- set-up ------------------------------------------------------------

    def generate(self):
        import datagen
        import ops

        sf_dir = os.path.join(self.work, "sf_bench")
        datagen.write_tables(datagen.tpch_tables(self.args.seed), sf_dir)
        xlsx_dir = os.path.join(self.work, "xlsx")
        truth = datagen.workbook_dir(self.args.seed, xlsx_dir, ops.XLSX_FILES, ops.XLSX_ROWS)
        sink = datagen.sink_frame(self.args.seed, ops.SINK_ROWS)
        return sf_dir, xlsx_dir, truth, sink

    def start_session(self):
        # Python workers inherit the driver JVM's environment: put the
        # checkout on their import path, and keep every scratch file of
        # Spark and Python inside the work directory.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        # the JVMs' perf-data files would go to /tmp whatever the tmpdir
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        from pyspark_excel_datasource_spark.session import get_session

        return get_session(
            "perfbench",
            cpus=self.cores,
            extra_conf={
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # the traced rounds read every job, stage and execution back
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )

    # -- calls -------------------------------------------------------------

    def call(self, name: str, op, inputs, checked=False, parent=None, tag=None):
        """One operation call. Returns its wall and build seconds and its
        result, or None when it raised or ran out of time. ``checked``
        selects the operation's collecting execute; ``parent``/``tag`` put
        the call under a traced round's span and job group."""
        sc = inputs.spark.sparkContext
        self.attempted += 1
        timer = threading.Timer(CALL_TIMEOUT_S, sc.cancelAllJobs)
        if tag is not None:
            sc.setJobGroup(tag, name)
        timer.start()
        try:
            w0, t0 = time.time(), time.perf_counter()
            handle = op.build(inputs)
            w1, t1 = time.time(), time.perf_counter()
            result = (op.collect if checked and op.collect else op.execute)(handle)
            w2, t2 = time.time(), time.perf_counter()
        except Exception as e:  # a failing call is counted and the run goes on
            self.fail(name, type(e).__name__, str(e))
            return None
        finally:
            timer.cancel()
        if t2 - t0 > CALL_TIMEOUT_S:
            self.fail(name, "Timeout", f"{t2 - t0:.1f}s")
            return None
        out = {"s": t2 - t0, "build_s": t1 - t0, "result": result}
        if tag is not None:
            tr = self.tracer
            span = tr.add("call", w0, w2, parent, tag, op=name)
            out["spans"] = (span, tr.add("build", w0, w1, span, tag),
                            tr.add("execute", w1, w2, span, tag))
        return out

    def fail(self, name: str, kind: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {kind}")
        print(f"FAILED {name}: {kind}: {detail[:300]}", file=sys.stderr)

    # -- main --------------------------------------------------------------

    def run(self) -> dict:
        import ops

        shutil.rmtree(self.work, ignore_errors=True)
        t = time.perf_counter()
        sf_dir, xlsx_dir, xlsx_truth, sink_truth = self.generate()
        gen_s = time.perf_counter() - t
        self.host["loadavg_before"] = os.getloadavg()
        self.host["cpu_probe_s_before"] = _cpu_probe()

        spark = self.start_session()
        session_s = _process_age() - gen_s
        t = time.perf_counter()
        from pyspark_excel_datasource_spark.plans.registry import ORACLES, load_all_queries
        from pyspark_excel_datasource_spark.sources import excel_queries
        from pyspark_excel_datasource_spark.sources.excel import register_excel

        queries = load_all_queries()
        register_excel(spark)
        registry_s = time.perf_counter() - t
        # The program's derived fixtures go under the work directory, so a
        # run reads and writes only inside its checkout and starts cold.
        excel_queries._FIXTURE_ROOT = os.path.join(self.work, "fixtures")

        inputs = ops.Inputs(
            spark, queries, ORACLES, sf_dir, xlsx_dir, xlsx_truth, sink_truth, self.work
        )
        inputs.sink_df = spark.createDataFrame(sink_truth).repartition(ops.SINK_PARTITIONS)
        operations = {n: ops.operation(n) for n in self.names}
        extra = {}
        if self.args.trace:
            extra.update(self.catalog_probe(spark, sf_dir))

        # warm-up: one call of every operation, checked outside the timer,
        # in the listed order, so that the same operation always meets the
        # fresh JVM
        warm: dict[str, float] = {}
        for n in self.names:
            res = self.call(n, operations[n], inputs, checked=True)
            if res is None:
                self.correct = False  # an output that was never checked
                continue
            warm[n] = res["s"]
            try:
                operations[n].check(inputs, res["result"])
            except ops.CheckFailed as e:
                self.correct = False
                self.fail(n, "CheckFailed", str(e))
        # start the rounds from a collected heap
        spark._jvm.java.lang.System.gc()
        setup = {
            "session.start_s": session_s,
            "registry.load_s": registry_s,
            "warmup_s": sum(warm.values()),
        }

        if self.args.trace:
            import layers

            self.tracer = layers.Tracer(spark)
            self.tracer.listen()

        # A fixed number of rounds per workload, about --seconds long on a
        # 4-core host, so every run measures the same work; a traced run
        # brackets its traced round by two untraced ones.
        n_rounds = max(3 if self.args.trace else 1,
                       round(self.args.seconds / self.spec["round_s_nominal"]))
        rounds: list[dict] = []
        last = self.names[-1]
        run_span = None
        if self.tracer is not None:
            run_span = self.tracer.add("run", time.time(), 0.0, None, None,
                                       workload=self.args.workload, seed=self.args.seed)
        for k in range(n_rounds):
            traced = bool(self.args.trace) and k % 2 == 1
            rounds.append(self.round(k, operations, inputs, last, traced, run_span))
            last = rounds[-1]["order"][-1]

        if self.tracer is not None:
            self.tracer.spans[run_span].end = time.time()
            extra.update(self.snapshot_probe(inputs))
            if any(n.startswith("excel_") for n in self.names):
                extra.update(self.infer_probe(inputs))
            self.tracer.stop()
        self.host["loadavg_after"] = os.getloadavg()
        self.host["cpu_probe_s_after"] = _cpu_probe()
        rss_mb = self.peak_rss_mb(spark)
        gateway = spark.sparkContext._gateway
        spark.stop()
        # The driver JVM (and with it the Python workers) exits at the end
        # of its standard input; wait until it has.
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)
        return {"setup": setup, "warmup_per_op_s": warm, "rounds": rounds,
                "peak_rss_mb": rss_mb, "extra": extra, "tracer": self.tracer}

    def round(self, k, operations, inputs, last, traced, run_span=None) -> dict:
        order = self.names[:]
        self.rng.shuffle(order)
        if order[0] == last and len(order) > 1:
            order[0], order[1] = order[1], order[0]
        cold, rerun = {}, {}
        rspan = None
        if traced:
            self.tracer.sync()
            rspan = self.tracer.add("round", time.time(), 0.0, run_span, None, k=k)
        for n in order:
            for kind, dest in (("cold", cold), ("rerun", rerun)):
                tag = f"r{k}-{n}-{kind}" if traced else None
                res = self.call(n, operations[n], inputs, parent=rspan, tag=tag)
                if res is None:
                    continue
                res.pop("result")
                if traced:
                    res["layers"] = self.tracer.collect_call(*res.pop("spans"))
                dest[n] = res
        if traced:
            self.tracer.spans[rspan].end = time.time()
        return {
            "k": k,
            "span": rspan,
            "traced": traced,
            "order": order,
            "cold": cold,
            "rerun": rerun,
            "round_s": sum(v["s"] for v in cold.values()),
            "rerun_s": sum(v["s"] for v in rerun.values()),
        }

    # -- layer probes for the traced run ----------------------------------

    @staticmethod
    def catalog_probe(spark, sf_dir) -> dict:
        """``catalog.table`` on a table not yet loaded, then again (memo)."""
        from pyspark_excel_datasource_spark import catalog

        t0 = time.perf_counter()
        catalog.table(spark, sf_dir, "lineitem")
        t1 = time.perf_counter()
        catalog.table(spark, sf_dir, "lineitem")
        t2 = time.perf_counter()
        return {"catalog.table_cold_s": t1 - t0, "catalog.table_memo_s": t2 - t1}

    def snapshot_probe(self, inputs) -> dict:
        """Lakehouse metadata work alone: the Delta log replay and the
        Iceberg manifest walk of the fixtures the scans read, when the
        workload built them."""
        from pyspark_excel_datasource_spark.sources import deltalog, iceberg

        root = os.path.join(self.work, "fixtures", os.path.basename(inputs.sf_dir))
        out = {}
        for key, path, fn in (
            ("sources.deltalog.snapshot_s", "orders_delta", deltalog.snapshot),
            ("sources.iceberg.snapshot_s", "orders_iceberg", iceberg.snapshot_iceberg),
        ):
            full = os.path.join(root, path)
            if os.path.isdir(full):
                t0 = time.perf_counter()
                fn(full)
                out[key] = time.perf_counter() - t0
        return out

    @staticmethod
    def infer_probe(inputs) -> dict:
        """The Excel connector's schema inference alone: ``load`` of the
        workbook directory without a schema."""
        t0 = time.perf_counter()
        inputs.spark.read.format("excel").load(inputs.xlsx_dir)
        return {"sources.excel.infer_s": time.perf_counter() - t0}

    @staticmethod
    def peak_rss_mb(spark) -> float:
        """Peak RSS of the driver JVM (VmHWM) plus this Python process."""
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            hwm_kb = next(int(x.split()[1]) for x in fh if x.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + py_kb) / 1024.0


# ---------------------------------------------------------------------------
# reports
# ---------------------------------------------------------------------------


def _typical_round(rounds: list[dict], kind: str) -> float:
    """Wall time of a typical round: the sum over operations of each
    operation's median call time across the rounds (with one round, that
    round's time). Robust to one slow call where a round total is not."""
    names = {n for r in rounds for n in r[kind]}
    return sum(
        statistics.median(r[kind][n]["s"] for r in rounds if n in r[kind]) for n in names
    )


def end_to_end(res: dict) -> tuple[dict, dict]:
    rounds = [r for r in res["rounds"] if not r["traced"]]
    cold = [v["s"] for r in rounds for v in r["cold"].values()]
    # A run holds twenty cold calls or fewer: too few for a percentile
    # with ten samples beyond it to hold still. The tail is each round's
    # slowest cold call, medianed over the rounds.
    tail = statistics.median(
        max(v["s"] for v in r["cold"].values()) for r in rounds if r["cold"]
    )
    metrics = {
        "setup_s": (sum(res["setup"].values()), "s"),
        "round_s": (_typical_round(rounds, "cold"), "s"),
        "rerun_s": (_typical_round(rounds, "rerun"), "s"),
        "op_p50_s": (statistics.median(cold), "s"),
        "op_tail_s": (tail, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "failed_ratio": (res["failed"] / res["attempted"], "ratio"),
    }
    samples = {
        "round_s_each": [r["round_s"] for r in rounds],
        "rerun_s_each": [r["rerun_s"] for r in rounds],
        "rounds": len(rounds),
        "cold_calls": len(cold),
        "setup": res["setup"],
    }
    return metrics, samples


def per_layer(res: dict) -> dict:
    import layers

    traced = [r for r in res["rounds"] if r["traced"]]
    untraced = [r for r in res["rounds"] if not r["traced"]]

    def per_round(kind: str, key: str) -> float:
        return statistics.median(
            sum(v["layers"].get(key, 0.0) for v in r[kind].values()) for r in traced
        )

    out = dict(res["setup"])
    for key in layers.CALL_KEYS:
        out[key] = per_round("cold", key)
    for key in RERUN_KEYS:
        out[f"rerun.{key}"] = per_round("rerun", key)
    for key in layers.PROBE_KEYS:
        out[key] = res["extra"].get(key, 0.0)
    out.update(connector_numbers(traced))
    # the round's own time outside its calls: the tracer reading the stores
    out["self.round_s"] = statistics.median(
        res["tracer"].self_times(r["span"])["self.round_s"] for r in traced
    )
    traced_s = statistics.median(r["round_s"] for r in traced)
    untraced_s = statistics.median(r["round_s"] for r in untraced)
    out["trace.round_s"] = traced_s
    out["trace.untraced_round_s"] = untraced_s
    out["trace.overhead_s"] = traced_s - untraced_s
    return out


def connector_numbers(traced: list[dict]) -> dict:
    """Excel-layer numbers from single connector operations of the traced
    rounds (0 on a workload without them): the direct decode rate, the
    chunked scan's partitions, and the sink call's driver time outside
    Spark jobs (the commit merging the staged parts)."""
    import ops

    def cold(op: str, key: str) -> float:
        vals = [r["cold"][op][key] for r in traced if op in r["cold"]]
        return statistics.median(vals) if vals else 0.0

    def layer(op: str, key: str) -> float:
        vals = [r["cold"][op]["layers"].get(key, 0.0) for r in traced if op in r["cold"]]
        return statistics.median(vals) if vals else 0.0

    direct_s = cold("excel_read_direct", "s")
    return {
        "sources.minixlsx.decode_rows_per_s": ops.XLSX_ROWS / direct_s if direct_s else 0.0,
        "sources.excel.partitions": layer("excel_scan_chunked", "python.scan_tasks"),
        "sources.excel.sink_commit_s": layer("excel_sink", "self.execute_s"),
    }


def per_op_report(res: dict) -> dict:
    report = {}
    for n, w in res["warmup_per_op_s"].items():
        row = {"warmup_s": w}
        for kind in ("cold", "rerun"):
            vals = [r[kind][n]["s"] for r in res["rounds"] if n in r[kind] and not r["traced"]]
            if vals:
                row[f"{kind}_s"] = statistics.median(vals)
            for r in res["rounds"]:
                if r["traced"] and n in r[kind]:
                    row[f"{kind}_layers"] = r[kind][n]["layers"]
        report[n] = row
    return report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import ops

    if args.workload not in ops.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(ops.WORKLOADS)}", file=sys.stderr)
        return 2

    runner = Runner(args)
    res = runner.run()
    res.update(failed=runner.failed, attempted=runner.attempted)
    e2e, samples = end_to_end(res)
    report = {
        "workload": args.workload,
        "host": runner.host,
        "samples": samples,
        "failures": runner.failures,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "operations": per_op_report(res),
    }
    if args.trace:
        import layers

        layer = per_layer(res)
        report["per_layer"] = layer
        metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in layer.items()}
        runner.tracer.dump(
            os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"), report
        )
        print(layers.table(report), file=sys.stderr)
    else:
        metrics = {k: report["end_to_end"][k] for k in E2E_KEYS}
    print(json.dumps(report, default=str), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": runner.correct,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
