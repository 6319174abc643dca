"""The system under test's side of one benchmark run, in a fresh
interpreter and JVM: ``python -m perfbench.worker <spec.json>``.

It starts a session the way ``jobs/run_pipeline.py`` does (``get_spark``
defaults, ``master=local[nproc]``; ``run.py`` pins the driver heap through
the environment), runs warm-up passes, then timed passes
of the workload's job over the same input, one at a time (a closed loop
with one client). After each pass, outside its timed window, it records
the output's digest (crawl) or the report's values (iot) for the
benchmark to check. With tracing on it runs, instead of the timed
passes, cumulative legs of the job under spans (the last leg is the
full pass), reads Spark's SQL and stage metrics over the REST API, times
the enrich kernel directly, and derives the per-layer metrics.

The result is written as JSON to the path the spec names.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from typing import Iterator

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import proctree
from perfbench.spans import (
    SparkRest, Tracer, metric_stage, node_metric, nodes, parse_metric, spark_time,
)

IOT_COLUMNS = ("dupe", "regularity", "outliers", "format_adherence",
               "unknown_absence", "completeness", "avg_score")

# per-layer metric -> unit; every traced run reports all of them, with 0
# for a layer the workload's job does not run (e.g. udf.* on iot_report)
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "scan.cpu_us_per_row": "us/row", "scan.bytes_per_row": "B/row",
    "udf.transport_cpu_us_per_row": "us/row", "udf.python_run_s": "s",
    "udf.python_start_s_per_task": "s/task", "udf.python_init_s_per_task": "s/task",
    "udf.sent_bytes_per_row": "B/row", "udf.returned_bytes_per_row": "B/row",
    "udf.tasks": "count",
    "kernel.us_per_doc": "us/doc", "kernel.ppl_us_per_doc": "us/doc",
    "kernel.scrub_hit_frac": "fraction",
    "dedup.cpu_us_per_row": "us/row", "dedup.shuffle_bytes_per_row": "B/row",
    "dedup.shuffle_write_s": "s", "dedup.rows_out_frac": "fraction",
    "dedup.partition_skew": "ratio",
    "verdict.cpu_us_per_row": "us/row",
    "write.cpu_us_per_row": "us/row", "write.bytes_per_row": "B/row",
    **{
        f"stage.{grp}.{m}": u
        for grp in ("scan", "post_shuffle")
        for m, u in (("run_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                     ("python_s", "s"), ("wait_s", "s"), ("tasks", "count"))
    },
    "report.dupe_s": "s", "report.iat_s": "s", "report.exchanges": "count",
    "report.scans": "count", "report.shuffle_bytes_per_row": "B/row",
    "trace.overhead_frac": "fraction",
}

MIN_PASSES = 3
LEG_REPS = 3


@F.arrow_udf(T.StringType())
def identity_udf(
    batches: Iterator[tuple[pa.Array, pa.Array]],
) -> Iterator[pa.Array]:
    """Takes the enrich UDF's two arguments and returns the second one
    unchanged: the Arrow transport and worker cost without the kernel."""
    for _html, text in batches:
        yield text


# ---------------------------------------------------------------------------
# the workloads' jobs
# ---------------------------------------------------------------------------


def crawl_job(spark, data_dir: str, out_dir: str) -> None:
    """What ``jobs/run_pipeline.py`` runs on a pages table."""
    from data_quality_assessment_spark.config import DEFAULT_CONFIG
    from data_quality_assessment_spark.plans.pipeline import (
        materialize_scrubbed, pages_out, run_pipeline,
    )

    df = spark.read.parquet(data_dir)
    out = pages_out(materialize_scrubbed(run_pipeline(df, DEFAULT_CONFIG)))
    out.write.mode("overwrite").parquet(out_dir)


def crawl_digest(spark, out_dir: str) -> list[int]:
    """(rows, kept, bit_xor of xxhash64 over every column)."""
    o = spark.read.parquet(out_dir)
    r = o.agg(
        F.count(F.lit(1)), F.sum(F.col("keep").cast("long")),
        F.bit_xor(F.xxhash64(*o.columns)),
    ).first()
    return [int(r[0]), int(r[1] or 0), int(r[2])]


def iot_job(spark, data_dir: str) -> dict:
    """The reference's product at scale: the six-metric report, Q1 off."""
    from data_quality_assessment_spark.plans import report

    row = report.six_metric_report(
        spark.read.parquet(data_dir), entity="user_id", ts="ts",
        required=["user_id", "ts", "event_type", "value"],
        known=["event_id", "ts", "user_id", "event_type", "value"],
        global_order=False,
    ).first()
    return {k: float(row[k]) for k in IOT_COLUMNS}


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


class Runner:
    def __init__(self, spec: dict, tracer: Tracer):
        self.spec = spec
        self.tracer = tracer
        self.pid = os.getpid()
        self.crawl = spec["workload"] != "iot_report"

    def one(self, spark) -> dict:
        """One pass: the job timed, then (untimed) its output record."""
        data, out = self.spec["data_dir"], self.spec["out_dir"]
        rec: dict = {}
        cpu0, t0 = proctree.tree_cpu_s(self.pid), time.perf_counter()
        try:
            if self.crawl:
                crawl_job(spark, data, out)
            else:
                rec["values"] = iot_job(spark, data)
        except Exception as e:  # noqa: BLE001 — a failed pass is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:2000]
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = proctree.tree_cpu_s(self.pid) - cpu0
        if self.crawl and "error" not in rec:
            rec["digest"] = crawl_digest(spark, out)
        return rec

    def passes(self, spark, seconds: float, min_passes: int) -> list[dict]:
        out = []
        t_end = time.perf_counter() + seconds
        while len(out) < min_passes or time.perf_counter() < t_end:
            with self.tracer.span("pass", index=len(out)):
                out.append(self.one(spark))
        return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# traced legs
# ---------------------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def crawl_legs(spark, data_dir: str, full) -> list[tuple]:
    """Cumulative legs of the crawl job; each adds one layer to the last,
    and the last, ``full``, is one benchmark pass."""
    from data_quality_assessment_spark.config import DEFAULT_CONFIG as cfg
    from data_quality_assessment_spark.plans import pipeline as P

    def src():
        return spark.read.parquet(data_dir).select(
            "url", "warc_ts", "html", "text", "lang"
        )

    text_arg = F.when(F.col("html").isNull(), F.col("text"))
    return [
        ("scan", lambda: _noop(src())),
        ("transport", lambda: _noop(
            src().select("url", identity_udf(F.col("html"), text_arg).alias("t"))
        )),
        ("annotate", lambda: _noop(P.annotate(src()))),
        ("verdict", lambda: _noop(P.pages_out(P.run_pipeline(src(), cfg, dedup=False)))),
        ("dedup", lambda: _noop(P.pages_out(P.run_pipeline(src(), cfg)))),
        ("full", full),
    ]


def iot_legs(spark, data_dir: str, full) -> list[tuple]:
    from data_quality_assessment_spark.operators import cadence
    from data_quality_assessment_spark.operators.dedup import dedup_exact
    from data_quality_assessment_spark.plans import report

    def iat():
        d = spark.read.parquet(data_dir)
        tb = F.md5(F.to_json(F.struct(*[F.col(c) for c in d.columns])))
        d = d.withColumn("_ts", F.to_timestamp(F.col("ts")))
        dd = dedup_exact(d, ["user_id", "_ts"], tb)
        _noop(cadence.with_iat(dd, "user_id", "_ts").select("iat"))

    return [
        ("scan", lambda: _noop(spark.read.parquet(data_dir))),
        ("dupe", lambda: report.dupe_score(
            spark.read.parquet(data_dir), ["user_id", "ts"]).collect()),
        ("iat", iat),
        ("full", full),
    ]


def run_legs(rest: SparkRest, tracer: Tracer, legs: list[tuple]) -> dict:
    """Each leg LEG_REPS times; per leg the median wall and CPU, and the
    SQL executions and stages of its last rep. The ``full`` leg is a
    benchmark pass, which times itself and keeps its output record out
    of the window; its records are kept as the leg's ``passes``."""
    pid = os.getpid()
    out = {}
    for name, fn in legs:
        walls, cpus, passes = [], [], []
        for rep in range(LEG_REPS):
            before = rest.last_execution_id()
            with tracer.span(f"leg.{name}", rep=rep) as sp:
                cpu0, t0 = proctree.tree_cpu_s(pid), time.perf_counter()
                ret = fn()
                wall = time.perf_counter() - t0
                cpu = proctree.tree_cpu_s(pid) - cpu0
            if name == "full":
                passes.append(ret)
                wall, cpu = ret["wall_s"], ret["cpu_s"]
            walls.append(wall)
            cpus.append(cpu)
            execs = [e for e in rest.executions() if e["id"] > before]
            stages = rest.stages(execs)
            for st in stages:
                start = spark_time(st["submissionTime"])
                end = spark_time(st["completionTime"])
                if start is not None and end is not None:
                    tracer.add(f"stage.{name}", start, end, parent=sp["id"],
                               stage_id=st["stageId"], tasks=st["numTasks"])
        out[name] = {"wall_s": statistics.median(walls),
                     "cpu_s": statistics.median(cpus), "passes": passes,
                     "executions": execs, "stages": stages}
    return out


def stage_groups(rest: SparkRest, leg: dict) -> tuple[dict, dict]:
    """stage.<scan|post_shuffle>.* of one leg, and per-stage Python time.
    A stage that reads no shuffle is a scan stage."""
    py_by_stage: dict[int, float] = {}
    for n in nodes(leg["executions"], "ArrowEvalPython"):
        for m in n["metrics"]:
            if m["name"] == "time to run Python workers":
                sid = metric_stage(m["value"])
                py_by_stage[sid] = py_by_stage.get(sid, 0.0) + parse_metric(m["value"])
    groups = {g: {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "python_s": 0.0,
                  "tasks": 0} for g in ("scan", "post_shuffle")}
    for st in leg["stages"]:
        g = groups["post_shuffle" if st["shuffleReadBytes"] > 0 else "scan"]
        g["run_s"] += st["executorRunTime"] / 1e3
        g["cpu_s"] += st["executorCpuTime"] / 1e9
        g["gc_s"] += st["jvmGcTime"] / 1e3
        g["python_s"] += py_by_stage.get(st["stageId"], 0.0)
        g["tasks"] += st["numTasks"]
    for g in groups.values():
        g["wait_s"] = g["run_s"] - g["cpu_s"] - g["gc_s"] - g["python_s"]
    return groups, py_by_stage


def partition_skew(rest: SparkRest, leg: dict) -> float:
    """max / median shuffle bytes read per reduce task."""
    per_task = [
        t["taskMetrics"]["shuffleReadMetrics"]["localBytesRead"]
        + t["taskMetrics"]["shuffleReadMetrics"]["remoteBytesRead"]
        for st in leg["stages"] if st["shuffleReadBytes"] > 0
        for t in rest.task_list(st)
    ]
    med = _median(per_task)
    return max(per_task) / med if med else 0.0


def kernel_direct(spark, tracer: Tracer, data_dir: str) -> dict:
    """The enrich kernel and the perplexity batch called directly, no
    Spark, on the workload's own docs in session-sized Arrow batches."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_quality_assessment_spark.functions import kernel, textcore

    tbl = pq.read_table(data_dir, columns=["html", "text"])
    html = tbl.column("html").combine_chunks()
    text = pc.if_else(pc.is_null(html), tbl.column("text"),
                      pa.nulls(len(html), pa.string())).combine_chunks()
    docs = [
        textcore.extract_text(h) if h is not None else (t or "")
        for h, t in zip(html.to_pylist(), tbl.column("text").to_pylist())
    ]
    size = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    bounds = [(lo, min(lo + size, len(html))) for lo in range(0, len(html), size)]
    kernel.enrich_batch_arrow(html.slice(0, size), text.slice(0, size))  # warm
    kernel.ppl_batch(docs[:size])
    enrich_s = ppl_s = 0.0
    scrubbed = 0
    with tracer.span("kernel"):
        for lo, hi in bounds:
            with tracer.span("kernel.enrich_batch_arrow", rows=hi - lo):
                t0 = time.perf_counter()
                res = kernel.enrich_batch_arrow(html.slice(lo, hi - lo),
                                                text.slice(lo, hi - lo))
                enrich_s += time.perf_counter() - t0
            col = res.field("scrubbed_text")
            scrubbed += len(col) - col.null_count
        for lo, hi in bounds:
            with tracer.span("kernel.ppl_batch", rows=hi - lo):
                t0 = time.perf_counter()
                kernel.ppl_batch(docs[lo:hi])
                ppl_s += time.perf_counter() - t0
    n = len(html)
    return {"kernel.us_per_doc": enrich_s * 1e6 / n,
            "kernel.ppl_us_per_doc": ppl_s * 1e6 / n,
            "kernel.scrub_hit_frac": scrubbed / n}


def layer_metrics(spark, rest, tracer, spec, session,
                  runner: Runner) -> tuple[dict, list[dict]]:
    """Every LAYER_UNITS metric from the traced legs, and the full leg's
    pass records. In place of trace.overhead_frac, which ``run.py`` sets
    from the untraced JVM's passes, ``_full_cpu_s`` holds the full leg's
    median CPU seconds."""
    data, out, rows = spec["data_dir"], spec["out_dir"], spec["rows"]
    crawl = spec["workload"] != "iot_report"
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    m["session.start_s"], m["session.warmup_s"] = session

    def one_pass():
        return runner.one(spark)

    legs = run_legs(
        rest, tracer,
        crawl_legs(spark, data, one_pass) if crawl else iot_legs(spark, data, one_pass),
    )

    def cpu(leg):
        return legs[leg]["cpu_s"] * 1e6 / rows

    full = legs["full"]
    m["scan.cpu_us_per_row"] = cpu("scan")
    m["scan.bytes_per_row"] = node_metric(
        legs["scan"]["executions"], "Scan parquet", "size of files read") / rows
    groups, py_by_stage = stage_groups(rest, full)
    for g, vals in groups.items():
        for k, v in vals.items():
            m[f"stage.{g}.{k}"] = v
    ex = full["executions"]
    if crawl:
        udf_stage = next(iter(py_by_stage), None)
        tasks = next((s["numTasks"] for s in full["stages"]
                      if s["stageId"] == udf_stage), groups["scan"]["tasks"])
        m["udf.tasks"] = tasks
        m["udf.transport_cpu_us_per_row"] = cpu("transport") - cpu("scan")
        m["udf.python_run_s"] = node_metric(ex, "ArrowEvalPython", "time to run Python workers")
        m["udf.python_start_s_per_task"] = node_metric(
            ex, "ArrowEvalPython", "time to start Python workers") / tasks
        m["udf.python_init_s_per_task"] = node_metric(
            ex, "ArrowEvalPython", "time to initialize Python workers") / tasks
        m["udf.sent_bytes_per_row"] = node_metric(
            ex, "ArrowEvalPython", "data sent to Python workers") / rows
        m["udf.returned_bytes_per_row"] = node_metric(
            ex, "ArrowEvalPython", "data returned from Python workers") / rows
        m.update(kernel_direct(spark, tracer, data))
        m["verdict.cpu_us_per_row"] = cpu("verdict") - cpu("annotate")
        m["dedup.cpu_us_per_row"] = cpu("dedup") - cpu("verdict")
        m["dedup.shuffle_bytes_per_row"] = node_metric(
            ex, "Exchange", "shuffle bytes written") / rows
        m["dedup.shuffle_write_s"] = node_metric(ex, "Exchange", "shuffle write time")
        m["dedup.rows_out_frac"] = crawl_digest(spark, out)[0] / rows
        m["dedup.partition_skew"] = partition_skew(rest, full)
        m["write.cpu_us_per_row"] = cpu("full") - cpu("dedup")
        m["write.bytes_per_row"] = node_metric(
            ex, "Execute InsertIntoHadoopFsRelationCommand", "written output") / rows
    else:
        m["report.dupe_s"] = legs["dupe"]["wall_s"]
        m["report.iat_s"] = legs["iat"]["wall_s"]
        m["report.exchanges"] = len(nodes(ex, "Exchange"))
        m["report.scans"] = sum(
            1 for e in ex for n in e["nodes"] if n["nodeName"].startswith("Scan ")
        )
        m["report.shuffle_bytes_per_row"] = node_metric(
            ex, "Exchange", "shuffle bytes written") / rows
    m["_full_cpu_s"] = full["cpu_s"]
    return m, full["passes"]


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def main(spec_path: str) -> int:
    t_start = time.perf_counter()
    with open(spec_path) as f:
        spec = json.load(f)
    trace = bool(spec["trace"])
    tracer = Tracer(spec["run_id"], enabled=trace)
    from data_quality_assessment_spark.session import get_spark, ship_package

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": spec["warehouse_dir"]}
    if trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{spec['workload']}",
                          master=f"local[{spec['nproc']}]", extra_conf=conf)
        ship_package(spark)
    t_session = time.perf_counter()
    try:
        runner = Runner(spec, tracer)
        with tracer.span("session.warmup"):
            warm = [runner.one(spark) for _ in range(spec["warmup_passes"])]
        t_warm = time.perf_counter()
        bad = [w["error"] for w in warm if "error" in w]
        if bad:
            raise RuntimeError(f"warm-up pass failed: {bad[0]}")
        session = (t_session - t_start, t_warm - t_session)
        if trace:
            rest = SparkRest(spark.sparkContext)
            layers, passes = layer_metrics(spark, rest, tracer, spec, session,
                                           runner)
        else:
            passes = runner.passes(spark, spec["seconds"], MIN_PASSES)
        result = {
            "rows": spec["rows"], "session_start_s": session[0],
            "warmup_s": session[1], "setup_s": t_warm - t_start,
            "warmup": warm, "passes": passes,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark_version": spark.version,
        }
        if trace:
            result["layers"] = layers
    finally:
        spark.stop()
    if trace:
        tracer.write(spec["spans_path"], workload=spec["workload"])
    with open(spec["result_path"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
