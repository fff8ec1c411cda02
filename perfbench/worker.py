"""One benchmark process: set up a session, run cold pass(es), report.

Started by ``run.py`` in a fresh interpreter per pass, so every pass pays
the JVM start, the catalog import and every session-level build once.
Prints nothing on stdout; writes one JSON report to ``--out``.

Timed per query op: ``spec.fn(spark, dir)`` (build), forcing the
physical plan (``queryExecution().executedPlan()``), and an Arrow
collect of every row and column (exec).  Result hashing happens after
the pass, outside all timed spans.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--ops", required=True, help="comma-separated op names, in order")
    ap.add_argument("--tables", required=True)
    ap.add_argument("--cnae", required=True)
    ap.add_argument("--work", required=True, help="this process's scratch dir")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--passes", type=int, default=1)
    args = ap.parse_args()
    trace = bool(args.trace)
    work = os.path.abspath(args.work)
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    eventlog = os.path.join(work, "eventlog")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            # a fixed-size young generation keeps the resident-memory
            # high-water mark a function of retained data, not of GC timing
            "-XX:+UseParallelGC -Xmn192m",
    }
    if trace:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": eventlog,
                     "spark.eventLog.compress": "false"})

    # ---- setup: session + catalog import (setup_s ends here) ----
    from dados_publicos_etl_spark.session import get_session

    t_sess = time.perf_counter()
    spark = get_session(app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
                        shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t_sess = time.perf_counter() - t_sess
    tracer = None
    progress: list[dict] = []
    if trace:
        import layers as tr

        tracer = tr.Tracer(spark.sparkContext._jsc.sc().dagScheduler())
        tr.wrap_layers(tracer)  # before the catalog binds read_table
    t_cat = time.perf_counter()
    from dados_publicos_etl_spark.plans import QUERIES, catalog  # noqa: F401

    t_cat = time.perf_counter() - t_cat
    ready = time.time()
    sc = spark.sparkContext
    if trace:
        spark.streams.addListener(tr.streaming_listener(progress))

    import etl
    from workloads import module_of

    names = [n for n in args.ops.split(",") if n]
    passes = []
    for p in range(args.passes):
        lake = os.path.join(work, f"lake{p}")
        if args.workload == "etl_medallion":
            table = dict(etl.ops(spark, args.cnae, lake))
            steps = [(n, table[n], None) for n in names]
            if p:
                spark.sql("DROP TABLE IF EXISTS cnae")
        else:
            steps = [(n, None, QUERIES[n]) for n in names]
        results, ops = {}, []
        t_pass = time.time()
        for name, fn, spec in steps:
            op_id = f"{name}#{p}"
            group = f"{'warm' if p else 'op'}:{args.workload}:{name}"
            out = err = None
            start = time.time()
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    out = fn() if spec is None else spec.fn(spark, args.tables)
                    if spec is not None:
                        out._jdf.queryExecution().executedPlan()
                        out = out.toArrow()
                else:
                    tracer.op = op_id
                    with tracer.span("op"):
                        if spec is None:
                            sc.setJobGroup(f"{group}:exec", op_id)
                            out = fn()
                        else:
                            sc.setJobGroup(f"{group}:build", op_id)
                            with tracer.span("plans.build"):
                                df = spec.fn(spark, args.tables)
                            sc.setJobGroup(f"{group}:plan", op_id)
                            with tracer.span("catalyst.plan"):
                                df._jdf.queryExecution().executedPlan()
                            sc.setJobGroup(f"{group}:exec", op_id)
                            with tracer.span("exec"):
                                out = df.toArrow()
            except Exception as ex:  # an op failure is a result, not a crash
                err = f"{type(ex).__name__}: {str(ex)[:300]}"
            dt = time.perf_counter() - t0
            ops.append({"op": name, "s": dt, "start": start, "error": err,
                        "module": module_of(spec.fn) if spec else "etl"})
            results[name] = out
        t_end = time.time()
        if tracer is not None:
            tracer.op = None
            sc.setJobGroup("perfbench:idle", "between ops")
        written = _dir_bytes(lake, os.path.join(work, "warehouse")) - _dir_bytes(
            os.path.join(lake, "raw"))
        # not Spark's local dir: its shuffle and spill files are scratch,
        # deleted asynchronously by the ContextCleaner
        stored = written + _dir_bytes(os.path.join(lake, "raw"), os.path.join(work, "tmp"))
        # hash outside the timed spans
        from check import result_hash

        for rec in ops:
            out = results.pop(rec["op"])
            if out is not None and hasattr(out, "num_rows"):
                rec["rows"], rec["hash"] = result_hash(out)
            elif out is not None:
                rec["value"] = out
        passes.append({"start": t_pass, "end": t_end, "stored_bytes": stored,
                       "written_bytes": written, "ops": ops})

    report = {"ready": ready, "session_s": t_sess, "catalog_s": t_cat, "passes": passes}
    if trace:
        report["spans"] = tracer.op_layers()
        report["span_list"] = tracer.spans
        spark.stop()  # flushes the event log and the listener bus
        report["eventlog"] = tr.fold_eventlog_dir(eventlog)
        report["streaming"] = tr.attribute(progress, {
            f"{o['op']}#{i}": (o["start"], o["start"] + o["s"])
            for i, p in enumerate(passes) for o in p["ops"]})
    with open(args.out, "w") as fh:
        json.dump(report, fh)
    # Without tracing there is nothing to flush: skip the graceful stop.
    # The JVM exits when this process's pipe to it closes; run.py reaps
    # whatever is left of the process tree.
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
