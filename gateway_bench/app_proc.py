"""The app side of the gateway benchmark: one process that starts the
real gateway and answers control commands from ``run.py``.

It builds the app exactly as a deployment does (``get_spark`` →
``service.build_app`` → ``ApiServer`` on loopback) over the run's fresh
root, but starts only the HTTP server: the sink's rotation/upload
tickers and the worker pool stay off, and ``App.drain()`` runs only
when the load generator asks for it, so the flush policy is the
benchmark's and identical on both sides of an A/B.

Commands arrive one JSON object per line on stdin; each reply is one
JSON line on the file descriptor named by ``--reply-fd`` (stdout and
stderr, which Spark and the JVM share, go to the run's log file).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

API_KEY = "bench-key"


def warehouse_files(root: str, skip=()) -> tuple[int, int]:
    """(parquet files, parquet bytes) under the app's warehouse, leaving
    out the tables named in ``skip``."""
    files = size = 0
    for dirpath, dirs, names in os.walk(os.path.join(root, "warehouse")):
        dirs[:] = [d for d in dirs if d not in skip]
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--reply-fd", type=int, required=True)
    args = ap.parse_args()
    reply_file = os.fdopen(args.reply_fd, "w", buffering=1)

    def reply(obj) -> None:
        reply_file.write(json.dumps(obj) + "\n")

    from scratchdata_spark.config import Config
    from scratchdata_spark.service import build_app
    from scratchdata_spark.session import get_spark

    root = os.path.abspath(args.root)
    t0 = time.perf_counter()
    # the heap is committed and touched up front (-Xms = -Xmx, pre-touch),
    # so JVM RSS does not depend on when the collector decides to grow it
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = get_spark(
        app_name="gateway-bench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(root, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData "
                f"-Xms{heap} -XX:+AlwaysPreTouch",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    config = Config.from_dict({"api": {"port": 0}, "api_keys": {API_KEY: "default"}})
    app = build_app(spark, config, os.path.join(root, "app"))
    app.server.start()  # tickers and workers deliberately not started
    reply({"port": app.port, "pid": os.getpid(), "spark_s": t1 - t0,
           "build_app_s": time.perf_counter() - t1})

    tracer = None
    stopped = False
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["op"]
        if op == "drain":
            t0 = time.perf_counter()
            app.drain()
            reply({"drain_s": time.perf_counter() - t0})
        elif op == "gc":  # a full JVM collection, before timed drain rounds
            spark.sparkContext._jvm.java.lang.System.gc()
            reply({"gc": True})
        elif op == "trace":
            from spans import Tracer, install

            tracer = Tracer(spark.sparkContext)
            install(tracer, app, type(spark.range(1)))
            reply({"tracing": True})
        elif op == "report":
            from spans import dump_spans, spark_jobs, summarize

            out = summarize(tracer)
            out["spark_jobs"], out["spark_tasks"] = spark_jobs(
                spark.sparkContext, out.pop("request_ids"))
            if cmd.get("spans_path"):
                with open(cmd["spans_path"], "w") as f:
                    json.dump(dump_spans(tracer), f)
            reply(out)
        elif op == "stats":
            files, size = warehouse_files(os.path.join(root, "app"), cmd.get("skip", ()))
            reply({
                "parquet_files": files,
                "parquet_bytes": size,
                "dead_letters": len(app.queue.dead_letters()),
                "queue_depth": app.queue.depth(),
                "worker_errors": list(app.workers.errors),
            })
        elif op == "stop":
            stopped = True
            break
        else:
            reply({"error": f"unknown op {op}"})
    # "stop", or the load generator went away (stdin closed)
    app.stop()
    spark.stop()
    if stopped:
        reply({"stopped": True})
    return 0


if __name__ == "__main__":
    sys.exit(main())
