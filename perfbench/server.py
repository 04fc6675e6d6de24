"""serve_viewer engine process: caches a recording the way
``launcher.build_engine`` caches samples and serves it through
``TimeSeriesServer`` (NDJSON) and ``WebSocketTimeSeriesServer``.

Usage: python3 perfbench/server.py RECORDING.parquet SETUPS

Prints one ``@@ {...}`` line with the ports and set-up times once it is
ready, then takes commands on stdin, one per line:

- ``trace on`` / ``trace off``: time ``QuerySession.run`` per request
  and count the Spark jobs and tasks of each request's job group;
- ``stats``: answers ``@@ {...}`` with the engine gauges and the
  per-request records;
- ``quit``: stops the servers and Spark, then exits.

The engine is only called through its public classes; the traced
session is a subclass that times ``run`` from outside.
"""

from __future__ import annotations

import asyncio
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.datagen import RATE_HZ  # noqa: E402


def reply(obj) -> None:
    sys.stdout.write("@@ " + json.dumps(obj) + "\n")
    sys.stdout.flush()


def main() -> None:
    path, n_setups = sys.argv[1], int(sys.argv[2])
    common.prepare_env()
    from pennsieve_streaming_spark.serving.session import QuerySession
    from pennsieve_streaming_spark.serving.transport import TimeSeriesServer
    from pennsieve_streaming_spark.serving.ws import WebSocketTimeSeriesServer
    from pennsieve_streaming_spark.session import get_spark
    from pennsieve_streaming_spark.tables import ensure_session_confs

    # set-up, repeated: the first one also starts the JVM and the
    # session, the others build the engine's cache again
    spark = None
    setups = []
    for i in range(n_setups):
        t0 = time.perf_counter()
        if spark is None:
            spark = get_spark("perfbench-serve", extra_conf=common.spark_conf())
            # what build_engine's table views do: session confs, and the
            # package shipped to the Python workers the filter runs in
            ensure_session_confs(spark)
        samples = spark.read.parquet(path).cache()
        samples.count()
        rates = {r["channel"]: RATE_HZ
                 for r in samples.select("channel").distinct().collect()}
        setups.append(time.perf_counter() - t0)
        if i < n_setups - 1:
            samples.unpersist(blocking=True)
    sc = spark.sparkContext
    tracing = {"on": False}
    records: list[dict] = []
    sentinel = common.sentinel_s(spark)

    class TracedSession(QuerySession):
        """Times ``run`` and attributes the job group's new Spark jobs
        to the request that ran before them (one request in flight per
        session)."""

        _prev: dict | None = None
        _seen: set = set()

        def _account(self) -> None:
            ids = set(sc.statusTracker().getJobIdsForGroup(self.job_group))
            new = ids - self._seen
            self._seen = ids
            if self._prev is not None:
                self._prev["jobs"] = len(new)
                self._prev["tasks"] = common.task_count(sc, new)
            self._prev = None

        def run(self, req):
            if not tracing["on"]:
                return super().run(req)
            self._account()
            rec = {"rid": req.session, "session": self.session_id}
            rec["run_start"] = time.perf_counter()
            out = super().run(req)
            rec["run_end"] = time.perf_counter()
            # plan building should be lazy: jobs here ran inside run()
            rec["build_jobs"] = len(
                set(sc.statusTracker().getJobIdsForGroup(self.job_group)) - self._seen)
            records.append(rec)
            self._prev = rec
            return out

    sessions: list[TracedSession] = []

    def factory(session_id: str, package: str | None = None):
        s = TracedSession(spark, samples, rates, session_id)
        sessions.append(s)
        return s

    async def serve() -> None:
        ndjson = TimeSeriesServer(factory)
        ws = WebSocketTimeSeriesServer(factory)
        ports = {"ndjson": await ndjson.start(), "ws": await ws.start()}
        reply({"ready": True, **ports, "setups_s": setups,
               "sentinel_s": sentinel, "channels": sorted(rates)})
        loop = asyncio.get_running_loop()
        lines: asyncio.Queue[str] = asyncio.Queue()

        def read_stdin() -> None:
            for line in sys.stdin:
                loop.call_soon_threadsafe(lines.put_nowait, line.strip())
            loop.call_soon_threadsafe(lines.put_nowait, "quit")

        threading.Thread(target=read_stdin, daemon=True).start()
        while True:
            cmd = await lines.get()
            if cmd in ("trace on", "trace off"):
                # close the last traced request of each session so the
                # jobs of the next phase are not attributed to it
                await asyncio.to_thread(lambda: [s._account() for s in sessions])
                tracing["on"] = cmd == "trace on"
                reply({"trace": tracing["on"]})
            elif cmd == "stats":
                await asyncio.to_thread(lambda: [s._account() for s in sessions])
                gauges = await asyncio.to_thread(common.engine_gauges, spark)
                reply({"gauges": gauges, "records": records})
            elif cmd == "quit":
                break
        await ndjson.stop()
        await ws.stop()

    try:
        asyncio.run(serve())
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
