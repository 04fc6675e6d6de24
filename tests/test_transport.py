"""End-to-end serving transport: reference JSON vocabulary over a real
socket — data request round-trip, T6 buffer/flush + dump clearing,
T7 keep-alive + idle kill, error lane."""

from __future__ import annotations

import asyncio
import json

import pytest

from pennsieve_streaming_spark.serving import (
    QuerySession,
    TimeSeriesServer,
    TransportConfig,
)


@pytest.fixture(scope="module")
def samples(spark):
    rows = [("Fp1", i * 1_000_000, float(i % 13)) for i in range(600)] + [
        ("Cz", i * 1_000_000, float(i % 7)) for i in range(600)
    ]
    return spark.createDataFrame(
        rows, "channel string, ts long, value double"
    ).cache()


def _factory(spark, samples):
    def make(session_id: str) -> QuerySession:
        return QuerySession(
            spark, samples, {"Fp1": 1.0, "Cz": 1.0}, session_id
        )

    return make


async def _recv_until(reader, pred, timeout=30.0):
    """Read NDJSON messages until pred(msg) is true; returns all."""
    msgs = []
    async with asyncio.timeout(timeout):
        while True:
            line = await reader.readline()
            assert line, f"connection closed early; got {msgs}"
            msg = json.loads(line)
            msgs.append(msg)
            if pred(msg):
                return msgs


def _run(coro):
    return asyncio.run(coro)


def test_data_request_roundtrip(spark, samples):
    async def main():
        server = TimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", port)
            # install a filter, then ask for a montaged downsample
            w.write(b'{"filter":"lowpass","filterParameters":[2,0.2],"channels":["Fp1<->Cz"]}\n')
            await w.drain()
            msgs = await _recv_until(r, lambda m: "ok" in m or "error" in m)
            assert msgs[-1] == {"ok": True}
            req = {
                "session": "s",
                "virtualChannels": ["Fp1<->Cz"],
                "startTime": 0,
                "endTime": 600_000_000,
                "pixelWidth": 50_000_000,
            }
            w.write((json.dumps(req) + "\n").encode())
            await w.drain()
            msgs = await _recv_until(r, lambda m: "rows" in m or "error" in m)
            data = msgs[-1]
            assert data["channel"] == "Fp1<->Cz"
            assert data["totalResponses"] == 1 and data["epoch"] == 0
            assert len(data["rows"]) == 12  # 600s / 50s pixels
            buckets = {row["bucket"] for row in data["rows"]}
            assert buckets == set(range(12))
            w.close()
        finally:
            await server.stop()

    _run(main())


def test_garbage_gets_error_not_disconnect(spark, samples):
    async def main():
        server = TimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", port)
            w.write(b'{"bogus": 1}\n')
            await w.drain()
            msgs = await _recv_until(r, lambda m: "error" in m)
            assert msgs[-1]["error"] == "UnexpectedError"
            assert "unparseable" in msgs[-1]["reason"]
            # connection survives: a valid request still answers
            w.write(b'{"virtualChannels":["Fp1"],"startTime":0,"endTime":5000000,"pixelWidth":0}\n')
            await w.drain()
            msgs = await _recv_until(r, lambda m: "rows" in m)
            assert len(msgs[-1]["rows"]) == 5
            w.close()
        finally:
            await server.stop()

    _run(main())


def test_dump_clears_buffered_requests(spark, samples):
    """Three requests enter the buffer (flush timer long, queue deep);
    a dump must clear ALL of them — no rows ever arrive — and bump the
    epoch (BufferWithEpochDumpStage global-dump semantics)."""

    async def main():
        cfg = TransportConfig(max_queue=10, flush_ms=60_000)
        server = TimeSeriesServer(_factory(spark, samples), cfg)
        port = await server.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", port)
            req = {
                "virtualChannels": ["Fp1"],
                "startTime": 0,
                "endTime": 600_000_000,
                "pixelWidth": 50_000_000,
            }
            payload = (json.dumps(req) + "\n").encode()
            w.write(payload * 3 + b'{"dumpBuffer": true}\n')
            await w.drain()
            msgs = await _recv_until(r, lambda m: "dumpBuffer" in m)
            assert msgs[-1]["dumpBuffer"] == 1
            assert msgs[-1]["dropped"] == 3
            assert not any("rows" in m for m in msgs)
            w.close()
        finally:
            await server.stop()

    _run(main())


def test_keepalive_and_idle_kill(spark, samples):
    async def main():
        cfg = TransportConfig(keepalive_s=0.2, idle_timeout_s=1.0)
        server = TimeSeriesServer(_factory(spark, samples), cfg)
        port = await server.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", port)
            msgs = await _recv_until(r, lambda m: m.get("keepAlive") is True, 10)
            assert msgs[-1] == {"keepAlive": True}
            # stay silent past idle_timeout: server warns then closes
            async with asyncio.timeout(20):
                saw_idle, closed = False, False
                while True:
                    line = await r.readline()
                    if not line:
                        closed = True
                        break
                    m = json.loads(line)
                    if m.get("error") == "IdleTimeout":
                        saw_idle = True
                assert saw_idle and closed
        finally:
            await server.stop()

    _run(main())


def test_concurrent_sessions_isolated(spark, samples):
    """T2/T3: two simultaneous connections run under separate sessions
    (FAIR scheduler pools); a dump on one must not disturb the other's
    in-flight or future requests."""

    async def main():
        server = TimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r1, w1 = await asyncio.open_connection("127.0.0.1", port)
            r2, w2 = await asyncio.open_connection("127.0.0.1", port)
            req = {
                "virtualChannels": ["Cz"],
                "startTime": 0,
                "endTime": 20_000_000,
                "pixelWidth": 0,
            }
            payload = (json.dumps(req) + "\n").encode()
            w1.write(payload)
            w2.write(b'{"dumpBuffer": true}\n' + payload)
            await w1.drain()
            await w2.drain()
            m1 = (await _recv_until(r1, lambda m: "rows" in m))[-1]
            m2 = (await _recv_until(r2, lambda m: "rows" in m))[-1]
            assert len(m1["rows"]) == 20 and len(m2["rows"]) == 20
            # session 1 stays at epoch 0; session 2's dump bumped only its own
            assert m1["epoch"] == 0 and m2["epoch"] == 1
            w1.close()
            w2.close()
        finally:
            await server.stop()

    _run(main())


def test_over_limit_request_hits_error_lane(spark, samples):
    """P5 through the socket: a raw request whose estimated sample
    count exceeds the admission limit must come back as an error
    message (the reference's query-limit rejection), leaving the
    connection usable."""

    async def main():
        server = TimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", port)
            # 1.0 Hz rate, 2e11 µs window -> 200k estimated > 100k limit
            w.write(b'{"virtualChannels":["Fp1"],"startTime":0,'
                    b'"endTime":200000000000,"pixelWidth":0}\n')
            await w.drain()
            msgs = await _recv_until(r, lambda m: "error" in m)
            assert msgs[-1]["error"] == "UnexpectedError"
            assert "limit" in msgs[-1]["reason"].lower()
            w.write(b'{"virtualChannels":["Fp1"],"startTime":0,"endTime":3000000,"pixelWidth":0}\n')
            await w.drain()
            msgs = await _recv_until(r, lambda m: "rows" in m)
            assert len(msgs[-1]["rows"]) == 3
            w.close()
        finally:
            await server.stop()

    _run(main())


def test_shape_invalid_json_gets_error_not_disconnect(spark, samples):
    """Valid JSON with an invalid shape (missing startTime, scalar
    payload) must answer on the error lane, never kill the reader."""

    async def main():
        server = TimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", port)
            for bad in (b'{"virtualChannels":["Fp1"]}\n', b"5\n",
                        b'{"virtualChannels":[{"nm":"x"}],"startTime":0,"endTime":1,"pixelWidth":0}\n'):
                w.write(bad)
                await w.drain()
                msgs = await _recv_until(r, lambda m: "error" in m)
                assert "error" in msgs[-1]
            # still alive
            w.write(b'{"virtualChannels":["Fp1"],"startTime":0,"endTime":2000000,"pixelWidth":0}\n')
            await w.drain()
            msgs = await _recv_until(r, lambda m: "rows" in m)
            assert len(msgs[-1]["rows"]) == 2
            w.close()
        finally:
            await server.stop()

    _run(main())


def test_montage_error_carries_reference_wire_shape(spark, samples):
    """Validation failures use the reference TimeSeriesError JSON shape
    (server/Error.scala): error name, reason, channelNames."""

    async def main():
        server = TimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", port)
            # referential montage needs 10-20 channels this package lacks
            w.write(b'{"montage": "bipolar_ant_pos"}\n')
            await w.drain()
            msgs = await _recv_until(r, lambda m: "error" in m)
            err = msgs[-1]
            assert err["error"] == "PackageMissingChannels"
            assert err["channelNames"], err
            assert "missing" in err["reason"]
            w.close()
        finally:
            await server.stop()

    _run(main())


def test_explicit_query_limit_cannot_bypass_admission(spark, samples):
    """A client-supplied queryLimit must not lift the admission guard:
    the router bounds the effective collect size, min(estimate,
    queryLimit). A raw request over a huge window with queryLimit=10^9
    answers on the error lane BEFORE any Spark job (none runs in the
    session's job group), and the connection survives."""
    session = QuerySession(
        spark, samples, {"Fp1": 1.0, "Cz": 1.0}, "admission-probe"
    )
    tracker = spark.sparkContext.statusTracker()

    async def main():
        server = TimeSeriesServer(lambda session_id: session)
        port = await server.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", port)
            w.write(b'{"virtualChannels":["Fp1"],"startTime":0,'
                    b'"endTime":200000000000,"pixelWidth":0,'
                    b'"queryLimit":1000000000}\n')
            await w.drain()
            msgs = await _recv_until(r, lambda m: "error" in m)
            assert "limit" in msgs[-1]["reason"].lower()
            assert msgs[-1]["channelNames"] == ["Fp1"]
            # refused before any job: the session's group ran nothing
            assert list(tracker.getJobIdsForGroup(session.job_group)) == []
            # a small explicit limit on the same huge window is FINE:
            # effective rows = min(estimate, limit) <= admission cap
            w.write(b'{"virtualChannels":["Fp1"],"startTime":0,'
                    b'"endTime":200000000000,"pixelWidth":0,'
                    b'"queryLimit":5}\n')
            await w.drain()
            msgs = await _recv_until(r, lambda m: "rows" in m)
            assert len(msgs[-1]["rows"]) == 5
            # ...and the tracker does see this group's jobs once one runs
            async with asyncio.timeout(10):
                while not tracker.getJobIdsForGroup(session.job_group):
                    await asyncio.sleep(0.05)
            w.close()
        finally:
            await server.stop()

    _run(main())


def test_custom_montage_e2e(spark, samples):
    """Socket mirror of WebServerSpec.scala:474-545: send CUSTOM_MONTAGE
    with a montageMap, expect the virtual-channel details reply, then a
    montaged data request for one of the returned names."""

    async def main():
        server = TimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", port)
            w.write(
                json.dumps(
                    {
                        "montage": "CUSTOM_MONTAGE",
                        "montageMap": [["Fp1", "Cz"]],
                    }
                ).encode()
                + b"\n"
            )
            await w.drain()
            msgs = await _recv_until(r, lambda m: "channelDetails" in m or "error" in m)
            assert msgs[-1] == {
                "channelDetails": [{"id": "Fp1_id", "name": "Fp1<->Cz"}]
            }
            req = {
                "virtualChannels": ["Fp1<->Cz"],
                "startTime": 0,
                "endTime": 10_000_000,
                "pixelWidth": 0,
            }
            w.write((json.dumps(req) + "\n").encode())
            await w.drain()
            msgs = await _recv_until(r, lambda m: "rows" in m or "error" in m)
            data = msgs[-1]
            assert data["channel"] == "Fp1<->Cz"
            assert [row["value"] for row in data["rows"]] == [
                float(i % 13 - i % 7) for i in range(10)
            ]
            # names outside the custom map answer on the error lane
            bad = dict(req, virtualChannels=["Cz<->Fp1"])
            w.write((json.dumps(bad) + "\n").encode())
            await w.drain()
            msgs = await _recv_until(r, lambda m: "error" in m)
            assert "not part of montage" in msgs[-1]["reason"]
            w.close()
        finally:
            await server.stop()

    _run(main())
