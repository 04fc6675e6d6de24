"""RFC6455 WebSocket transport e2e: handshake (accept-key check),
masked client frames, JSON request/response over frames, ping/pong,
route rejection — the reference's GET /ts/query entry point."""

from __future__ import annotations

import asyncio
import base64
import hashlib
import json
import os
import struct

import pytest

from pennsieve_streaming_spark.serving import (
    QuerySession,
    TransportConfig,
    WebSocketTimeSeriesServer,
)
from pennsieve_streaming_spark.serving.ws import (
    OP_CLOSE,
    OP_PING,
    OP_PONG,
    OP_TEXT,
    accept_key,
    read_frame,
)


@pytest.fixture(scope="module")
def samples(spark):
    rows = [("Fp1", i * 1_000_000, float(i % 13)) for i in range(300)]
    return spark.createDataFrame(
        rows, "channel string, ts long, value double"
    ).cache()


def _factory(spark, samples):
    def make(session_id: str, package: str | None) -> QuerySession:
        assert package == "pkg42"  # query param must reach the factory
        return QuerySession(spark, samples, {"Fp1": 1.0}, session_id)

    return make


def _mask_frame(payload: bytes, opcode: int = OP_TEXT) -> bytes:
    """Client-to-server frame (must be masked per RFC6455 §5.3)."""
    mask = os.urandom(4)
    masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
    n = len(payload)
    if n < 126:
        head = bytes([0x80 | opcode, 0x80 | n])
    else:
        head = bytes([0x80 | opcode, 0x80 | 126]) + struct.pack(">H", n)
    return head + mask + masked


async def _connect(port, path="/ts/query?package=pkg42"):
    r, w = await asyncio.open_connection("127.0.0.1", port)
    key = base64.b64encode(os.urandom(16)).decode()
    w.write(
        (
            f"GET {path} HTTP/1.1\r\n"
            f"Host: x\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    await w.drain()
    status = (await r.readline()).decode()
    headers = {}
    while True:
        line = (await r.readline()).decode().strip()
        if not line:
            break
        k, _, v = line.partition(":")
        headers[k.strip().lower()] = v.strip()
    return r, w, status, headers, key


def test_handshake_and_data_roundtrip(spark, samples):
    async def main():
        server = WebSocketTimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r, w, status, headers, key = await _connect(port)
            assert "101" in status
            assert headers["sec-websocket-accept"] == accept_key(key)
            # verify the accept key against the RFC example construction
            expect = base64.b64encode(
                hashlib.sha1(
                    (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").encode()
                ).digest()
            ).decode()
            assert headers["sec-websocket-accept"] == expect

            req = {
                "virtualChannels": ["Fp1"],
                "startTime": 0,
                "endTime": 10_000_000,
                "pixelWidth": 0,
            }
            w.write(_mask_frame(json.dumps(req).encode()))
            await w.drain()
            async with asyncio.timeout(30):
                while True:
                    opcode, payload = await read_frame(r)
                    assert opcode == OP_TEXT
                    msg = json.loads(payload)
                    if "rows" in msg:
                        break
            assert msg["channel"] == "Fp1" and len(msg["rows"]) == 10
            # ping -> pong with the same payload
            w.write(_mask_frame(b"hb", OP_PING))
            await w.drain()
            async with asyncio.timeout(10):
                while True:
                    opcode, payload = await read_frame(r)
                    if opcode == OP_PONG:
                        break
            assert payload == b"hb"
            # close handshake echoes
            w.write(_mask_frame(b"", OP_CLOSE))
            await w.drain()
            async with asyncio.timeout(10):
                while True:
                    opcode, _ = await read_frame(r)
                    if opcode == OP_CLOSE:
                        break
            w.close()
        finally:
            await server.stop()

    asyncio.run(main())


def test_bad_route_rejected(spark, samples):
    async def main():
        server = WebSocketTimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", port)
            w.write(b"GET /nope HTTP/1.1\r\nHost: x\r\n\r\n")
            await w.drain()
            status = (await r.readline()).decode()
            assert "404" in status
            w.close()
        finally:
            await server.stop()

    asyncio.run(main())


def test_dump_over_ws(spark, samples):
    async def main():
        cfg = TransportConfig(max_queue=10, flush_ms=60_000)
        server = WebSocketTimeSeriesServer(_factory(spark, samples), cfg)
        port = await server.start()
        try:
            r, w, status, *_ = await _connect(port)
            assert "101" in status
            req = json.dumps(
                {"virtualChannels": ["Fp1"], "startTime": 0,
                 "endTime": 300_000_000, "pixelWidth": 0}
            ).encode()
            w.write(_mask_frame(req) + _mask_frame(req)
                    + _mask_frame(b'{"dumpBuffer": true}'))
            await w.drain()
            async with asyncio.timeout(30):
                msgs = []
                while True:
                    _, payload = await read_frame(r)
                    msg = json.loads(payload)
                    msgs.append(msg)
                    if "dumpBuffer" in msg:
                        break
            assert msgs[-1]["dropped"] == 2
            assert not any("rows" in m for m in msgs)
            w.close()
        finally:
            await server.stop()

    asyncio.run(main())


def test_unmasked_client_frame_rejected(spark, samples):
    """RFC6455 5.3: servers must reject unmasked client frames."""

    async def main():
        server = WebSocketTimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r, w, status, *_ = await _connect(port)
            assert "101" in status
            payload = b'{"keepAlive": true}'
            w.write(bytes([0x80 | OP_TEXT, len(payload)]) + payload)  # no mask
            await w.drain()
            async with asyncio.timeout(10):
                _, frame = await read_frame(r)
            msg = json.loads(frame)
            assert msg["error"] == "ProtocolError" and "masked" in msg["reason"]
            w.close()
        finally:
            await server.stop()

    asyncio.run(main())


async def _connect_with_headers(port, extra_headers: str, path="/ts/query?package=pkg42"):
    r, w = await asyncio.open_connection("127.0.0.1", port)
    key = base64.b64encode(os.urandom(16)).decode()
    w.write(
        (
            f"GET {path} HTTP/1.1\r\n"
            f"Host: x\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n"
            f"{extra_headers}\r\n"
        ).encode()
    )
    await w.drain()
    status = (await r.readline()).decode()
    return r, w, status


def test_ws_auth_gate(spark, samples):
    """Bearer auth on the upgrade (WebServer.scala:66-79): no token ->
    401 before any upgrade; unparseable -> 400; service claim -> 401;
    valid claim -> 101 and a working session."""
    from pennsieve_streaming_spark.serving import sign_token

    secret = "ws-secret"

    async def main():
        server = WebSocketTimeSeriesServer(
            _factory(spark, samples), jwt_secret=secret
        )
        port = await server.start()
        try:
            _, w, status = await _connect_with_headers(port, "")
            assert "401" in status
            w.close()
            _, w, status = await _connect_with_headers(
                port, "Authorization: Bearer garbage\r\n"
            )
            assert "400" in status
            w.close()
            svc = sign_token({"type": "service"}, secret)
            _, w, status = await _connect_with_headers(
                port, f"Authorization: Bearer {svc}\r\n"
            )
            assert "401" in status
            w.close()
            tok = sign_token({"type": "user", "sub": "u1"}, secret)
            r, w, status = await _connect_with_headers(
                port, f"Authorization: Bearer {tok}\r\n"
            )
            assert "101" in status
            # drain remaining handshake headers
            while (await r.readline()).strip():
                pass
            req = {"virtualChannels": ["Fp1"], "startTime": 0,
                   "endTime": 5_000_000, "pixelWidth": 0}
            w.write(_mask_frame(json.dumps(req).encode()))
            await w.drain()
            async with asyncio.timeout(30):
                while True:
                    opcode, payload = await read_frame(r)
                    msg = json.loads(payload)
                    if "rows" in msg:
                        break
            assert len(msg["rows"]) == 5
            w.close()
        finally:
            await server.stop()

    asyncio.run(main())


def test_ws_invalid_utf8_text_frame_gets_error_lane(spark, samples):
    """ADVICE r2: a text frame with invalid UTF-8 must answer on the
    error lane and leave the connection alive (T1 contract), not raise
    UnicodeDecodeError out of recv_loop."""

    async def main():
        server = WebSocketTimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r, w, status, headers, key = await _connect(port)
            assert "101" in status
            w.write(_mask_frame(b"\xff\xfe{bad utf8", OP_TEXT))
            await w.drain()
            async with asyncio.timeout(10):
                opcode, payload = await read_frame(r)
            assert opcode == OP_TEXT
            err = json.loads(payload)
            assert "error" in err
            # connection still works end-to-end
            req = {"virtualChannels": ["Fp1"], "startTime": 0,
                   "endTime": 3_000_000, "pixelWidth": 0}
            w.write(_mask_frame(json.dumps(req).encode()))
            await w.drain()
            async with asyncio.timeout(30):
                while True:
                    opcode, payload = await read_frame(r)
                    msg = json.loads(payload)
                    if "rows" in msg:
                        break
            assert len(msg["rows"]) == 3
            w.close()
        finally:
            await server.stop()

    asyncio.run(main())


def test_binary_protobuf_mode(spark, samples):
    """?format=binary: data frames are protobuf TimeSeriesMessage
    BinaryMessage (reference toWsMessage,
    server/TimeSeriesFlow.scala:431-447); errors stay JSON text."""
    from pennsieve_streaming_spark.serving.protobuf import TimeSeriesMessage
    from pennsieve_streaming_spark.serving.ws import OP_BINARY

    async def main():
        server = WebSocketTimeSeriesServer(_factory(spark, samples))
        port = await server.start()
        try:
            r, w, status, headers, key = await _connect(
                port, "/ts/query?package=pkg42&format=binary"
            )
            assert "101" in status
            req = {
                "virtualChannels": ["Fp1"],
                "startTime": 0,
                "endTime": 10_000_000,
                "pixelWidth": 0,
            }
            w.write(_mask_frame(json.dumps(req).encode()))
            await w.drain()
            async with asyncio.timeout(30):
                while True:
                    opcode, payload = await read_frame(r)
                    if opcode == OP_BINARY:
                        break
            msg = TimeSeriesMessage.from_bytes(payload)
            assert msg.segment is not None
            assert msg.segment.channel_name == "Fp1"
            assert msg.segment.nr_points == 10
            assert msg.segment.data == [float(i % 13) for i in range(10)]
            assert msg.segment.is_min_max is False
            assert msg.total_responses == 1
            # an empty resampled page keeps its kind: a pan past the
            # end of the 300 s recording at 10 samples per pixel
            req.update(startTime=1_000_000_000, endTime=1_100_000_000,
                       pixelWidth=10_000_000)
            w.write(_mask_frame(json.dumps(req).encode()))
            await w.drain()
            async with asyncio.timeout(30):
                while True:
                    opcode, payload = await read_frame(r)
                    if opcode == OP_BINARY:
                        break
            msg = TimeSeriesMessage.from_bytes(payload)
            assert msg.segment.channel_name == "Fp1"
            assert msg.segment.is_min_max is True
            assert msg.segment.nr_points == 0 and msg.segment.data == []
            # errors still arrive as JSON text frames
            w.write(_mask_frame(b'{"montage": "no_such_scheme"}'))
            await w.drain()
            async with asyncio.timeout(30):
                while True:
                    opcode, payload = await read_frame(r)
                    if opcode == OP_TEXT and b"error" in payload:
                        break
            assert "error" in json.loads(payload)
            w.close()
        finally:
            await server.stop()

    asyncio.run(main())
