"""Serving transport (T1/T4/T6/T7/T8): asyncio socket server in front
of QuerySession.

The reference serves its protocol over a WebSocket upgraded from
``GET /ts/query`` (server/TimeSeriesQueryService.scala:79-135,
WebServer.scala:66-79). This transport keeps the same MESSAGE
vocabulary and session semantics over newline-delimited JSON on a TCP
socket — stdlib-only (no websockets package in this image); RFC6455
framing is a thin adapter in front of the same ``Connection`` loop.

Reference semantics reproduced:

- **T6 buffer + timed flush** (BufferWithEpochDumpStage,
  server/TimeSeriesFlow.scala:766-879): data requests buffer up to
  ``max_queue`` (3); the buffer flushes when full or on a ``flush_ms``
  (50 ms) timer; a DumpBufferRequest CLEARS all pending buffered
  requests, bumps the session epoch, and cancels in-flight Spark jobs
  (T5, via cancelJobGroup).
- **T5 stale-epoch filtering** (shouldDiscardMessage, :175-195):
  responses computed under an epoch older than the session's current
  epoch are dropped, never written to the socket.
- **T7 keep-alive / idle kill** (:550, killInactive :987-996): the
  server emits ``{"keepAlive": true}`` every ``keepalive_s``; any
  inbound message refreshes ``last_active``; a watchdog closes the
  connection once ``idle_timeout_s`` passes without traffic.
- **T1 parse cascade**: messages parse through
  ``session.parse_request``; unparseable input produces a JSON error
  message (the reference's error TextMessage lane) without killing the
  connection.
- **P5 admission** (overLimit, query/TimeSeriesQueryUtils.scala:362-369):
  the transport makes no serving decision of its own. ``QuerySession.run``
  plans every channel through ``plans/router.py`` before any Spark job,
  so an over-limit request answers on the error lane untouched by the
  cluster. Admitted pages are bounded, and each channel is delivered
  with one ``collect()`` as one data message carrying its page kind
  (``isMinMax``, the reference Segment field).
"""

from __future__ import annotations

import asyncio
import json
from dataclasses import dataclass
from typing import Any, Callable

from pennsieve_streaming_spark.serving.session import (
    DumpBufferRequest,
    KeepAlive,
    QuerySession,
    TimeSeriesRequest,
    parse_request,
)


@dataclass(frozen=True)
class TransportConfig:
    """Reference operational defaults (application.conf:7-28)."""

    max_queue: int = 3          # max-message-queue
    flush_ms: int = 50          # buffer flush timer
    keepalive_s: float = 15.0   # server keep-alive interval
    idle_timeout_s: float = 3600.0  # idle-timeout


# engine exception -> reference error name (server/Error.scala)
_ERROR_NAMES = {
    "MontageValidationError": "PackageMissingChannels",
    "QueryLimitExceeded": "UnexpectedError",
    "ValueError": "UnexpectedError",
    "JSONDecodeError": "UnexpectedError",
}


def error_json(exc: BaseException) -> dict:
    """The reference's TimeSeriesError wire shape
    (server/Error.scala:36-39: error name, reason, channelNames).
    Exceptions may carry an explicit wire ``name`` (sources/channels.py
    errors); otherwise the class name maps through _ERROR_NAMES."""
    name = getattr(exc, "name", None) or type(exc).__name__
    return {
        "error": _ERROR_NAMES.get(name, name),
        "reason": str(exc)[:500],
        "channelNames": list(getattr(exc, "channel_names", [])),
    }


class Connection:
    """One client connection bound to one QuerySession."""

    def __init__(
        self,
        session: QuerySession,
        send: Callable[[dict], Any],
        config: TransportConfig,
        loop: asyncio.AbstractEventLoop,
        on_close: Callable[[], None] | None = None,
    ):
        self.session = session
        self._send = send
        self.config = config
        self.loop = loop
        self.on_close = on_close
        self.buffer: list[TimeSeriesRequest] = []
        self.buffer_epochs: list[int] = []
        self.last_active = loop.time()
        self.closed = asyncio.Event()
        # flushed requests execute on a worker task so the reader stays
        # responsive — a DumpBufferRequest arriving mid-query can still
        # bump the epoch and cancel the in-flight job group
        self._work: asyncio.Queue[tuple[TimeSeriesRequest, int]] = asyncio.Queue()

    async def send(self, msg: dict) -> None:
        if self.closed.is_set():
            return
        try:
            await self._send(msg)
        except (ConnectionError, RuntimeError, OSError):
            # peer went away mid-write: stop the session instead of
            # letting worker/keepalive tasks die on unhandled errors
            self.close()

    # -- inbound ---------------------------------------------------------
    async def handle_raw(self, raw: str) -> None:
        self.last_active = self.loop.time()
        try:
            req = parse_request(raw)
        except Exception as e:
            # T1 error lane: ANY malformed input (bad JSON, bad shape,
            # wrong types) answers with an error, never a disconnect
            await self.send(error_json(e))
            return
        if isinstance(req, KeepAlive):
            return
        if isinstance(req, DumpBufferRequest):
            n_dropped = len(self.buffer)
            self.buffer.clear()
            self.buffer_epochs.clear()
            epoch = self.session.dump_buffer()
            await self.send({"dumpBuffer": epoch, "dropped": n_dropped})
            return
        if isinstance(req, TimeSeriesRequest):
            # T6: buffer; flush when full (the reference stage flushes
            # at maxSize rather than blocking the inlet) or on timer
            self.buffer.append(req)
            self.buffer_epochs.append(self.session.state.epoch)
            if len(self.buffer) >= self.config.max_queue:
                await self.flush()
            return
        # state requests (filter/montage/clear/reset) apply immediately
        try:
            result = self.session.handle(raw)
            if isinstance(result, list):
                # montage switch answers with the virtual-channel list
                # (ChannelsDetailsList, WebServerSpec.scala:493-505)
                await self.send({"channelDetails": result})
            else:
                await self.send({"ok": True})
        except Exception as e:  # validation errors -> error lane
            await self.send(error_json(e))

    # -- T6 flush --------------------------------------------------------
    async def flush(self) -> None:
        pending = list(zip(self.buffer, self.buffer_epochs))
        self.buffer.clear()
        self.buffer_epochs.clear()
        for item in pending:
            self._work.put_nowait(item)

    async def worker(self) -> None:
        """T3: bounded execution — one in-flight Spark query per
        connection (the reference bounds with mapAsyncUnordered(8)
        across range requests; per-connection serialization here keeps
        cancel semantics simple while Spark parallelizes internally)."""
        while not self.closed.is_set():
            req, epoch = await self._work.get()
            if epoch < self.session.state.epoch:
                continue  # T5: stale before it even started
            await self._execute(req, epoch)

    async def _execute(self, req: TimeSeriesRequest, epoch: int) -> None:
        try:
            # QuerySession.run plans every channel before any Spark job:
            # an over-limit request raises QueryLimitExceeded and
            # answers on the error lane without touching the cluster
            pages = await asyncio.to_thread(self._run_collect, req)
        except Exception as e:
            if epoch < self.session.state.epoch:
                return  # cancellation noise from a dumped epoch
            await self.send(error_json(e))
            return
        if epoch < self.session.state.epoch:
            return  # T5: dumped while the Spark job ran -> suppress
        total = len(pages)
        for i, (name, (is_min_max, rows)) in enumerate(pages.items()):
            await self.send(
                {
                    "channel": name,
                    "epoch": epoch,
                    "responseSequenceId": i,
                    "totalResponses": total,
                    "isMinMax": is_min_max,
                    "rows": rows,
                }
            )

    def _run_collect(
        self, req: TimeSeriesRequest
    ) -> dict[str, tuple[bool, list[dict]]]:
        # one collect() per channel: raw pages are bounded by the
        # router's admission limit and resampled pages by their pixel
        # count, so no page can outgrow the driver
        pages = self.session.run(req)
        return {
            name: (
                pages.plans[name].path != "raw",
                [row.asDict() for row in df.collect()],
            )
            for name, df in pages.items()
        }

    # -- timers ----------------------------------------------------------
    async def flusher(self) -> None:
        while not self.closed.is_set():
            await asyncio.sleep(self.config.flush_ms / 1000.0)
            if self.buffer:
                await self.flush()

    async def keepaliver(self) -> None:
        while not self.closed.is_set():
            await asyncio.sleep(self.config.keepalive_s)
            await self.send({"keepAlive": True})

    async def idle_watchdog(self) -> None:
        while not self.closed.is_set():
            await asyncio.sleep(
                min(self.config.idle_timeout_s / 4.0, 1.0)
            )
            if self.loop.time() - self.last_active > self.config.idle_timeout_s:
                await self.send({"error": "IdleTimeout",
                                 "reason": "idle timeout, closing",
                                 "channelNames": []})
                self.close()

    def close(self) -> None:
        if self.closed.is_set():
            return
        self.closed.set()
        self.session.close()
        if self.on_close is not None:
            self.on_close()


# One NDJSON line / one WS frame must fit the read buffer; requests
# larger than this answer on the error lane (or close, for WS frames).
MAX_MESSAGE_BYTES = 16 * 1024 * 1024


async def drive_connection(conn: Connection, recv_loop) -> None:
    """Shared connection lifecycle for every transport: spawn the
    timer/worker tasks, run the transport-specific receive loop, tear
    everything down once either side is done. ``recv_loop(conn)`` is an
    async callable that returns when the peer disconnects."""
    tasks = [
        asyncio.create_task(conn.worker()),
        asyncio.create_task(conn.flusher()),
        asyncio.create_task(conn.keepaliver()),
        asyncio.create_task(conn.idle_watchdog()),
    ]
    try:
        await recv_loop(conn)
    finally:
        conn.close()
        for t in tasks:
            t.cancel()


class TimeSeriesServer:
    """NDJSON-over-TCP server: one QuerySession per connection.

    ``session_factory(session_id)`` builds the QuerySession (binding
    the SparkSession, samples frame, and channel rates)."""

    def __init__(
        self,
        session_factory: Callable[[str], QuerySession],
        config: TransportConfig | None = None,
    ):
        self.session_factory = session_factory
        self.config = config or TransportConfig()
        self._server: asyncio.AbstractServer | None = None
        self._n_conns = 0

    async def _client(
        self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter
    ) -> None:
        self._n_conns += 1
        session = self.session_factory(f"conn-{self._n_conns}")
        loop = asyncio.get_running_loop()
        lock = asyncio.Lock()

        async def send(msg: dict) -> None:
            async with lock:
                writer.write((json.dumps(msg) + "\n").encode())
                await writer.drain()

        async def recv_loop(conn: Connection) -> None:
            while not conn.closed.is_set():
                try:
                    line = await reader.readline()
                except ConnectionError:
                    break
                except ValueError as e:
                    # line exceeded the stream limit: error lane, then
                    # resync is impossible mid-line -> close politely
                    await conn.send(error_json(e))
                    break
                if not line:
                    break
                raw = line.decode().strip()
                if raw:
                    await conn.handle_raw(raw)

        conn = Connection(
            session, send, self.config, loop, on_close=writer.close
        )
        try:
            await drive_connection(conn, recv_loop)
        finally:
            writer.close()

    async def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        self._server = await asyncio.start_server(
            self._client, host, port, limit=MAX_MESSAGE_BYTES
        )
        return self._server.sockets[0].getsockname()[1]

    async def stop(self) -> None:
        if self._server is not None:
            self._server.close()
            await self._server.wait_closed()
