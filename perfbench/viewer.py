"""serve_viewer load generator and answer checker.

One process, three connections in a closed loop with zero think time:

- ``plain``: NDJSON, raw electrodes;
- ``dsp``:   NDJSON with the BIPOLAR_ANT_POS montage and a bandpass
  filter installed;
- ``ws``:    WebSocket ``format=binary`` (protobuf frames), raw
  electrodes.

Each connection walks a seeded pan/zoom path of 8-channel pages, 1000
px wide, from 10 s (raw samples) to 30 min (min/max per pixel), see
``ZOOM_CYCLES_S``. Every
answer is kept and checked after the timed window against numpy on the
generated arrays: raw slices, min/max/count per pixel and montage
differences exactly, filtered pages against a one-process numpy filter
of the same window.
"""

from __future__ import annotations

import asyncio
import base64
import json
import os
import random
import time

import numpy as np

from perfbench.datagen import ELECTRODES, RATE_HZ, Recording

PAGE_PX = 1000
PAGE_CHANNELS = 8
# Zoom cycles, seconds per page, one per connection: raw 10 s pages
# with one resampled zoom level, so a run's request mix is the same
# whatever the seed, and the first two pages of a cycle warm every plan
# shape. Two raw pages to one resampled on the unfiltered connections
# keep the run's median inside one group instead of between two.
# Filtered pages stop at 1 min: without scipy the bandpass runs as a
# per-sample Python loop in the Spark workers, and one 30-min
# 8-channel filtered page takes longer than a whole run.
ZOOM_CYCLES_S = {"plain": [10, 1800, 10], "dsp": [10, 60], "ws": [10, 600, 10]}
MONTAGE = [
    ("Fp1", "F7"), ("F7", "T7"), ("T7", "P7"), ("P7", "O1"),
    ("Fp2", "F8"), ("F8", "T8"), ("T8", "P8"), ("P8", "O2"),
    ("Fp1", "F3"), ("F3", "C3"), ("C3", "P3"), ("P3", "O1"),
    ("Fp2", "F4"), ("F4", "C4"), ("C4", "P4"), ("P4", "O2"),
    ("Fz", "Cz"), ("Cz", "Fz"),
]
BANDPASS = [4, 10.0, 8.0]  # order, centre Hz, width Hz
REQUEST_TIMEOUT_S = 60.0


def walk(rng: random.Random, rec: Recording, names: list[str], cycle: list[int]):
    """Endless seeded pan/zoom walk: the zoom level follows a fixed
    cycle, the view pans by a seeded fraction of a page."""
    span = rec.end_us - rec.start_us
    centre = rec.start_us + rng.random() * span
    chans = rng.sample(names, PAGE_CHANNELS)
    step = 0
    while True:
        width = min(cycle[step % len(cycle)] * 1_000_000, span)
        centre += rng.uniform(-1.0, 1.0) * width
        centre = min(max(centre, rec.start_us + width / 2), rec.end_us - width / 2)
        start = int(centre - width / 2)
        if step % 5 == 4:
            chans = rng.sample(names, PAGE_CHANNELS)
        yield {"virtualChannels": list(chans), "startTime": start,
               "endTime": start + width, "pixelWidth": width // PAGE_PX}
        step += 1


# ---------------------------------------------------------------------------
# wire clients
# ---------------------------------------------------------------------------

class NdjsonClient:
    async def connect(self, port: int) -> None:
        self.reader, self.writer = await asyncio.open_connection(
            "127.0.0.1", port, limit=64 * 2**20)

    async def send(self, msg: dict) -> None:
        self.writer.write((json.dumps(msg) + "\n").encode())
        await self.writer.drain()

    async def recv(self) -> tuple[bytes, bool]:
        line = await self.reader.readline()
        if not line:
            raise ConnectionError("server closed the connection")
        return line, False

    def close(self) -> None:
        self.writer.close()


class WsClient(NdjsonClient):
    async def connect(self, port: int) -> None:
        await super().connect(port)
        key = base64.b64encode(os.urandom(16)).decode()
        self.writer.write(
            ("GET /ts/query?package=perfbench&format=binary HTTP/1.1\r\n"
             "Host: 127.0.0.1\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n"
             f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n").encode())
        await self.writer.drain()
        status = await self.reader.readline()
        if b" 101 " not in status:
            raise ConnectionError(f"websocket upgrade refused: {status!r}")
        while (await self.reader.readline()).strip():
            pass

    async def send(self, msg: dict) -> None:
        payload = json.dumps(msg).encode()
        mask = os.urandom(4)
        n = len(payload)
        head = bytes([0x81])
        if n < 126:
            head += bytes([0x80 | n])
        elif n < 1 << 16:
            head += bytes([0x80 | 126]) + n.to_bytes(2, "big")
        else:
            head += bytes([0x80 | 127]) + n.to_bytes(8, "big")
        body = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        self.writer.write(head + mask + body)
        await self.writer.drain()

    async def recv(self) -> tuple[bytes, bool]:
        b1, b2 = await self.reader.readexactly(2)
        n = b2 & 0x7F
        if n == 126:
            n = int.from_bytes(await self.reader.readexactly(2), "big")
        elif n == 127:
            n = int.from_bytes(await self.reader.readexactly(8), "big")
        payload = await self.reader.readexactly(n)
        return payload, (b1 & 0x0F) == 0x2


# ---------------------------------------------------------------------------
# minimal protobuf reader for TimeSeriesMessage{segment=1{...}} frames
# ---------------------------------------------------------------------------

def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    val = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def _fields(buf: bytes) -> dict[int, object]:
    out: dict[int, object] = {}
    pos = 0
    while pos < len(buf):
        key, pos = _varint(buf, pos)
        num, wt = key >> 3, key & 7
        if wt == 0:
            out[num], pos = _varint(buf, pos)
        elif wt == 1:
            out[num] = buf[pos:pos + 8]
            pos += 8
        elif wt == 2:
            n, pos = _varint(buf, pos)
            out[num] = buf[pos:pos + n]
            pos += n
        elif wt == 5:
            out[num] = buf[pos:pos + 4]
            pos += 4
        else:
            raise ValueError(f"wire type {wt}")
    return out


def decode_segment(payload: bytes) -> dict:
    msg = _fields(payload)
    seg = _fields(msg.get(1, b""))
    data = seg.get(13, b"")
    return {
        "channel": seg.get(14, b"").decode(),
        "start_ts": seg.get(1, 0),
        "is_min_max": bool(seg.get(9, 0)),
        "nr_points": seg.get(12, 0),
        "data": np.frombuffer(data, dtype="<f8"),
        "totalResponses": msg.get(5, 0),
    }


# ---------------------------------------------------------------------------
# load loop
# ---------------------------------------------------------------------------

class Conn:
    def __init__(self, kind: str, client, names: list[str], rng, rec, cycle):
        self.kind = kind
        self.client = client
        self.walk = walk(rng, rec, names, cycle)
        self.cycle_len = len(cycle)
        self.ops: list[dict] = []
        self.n = 0  # requests sent, one per page of the walk
        self.prelude = None  # coroutine function run before the first loop

    async def request(self, req: dict, phase: str) -> dict:
        self.n += 1
        rid = f"{self.kind}-{self.n}"
        op = {"rid": rid, "conn": self.kind, "phase": phase, "req": req,
              "pos": (self.n - 1) % self.cycle_len,  # place in the zoom cycle
              "frames": [], "bytes": 0, "error": None}
        op["send"] = time.perf_counter()
        await self.client.send({"session": rid, **req})
        want = None
        try:
            while want is None or len(op["frames"]) < want:
                raw, binary = await asyncio.wait_for(
                    self.client.recv(), REQUEST_TIMEOUT_S)
                if binary:
                    frame = decode_segment(raw)
                else:
                    frame = json.loads(raw)
                    if "keepAlive" in frame:
                        continue
                    if "error" in frame:
                        op["error"] = frame
                        break
                if not op["frames"]:
                    op["first"] = time.perf_counter()
                op["frames"].append(frame)
                op["bytes"] += len(raw)
                want = frame["totalResponses"]
        except asyncio.TimeoutError:
            op["error"] = "timeout"
        op["last"] = time.perf_counter()
        self.ops.append(op)
        return op

    async def loop(self, phase: str, until: float | None) -> None:
        """Closed loop over whole zoom cycles: one cycle, then further
        cycles until ``until`` has passed, so that a phase sends the same
        mix of pages whatever the timing."""
        if self.prelude is not None:
            prelude, self.prelude = self.prelude, None
            await prelude()
        while True:
            op = await self.request(next(self.walk), phase)
            if op["error"] == "timeout":
                return
            if self.n % self.cycle_len == 0 and (
                    until is None or time.perf_counter() >= until):
                return


async def open_conns(ports: dict, rec: Recording, seed: int) -> list[Conn]:
    plain, dsp, ws = NdjsonClient(), NdjsonClient(), WsClient()
    await plain.connect(ports["ndjson"])
    await dsp.connect(ports["ndjson"])
    await ws.connect(ports["ws"])
    rng = random.Random(seed)
    names_montage = [f"{a}<->{b}" for a, b in MONTAGE]
    conns = [
        Conn("plain", plain, ELECTRODES, random.Random(rng.random()), rec,
             ZOOM_CYCLES_S["plain"]),
        Conn("dsp", dsp, names_montage, random.Random(rng.random()), rec,
             ZOOM_CYCLES_S["dsp"]),
        Conn("ws", ws, ELECTRODES, random.Random(rng.random()), rec,
             ZOOM_CYCLES_S["ws"]),
    ]

    async def ack(msg: dict) -> dict:
        await dsp.send(msg)
        while "keepAlive" in (reply := json.loads((await dsp.recv())[0])):
            pass
        return reply

    async def montage_then_filter() -> None:
        """Montage first, one page checked unfiltered; then the filter."""
        reply = await ack({"montage": "BIPOLAR_ANT_POS"})
        if "channelDetails" not in reply:
            raise RuntimeError(f"montage refused: {reply}")
        await conns[1].request(next(conns[1].walk), "montage")
        reply = await ack({"filter": "bandpass", "filterParameters": BANDPASS,
                           "channels": names_montage})
        if not reply.get("ok"):
            raise RuntimeError(f"filter refused: {reply}")

    conns[1].prelude = montage_then_filter
    return conns


# ---------------------------------------------------------------------------
# answer checks
# ---------------------------------------------------------------------------

class Checker:
    def __init__(self, rec: Recording):
        self.rec = rec
        from pennsieve_streaming_spark.dsp.butterworth import (
            butter_sos, filter_transient_length, reflected_prewarm, sosfilt)
        order, freq, width = BANDPASS
        self.sos = butter_sos(order, freq, RATE_HZ, "bandpass", width)
        self.pad = filter_transient_length(order, freq + width / 2, RATE_HZ)
        self.prewarm, self.sosfilt = reflected_prewarm, sosfilt

    def expected(self, name: str, start: int, end: int, filtered: bool):
        ts = self.rec.ts
        lo, hi = np.searchsorted(ts, start), np.searchsorted(ts, end)
        t = ts[lo:hi]
        if "<->" in name:
            a, b = name.split("<->")
            v = self.rec.values[a][lo:hi] - self.rec.values[b][lo:hi]
        else:
            v = self.rec.values[name][lo:hi]
        if filtered and len(v):
            # filter state resets at gaps over 100 sample periods
            gap = 100 / RATE_HZ * 1e6
            out = []
            for run in np.split(v, np.flatnonzero(np.diff(t) > gap) + 1):
                _, zi = self.sosfilt(self.sos, self.prewarm(run, self.pad))
                out.append(self.sosfilt(self.sos, run, zi=zi)[0])
            v = np.concatenate(out)
        return t, v

    @staticmethod
    def buckets(t, v, start: int, pw: int):
        b = (t - start) // pw
        keys, idx, counts = np.unique(b, return_index=True, return_counts=True)
        mins = np.minimum.reduceat(v, idx) if len(v) else v
        maxs = np.maximum.reduceat(v, idx) if len(v) else v
        return keys, mins, maxs, counts

    def check(self, op: dict) -> str | None:
        """None if every frame of the answer is right, else why not."""
        if op["error"]:
            return f"error: {str(op['error'])[:200]}"
        req = op["req"]
        filtered = op["conn"] == "dsp" and op["phase"] != "montage"
        start, end, pw = req["startTime"], req["endTime"], req["pixelWidth"]
        resampled = pw / (1e6 / RATE_HZ) > 3.0
        got = {}
        for f in op["frames"]:
            got[f["channel"]] = f
        if sorted(got) != sorted(req["virtualChannels"]):
            return f"channels {sorted(got)} != {sorted(req['virtualChannels'])}"
        close = (lambda a, b: np.allclose(a, b, rtol=1e-9, atol=1e-9)) if filtered \
            else (lambda a, b: np.array_equal(a, b))
        for name, f in got.items():
            t, v = self.expected(name, start, end, filtered)
            if resampled:
                keys, mins, maxs, counts = self.buckets(t, v, start, pw)
                if "rows" in f:
                    rows = sorted(f["rows"], key=lambda r: r["bucket"])
                    if [r["bucket"] for r in rows] != keys.tolist() or \
                            [r["n_samples"] for r in rows] != counts.tolist() or \
                            [r["bucket_start"] for r in rows] != (start + keys * pw).tolist():
                        return f"{name}: buckets or counts differ"
                    gmin = np.array([r["min_val"] for r in rows])
                    gmax = np.array([r["max_val"] for r in rows])
                else:
                    if not f["is_min_max"] or f["nr_points"] != len(keys):
                        return f"{name}: segment header differs"
                    gmin, gmax = f["data"][0::2], f["data"][1::2]
                if not (close(gmin, mins) and close(gmax, maxs)):
                    return f"{name}: min/max differ"
            else:
                if "rows" in f:
                    rows = sorted(f["rows"], key=lambda r: r["ts"])
                    if [r["ts"] for r in rows] != t.tolist():
                        return f"{name}: timestamps differ"
                    gv = np.array([r["value"] for r in rows])
                else:
                    if f["is_min_max"] or f["nr_points"] != len(t) or (
                            len(t) and f["start_ts"] != int(t[0])):
                        return f"{name}: segment header differs"
                    gv = f["data"]
                if not close(gv, v):
                    return f"{name}: values differ"
        return None


def corrupt(op: dict) -> None:
    """Self-test hook: damage one value of the first frame."""
    f = op["frames"][0]
    if "rows" in f and f["rows"]:
        k = "value" if "value" in f["rows"][0] else "max_val"
        f["rows"][0][k] += 1.0
    elif "data" in f and len(f["data"]):
        f["data"] = f["data"].copy()
        f["data"][0] += 1.0
    else:
        f["channel"] = "corrupt"
