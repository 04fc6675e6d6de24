"""Protobuf wire adapter for the reference's binary WS frames (S8).

The reference serves query results as protobuf ``TimeSeriesMessage``
binary WebSocket frames (server/TimeSeriesFlow.scala:431-447 BinaryMessage
emission; golden round-trip SegmentProtobufSpec.scala:33-62). The message
classes come from the external ``timeseries-core`` artifact whose .proto
is not in the reference repo; the field NAMES, types, and order are fully
recoverable from the ScalaPB case-class call sites —

- ``TimeSeriesMessage(segment?, event?, instruction?, ingestSegment?,
  totalResponses, responseSequenceId)`` (server/TimeSeriesFlow.scala:389-425)
- ``Segment(startTs, source, lastUsed, unit, samplePeriod,
  requestedSamplePeriod, pageStart, pageEnd, isMinMax, unitM,
  segmentType, nrPoints, data, channelName)``
  (query/BaseTimeSeriesQuery.scala:151-165, SegmentProtobufSpec.scala:33-45)
- ``Event(source, pageStart, pageEnd, samplePeriod, pointsPerEvent,
  times, data)`` (query/TimeSeriesUnitQueryRawHttp.scala:104-112)
- ``IngestSegment(channelId, startTime, samplePeriod, data)``
  (IngestSegmentSpec.scala:29-34)

ScalaPB generates case-class fields in field-number order, so field
numbers are assigned sequentially in that order. Encoding follows the
public proto3 wire format (varint / fixed64 / length-delimited, packed
repeated scalars, default-value omission); implemented here directly
because the runtime has no protobuf package — the codec is ~150 lines
and dependency-free.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field as dc_field

# ---------------------------------------------------------------------------
# proto3 wire primitives
# ---------------------------------------------------------------------------

_WT_VARINT = 0
_WT_FIXED64 = 1
_WT_LEN = 2
_WT_FIXED32 = 5


def _varint(n: int) -> bytes:
    if n < 0:  # proto int64: negative -> 10-byte two's-complement varint
        n += 1 << 64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")
    if val >= 1 << 63:  # int64 two's complement
        val -= 1 << 64
    return val, pos


def _tag(field_num: int, wire_type: int) -> bytes:
    return _varint((field_num << 3) | wire_type)


def _enc_int(field_num: int, v: int) -> bytes:
    return b"" if v == 0 else _tag(field_num, _WT_VARINT) + _varint(v)


def _enc_bool(field_num: int, v: bool) -> bytes:
    return b"" if not v else _tag(field_num, _WT_VARINT) + b"\x01"


def _enc_double(field_num: int, v: float) -> bytes:
    if v == 0.0:
        return b""
    return _tag(field_num, _WT_FIXED64) + struct.pack("<d", v)


def _enc_str(field_num: int, v: str) -> bytes:
    if not v:
        return b""
    raw = v.encode("utf-8")
    return _tag(field_num, _WT_LEN) + _varint(len(raw)) + raw


def _enc_packed_doubles(field_num: int, vals) -> bytes:
    if not vals:
        return b""
    raw = struct.pack(f"<{len(vals)}d", *vals)
    return _tag(field_num, _WT_LEN) + _varint(len(raw)) + raw


def _enc_packed_int64s(field_num: int, vals) -> bytes:
    if not vals:
        return b""
    raw = b"".join(_varint(v) for v in vals)
    return _tag(field_num, _WT_LEN) + _varint(len(raw)) + raw


def _enc_message(field_num: int, raw: bytes | None) -> bytes:
    if raw is None:
        return b""
    return _tag(field_num, _WT_LEN) + _varint(len(raw)) + raw


def _parse_fields(buf: bytes) -> dict[int, list]:
    """Parse a message body into {field_num: [raw values]} — varints as
    int, fixed64 as 8 raw bytes, length-delimited as bytes. Unknown
    fields are retained (and ignored by the mappers), matching proto3
    forward-compat semantics."""
    out: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        fnum, wt = key >> 3, key & 7
        if wt == _WT_VARINT:
            val, pos = _read_varint(buf, pos)
        elif wt == _WT_FIXED64:
            val = buf[pos:pos + 8]
            pos += 8
        elif wt == _WT_LEN:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos:pos + ln]
            pos += ln
        elif wt == _WT_FIXED32:
            val = buf[pos:pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        out.setdefault(fnum, []).append(val)
    return out


def _get_int(fields: dict, num: int, default: int = 0) -> int:
    return fields[num][-1] if num in fields else default


def _get_double(fields: dict, num: int) -> float:
    if num not in fields:
        return 0.0
    v = fields[num][-1]
    return struct.unpack("<d", v)[0] if isinstance(v, bytes) else float(v)


def _get_str(fields: dict, num: int) -> str:
    return fields[num][-1].decode("utf-8") if num in fields else ""


def _get_packed_doubles(fields: dict, num: int) -> list[float]:
    out: list[float] = []
    for chunk in fields.get(num, []):
        if isinstance(chunk, bytes) and len(chunk) % 8 == 0 and len(chunk) != 8:
            out.extend(struct.unpack(f"<{len(chunk) // 8}d", chunk))
        elif isinstance(chunk, bytes) and len(chunk) == 8:
            # ambiguous: one packed element or one unpacked fixed64 — same bytes
            out.extend(struct.unpack("<d", chunk))
        else:  # pragma: no cover - malformed
            raise ValueError("bad packed double chunk")
    return out


def _get_packed_int64s(fields: dict, num: int) -> list[int]:
    out: list[int] = []
    for chunk in fields.get(num, []):
        if isinstance(chunk, bytes):
            pos = 0
            while pos < len(chunk):
                v, pos = _read_varint(chunk, pos)
                out.append(v)
        else:
            out.append(chunk)
    return out


# ---------------------------------------------------------------------------
# message classes (field numbers = case-class order, see module docstring)
# ---------------------------------------------------------------------------

@dataclass
class Segment:
    start_ts: int = 0                      # 1  startTs
    source: str = ""                       # 2  source (channel node id)
    last_used: int = 0                     # 3  lastUsed
    unit: str = ""                         # 4  unit
    sample_period: float = 0.0             # 5  samplePeriod
    requested_sample_period: float = 0.0   # 6  requestedSamplePeriod
    page_start: int = 0                    # 7  pageStart
    page_end: int = 0                      # 8  pageEnd
    is_min_max: bool = False               # 9  isMinMax
    unit_m: int = 0                        # 10 unitM
    segment_type: str = ""                 # 11 segmentType
    nr_points: int = 0                     # 12 nrPoints
    data: list[float] = dc_field(default_factory=list)  # 13 data
    channel_name: str = ""                 # 14 channelName

    def to_bytes(self) -> bytes:
        return b"".join((
            _enc_int(1, self.start_ts),
            _enc_str(2, self.source),
            _enc_int(3, self.last_used),
            _enc_str(4, self.unit),
            _enc_double(5, self.sample_period),
            _enc_double(6, self.requested_sample_period),
            _enc_int(7, self.page_start),
            _enc_int(8, self.page_end),
            _enc_bool(9, self.is_min_max),
            _enc_int(10, self.unit_m),
            _enc_str(11, self.segment_type),
            _enc_int(12, self.nr_points),
            _enc_packed_doubles(13, self.data),
            _enc_str(14, self.channel_name),
        ))

    @classmethod
    def from_bytes(cls, raw: bytes) -> "Segment":
        f = _parse_fields(raw)
        return cls(
            start_ts=_get_int(f, 1),
            source=_get_str(f, 2),
            last_used=_get_int(f, 3),
            unit=_get_str(f, 4),
            sample_period=_get_double(f, 5),
            requested_sample_period=_get_double(f, 6),
            page_start=_get_int(f, 7),
            page_end=_get_int(f, 8),
            is_min_max=bool(_get_int(f, 9)),
            unit_m=_get_int(f, 10),
            segment_type=_get_str(f, 11),
            nr_points=_get_int(f, 12),
            data=_get_packed_doubles(f, 13),
            channel_name=_get_str(f, 14),
        )


@dataclass
class Event:
    source: str = ""                       # 1 source
    page_start: int = 0                    # 2 pageStart
    page_end: int = 0                      # 3 pageEnd
    sample_period: float = 0.0             # 4 samplePeriod (pixel width)
    points_per_event: int = 0              # 5 pointsPerEvent
    times: list[int] = dc_field(default_factory=list)   # 6 times [t, count, ...]
    data: list[float] = dc_field(default_factory=list)  # 7 data (spike waveforms)

    def to_bytes(self) -> bytes:
        return b"".join((
            _enc_str(1, self.source),
            _enc_int(2, self.page_start),
            _enc_int(3, self.page_end),
            _enc_double(4, self.sample_period),
            _enc_int(5, self.points_per_event),
            _enc_packed_int64s(6, self.times),
            _enc_packed_doubles(7, self.data),
        ))

    @classmethod
    def from_bytes(cls, raw: bytes) -> "Event":
        f = _parse_fields(raw)
        return cls(
            source=_get_str(f, 1),
            page_start=_get_int(f, 2),
            page_end=_get_int(f, 3),
            sample_period=_get_double(f, 4),
            points_per_event=_get_int(f, 5),
            times=_get_packed_int64s(f, 6),
            data=_get_packed_doubles(f, 7),
        )


@dataclass
class IngestSegment:
    channel_id: str = ""                   # 1 channelId
    start_time: int = 0                    # 2 startTime
    sample_period: float = 0.0             # 3 samplePeriod
    data: list[float] = dc_field(default_factory=list)  # 4 data

    def to_bytes(self) -> bytes:
        return b"".join((
            _enc_str(1, self.channel_id),
            _enc_int(2, self.start_time),
            _enc_double(3, self.sample_period),
            _enc_packed_doubles(4, self.data),
        ))

    @classmethod
    def from_bytes(cls, raw: bytes) -> "IngestSegment":
        f = _parse_fields(raw)
        return cls(
            channel_id=_get_str(f, 1),
            start_time=_get_int(f, 2),
            sample_period=_get_double(f, 3),
            data=_get_packed_doubles(f, 4),
        )


@dataclass
class TimeSeriesMessage:
    segment: Segment | None = None         # 1 segment
    event: Event | None = None             # 2 event
    instruction: bytes | None = None       # 3 instruction (opaque; unused
    #   by the reference's data path — retained for wire compatibility)
    ingest_segment: IngestSegment | None = None  # 4 ingestSegment
    total_responses: int = 0               # 5 totalResponses
    response_sequence_id: int = 0          # 6 responseSequenceId

    def to_bytes(self) -> bytes:
        return b"".join((
            _enc_message(1, self.segment.to_bytes() if self.segment else None),
            _enc_message(2, self.event.to_bytes() if self.event else None),
            _enc_message(3, self.instruction),
            _enc_message(
                4, self.ingest_segment.to_bytes() if self.ingest_segment else None
            ),
            _enc_int(5, self.total_responses),
            _enc_int(6, self.response_sequence_id),
        ))

    @classmethod
    def from_bytes(cls, raw: bytes) -> "TimeSeriesMessage":
        f = _parse_fields(raw)
        return cls(
            segment=Segment.from_bytes(f[1][-1]) if 1 in f else None,
            event=Event.from_bytes(f[2][-1]) if 2 in f else None,
            instruction=f[3][-1] if 3 in f else None,
            ingest_segment=(
                IngestSegment.from_bytes(f[4][-1]) if 4 in f else None
            ),
            total_responses=_get_int(f, 5),
            response_sequence_id=_get_int(f, 6),
        )


# ---------------------------------------------------------------------------
# engine adapters
# ---------------------------------------------------------------------------

def segment_row_to_message(
    row, total_responses: int = 1, response_sequence_id: int = 0
) -> TimeSeriesMessage:
    """Build a TimeSeriesMessage from one Segment-shaped engine row
    (operators/segments.py build_segments_* output schema)."""
    seg = Segment(
        start_ts=int(row["start_ts"]),
        source=row["source"],
        unit=row["unit"],
        sample_period=float(row["sample_period"]),
        requested_sample_period=float(row["requested_sample_period"]),
        page_start=int(row["page_start"]),
        page_end=int(row["page_end"]),
        is_min_max=bool(row["is_min_max"]),
        unit_m=int(row["unit_m"]),
        segment_type=row["segment_type"],
        nr_points=int(row["nr_points"]),
        data=list(row["data"]),
        channel_name=row["channel_name"],
    )
    return TimeSeriesMessage(
        segment=seg,
        total_responses=total_responses,
        response_sequence_id=response_sequence_id,
    )


def data_message_to_protobuf(msg: dict) -> TimeSeriesMessage:
    """Convert a transport data message (``{"channel", "rows",
    "isMinMax", "totalResponses", "responseSequenceId", ...}``) into the
    reference's binary wire message. The page kind comes from the
    message's ``isMinMax``, so an empty page keeps its kind: min/max
    rows ``(bucket, min_val, max_val, ...)`` become an interleaved
    [min,max,...] payload with ``isMinMax`` set
    (BaseTimeSeriesQuery.scala:86-96), raw rows ``(ts, value)`` a plain
    segment."""
    rows = msg["rows"]
    name = msg.get("channel", "")
    if rows and "avg_time" in rows[0] and "count" in rows[0]:
        # unit-path event summary -> Event message with interleaved
        # [avgTime, count, ...] times (TimeSeriesUnitQueryRawHttp
        # .scala:137 flatTimes; rebasing shifts only even positions)
        ordered = sorted(rows, key=lambda r: r["avg_time"])
        ev = Event(
            source=name,
            times=[int(x) for r in ordered for x in (r["avg_time"], r["count"])],
        )
        return TimeSeriesMessage(
            event=ev,
            total_responses=int(msg.get("totalResponses", 1)),
            response_sequence_id=int(msg.get("responseSequenceId", 0)),
        )
    if rows and "value" not in rows[0] and "ts" in rows[0]:
        # raw unit timestamps -> Event carrying the bare times
        ev = Event(
            source=name,
            times=sorted(int(r["ts"]) for r in rows),
        )
        return TimeSeriesMessage(
            event=ev,
            total_responses=int(msg.get("totalResponses", 1)),
            response_sequence_id=int(msg.get("responseSequenceId", 0)),
        )
    is_min_max = bool(msg.get("isMinMax", False))
    if is_min_max:
        ordered = sorted(rows, key=lambda r: r["bucket"])
        data = [v for r in ordered for v in (r["min_val"], r["max_val"])]
        start_ts = int(
            ordered[0].get("bucket_start", ordered[0]["bucket"]) if ordered else 0
        )
    else:
        ordered = sorted(rows, key=lambda r: r["ts"])
        data = [r["value"] for r in ordered]
        start_ts = int(ordered[0]["ts"]) if ordered else 0
    seg = Segment(
        start_ts=start_ts,
        source=name,
        unit="V",
        is_min_max=is_min_max,
        unit_m=1000,
        segment_type="Continuous",
        nr_points=len(ordered),
        data=data,
        channel_name=name,
    )
    return TimeSeriesMessage(
        segment=seg,
        total_responses=int(msg.get("totalResponses", 1)),
        response_sequence_id=int(msg.get("responseSequenceId", 0)),
    )


def rebase_message(msg: TimeSeriesMessage, package_min_ts: int) -> TimeSeriesMessage:
    """startAtEpoch re-basing on the wire message
    (resetResponseTimestamps, server/TimeSeriesFlow.scala:383-430):
    segment page/start times shift by the package minimum; event
    ``times`` alternate [timestamp, count, ...] so only the even
    positions shift."""
    seg = msg.segment
    if seg is not None:
        seg = Segment(
            **{
                **seg.__dict__,
                "start_ts": seg.start_ts - package_min_ts,
                "page_start": seg.page_start - package_min_ts,
                "page_end": seg.page_end - package_min_ts,
            }
        )
    ev = msg.event
    if ev is not None:
        times = [
            t - package_min_ts if i % 2 == 0 else t
            for i, t in enumerate(ev.times)
        ]
        ev = Event(**{**ev.__dict__, "page_start": ev.page_start - package_min_ts,
                      "page_end": ev.page_end - package_min_ts, "times": times})
    return TimeSeriesMessage(
        segment=seg,
        event=ev,
        instruction=msg.instruction,
        ingest_segment=msg.ingest_segment,
        total_responses=msg.total_responses,
        response_sequence_id=msg.response_sequence_id,
    )
