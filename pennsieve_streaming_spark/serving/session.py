"""Query-session protocol and state (reference §2.10 T1-T8).

The reference serves a WebSocket protocol whose JSON messages are a
try-parse cascade of request types (server/TimeSeriesFlow.scala:546-606,
server/TSJsonSupport.scala:65-247) against per-session state maps
(filters / montage / kill switches, server/TimeSeriesQueryService.scala:62-71).

Spark-natively, a session is driver-side state plus a job-group id:

- **epoch cancellation** (T5): the reference threads an epoch counter
  through every stage and drops stale messages
  (server/TimeSeriesFlow.scala:175-195). Here ``dump_buffer()`` bumps
  the epoch and calls ``cancelJobGroup`` — Spark's native cancellation
  replaces ~150 lines of epoch plumbing; the epoch int remains only to
  tag/filter late results.
- **filter lifecycle** (T10): FilterRequest installs a per-(virtual)
  channel FilterSpec; Clear/Reset remove state. Batch queries filter
  whole windows, so "reset" just drops the spec's carried state flag.
- **montage** (J4): a MontageRequest switches the session's montage
  scheme after validating channel coverage.

The WS/HTTP transport itself is out of engine scope (any asyncio
server can wrap QuerySession); everything here is transport-free and
unit-tested directly.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pennsieve_streaming_spark.operators.rollups import downsample_from_rollup
from pennsieve_streaming_spark.plans.router import QueryPlan, plan_pixel_query
from pennsieve_streaming_spark.dsp.filtering import FilterSpec, apply_filter
from pennsieve_streaming_spark.operators.downsample import downsample_minmax_time
from pennsieve_streaming_spark.operators.montage import (
    CUSTOM_MONTAGE,
    WIRE_MONTAGE_NAMES,
    MontageValidationError,
    montage_name,
    montage_two_channels,
    parse_montage_name,
    resolve_pairs,
    validate_montage,
)
from pennsieve_streaming_spark.operators.window import (
    QueryLimitExceeded,
    window_query,
)


# --------------------------------------------------------------------------
# request types (reference TSJsonSupport.scala:65-247)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class TimeSeriesRequest:
    session: str
    virtual_channels: list[str]       # channel names or "lead<->secondary"
    start_time: int
    end_time: int
    pixel_width: int                  # µs per pixel; 0 => raw
    query_limit: int | None = None
    start_at_epoch: bool = False


@dataclass(frozen=True)
class MontageRequest:
    """Switch the session montage (TSJsonSupport.scala:235-239).

    ``montage`` is a scheme name (engine snake-case or reference wire
    name, e.g. ``CUSTOM_MONTAGE``) or None to clear; ``montage_map``
    carries caller-supplied (lead, secondary) pairs for the custom
    scheme (CustomMontage.updatePairs, server/Montage.scala:233-245)."""

    session: str
    montage: str | None               # scheme name or None to clear
    montage_map: tuple[tuple[str, str], ...] | None = None


@dataclass(frozen=True)
class FilterRequest:
    session: str
    filter: str                       # lowpass|highpass|bandpass|bandstop
    filter_parameters: list[float]    # [order, freq, width?]
    channels: list[str]


@dataclass(frozen=True)
class ClearFilterRequest:
    session: str
    channels: list[str] | None = None  # None => all


@dataclass(frozen=True)
class ResetFilterRequest:
    session: str


@dataclass(frozen=True)
class DumpBufferRequest:
    session: str


@dataclass(frozen=True)
class KeepAlive:
    session: str


REQUEST_TYPES = [
    ("virtualChannels", TimeSeriesRequest),
    ("montage", MontageRequest),
    ("filter", FilterRequest),
    ("clearFilter", ClearFilterRequest),
    ("resetFilter", ResetFilterRequest),
    ("dumpBuffer", DumpBufferRequest),
    ("keepAlive", KeepAlive),
]


def _query_limit(value: Any) -> int | None:
    """An explicit queryLimit is a JSON integer >= 0 (not a bool):
    anything else would reach the router unchecked."""
    if value is None:
        return None
    if isinstance(value, bool) or not isinstance(value, int) or value < 0:
        raise ValueError(f"queryLimit must be an integer >= 0, got {value!r}")
    return value


def parse_request(raw: str) -> Any:
    """Try-parse cascade over the request vocabulary (the reference
    attempts each JSON shape in order — parseFlow,
    server/TimeSeriesFlow.scala:546-606)."""
    msg = json.loads(raw)
    if "virtualChannels" in msg:
        return TimeSeriesRequest(
            session=msg.get("session", ""),
            virtual_channels=[c["name"] if isinstance(c, dict) else c
                              for c in msg["virtualChannels"]],
            start_time=int(msg["startTime"]),
            end_time=int(msg["endTime"]),
            pixel_width=int(msg.get("pixelWidth", 0)),
            query_limit=_query_limit(msg.get("queryLimit")),
            start_at_epoch=bool(msg.get("startAtEpoch", False)),
        )
    if "montage" in msg:
        name = msg["montage"]
        if name in WIRE_MONTAGE_NAMES:  # reference wire names pass through
            name = WIRE_MONTAGE_NAMES[name]
        mmap = msg.get("montageMap")
        pairs = (
            tuple((str(l), str(s)) for l, s in mmap) if mmap is not None else None
        )
        return MontageRequest(msg.get("session", ""), name, pairs)
    if "filter" in msg:
        return FilterRequest(
            msg.get("session", ""),
            msg["filter"],
            [float(x) for x in msg.get("filterParameters", [])],
            list(msg.get("channels", [])),
        )
    if msg.get("clearFilter"):
        return ClearFilterRequest(msg.get("session", ""), msg.get("channels"))
    if msg.get("resetFilter"):
        return ResetFilterRequest(msg.get("session", ""))
    if msg.get("dumpBuffer"):
        return DumpBufferRequest(msg.get("session", ""))
    if msg.get("keepAlive") or msg == {}:
        return KeepAlive(msg.get("session", ""))
    raise ValueError(f"unparseable request: {raw[:200]}")


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------

@dataclass
class _SessionState:
    montage: str | None = None
    # caller-supplied pairs when montage == CUSTOM_MONTAGE
    # (CustomMontage._pairs, server/Montage.scala:236-245)
    custom_pairs: list[tuple[str, str]] = field(default_factory=list)
    filters: dict[str, FilterSpec] = field(default_factory=dict)
    epoch: int = 0


class Pages(dict):
    """``QuerySession.run``'s answer: virtual channel -> page DataFrame,
    with each channel's QueryPlan in ``plans`` so delivery knows the
    page kind (raw or min/max) without looking at the rows."""

    def __init__(self, plans: dict[str, QueryPlan]):
        super().__init__()
        self.plans = plans


class QuerySession:
    """One client session over the engine (reference: the per-session
    Akka flow graph + state maps).

    ``samples`` is the session's samples DataFrame; ``rates`` maps
    channel name -> Hz (from the channels catalog).
    """

    def __init__(
        self,
        spark: SparkSession,
        samples: DataFrame,
        rates: dict[str, float],
        session_id: str,
        package_min_ts: int = 0,
        rollups: dict[int, DataFrame] | None = None,
    ):
        self.spark = spark
        self.samples = samples
        self.rates = rates
        self.session_id = session_id
        self.package_min_ts = package_min_ts
        # optional continuous-aggregate ladder: level_us -> rollup DF
        # (plain, un-montaged channels only)
        self.rollups = rollups or {}
        self.state = _SessionState()

    # -- T5: epoch-based cancellation ------------------------------------
    @property
    def job_group(self) -> str:
        return f"{self.session_id}:{self.state.epoch}"

    def dump_buffer(self) -> int:
        """Abort in-flight work for this session: bump the epoch and
        cancel the old job group (replaces the reference's epoch
        message-stamping machinery, server/TimeSeriesFlow.scala:560-569)."""
        old = self.job_group
        self.state.epoch += 1
        self.spark.sparkContext.cancelJobGroup(old)
        return self.state.epoch

    def close(self) -> None:
        """T7/T8 kill switch: cancel everything for the session."""
        self.spark.sparkContext.cancelJobGroup(self.job_group)

    # -- T10: filter lifecycle -------------------------------------------
    def set_filter(self, req: FilterRequest) -> None:
        order = int(req.filter_parameters[0])
        freq = float(req.filter_parameters[1])
        width = (
            float(req.filter_parameters[2])
            if len(req.filter_parameters) > 2
            else None
        )
        spec = FilterSpec(req.filter, order, freq, width)
        for ch in req.channels:
            self.state.filters[ch] = spec

    def clear_filter(self, req: ClearFilterRequest) -> None:
        if req.channels is None:
            self.state.filters.clear()
        else:
            for ch in req.channels:
                self.state.filters.pop(ch, None)

    # -- J4: montage lifecycle -------------------------------------------
    def set_montage(self, req: MontageRequest) -> list[dict[str, str]]:
        """Switch the session montage; returns the virtual-channel
        details list the reference replies with (ChannelsDetailsList,
        WebServerSpec.scala:474-505). Custom montage takes the pairs
        from the request's ``montageMap``
        (CustomMontage.updatePairs, server/Montage.scala:233-245)."""
        pairs: list[tuple[str, str]] = []
        if req.montage == CUSTOM_MONTAGE:
            if req.montage_map is None:
                raise MontageValidationError(
                    "custom montage requires a montageMap of [lead, secondary] pairs"
                )
            pairs = [tuple(p) for p in req.montage_map]
            validate_montage(list(self.rates.keys()), CUSTOM_MONTAGE, pairs)
        elif req.montage is not None:
            validate_montage(list(self.rates.keys()), req.montage)
            pairs = resolve_pairs(req.montage)
        self.state.montage = req.montage
        self.state.custom_pairs = pairs if req.montage == CUSTOM_MONTAGE else []
        return [
            {"id": f"{lead}_id", "name": montage_name(lead, sec)}
            for lead, sec in pairs
        ]

    # -- T1/T2: data request execution -----------------------------------
    def _channel_frame(self, name: str) -> DataFrame:
        lead, secondary = parse_montage_name(name)
        if secondary is not None:
            return montage_two_channels(self.samples, lead, secondary)
        return self.samples.filter(self.samples["channel"] == lead)

    def run(self, req: TimeSeriesRequest) -> Pages:
        """Execute a data request. Every virtual channel is planned
        first (plans/router.py: raw, direct or rollup, plus the row
        limit), so an over-limit channel raises QueryLimitExceeded
        before any DataFrame is built or job runs. Each page is then
        built from its plan: raw slice, or min/max downsample from the
        samples or a rollup, with any session filter applied to the
        samples first. Queries run under the session's job group so
        dump_buffer() can cancel them mid-flight."""
        if self.state.montage is not None:
            # montaged names must belong to the active scheme's virtual
            # channel set (MontageType.names, server/Montage.scala:220-222)
            allowed = {
                montage_name(l, s)
                for l, s in resolve_pairs(self.state.montage, self.state.custom_pairs)
            }
            for name in req.virtual_channels:
                _, sec = parse_montage_name(name)
                if sec is not None and name not in allowed:
                    raise ValueError(f"{name} not part of montage {self.state.montage}")

        start, end = req.start_time, req.end_time
        if req.start_at_epoch:
            start += self.package_min_ts
            end += self.package_min_ts

        plans: dict[str, QueryPlan] = {}
        for name in req.virtual_channels:
            lead, secondary = parse_montage_name(name)
            try:
                plans[name] = plan_pixel_query(
                    start,
                    end,
                    req.pixel_width,
                    self.rates.get(lead, 1.0),
                    rollup_levels_us=sorted(self.rollups),
                    query_limit=req.query_limit,
                    transformed=secondary is not None or name in self.state.filters,
                )
            except QueryLimitExceeded as exc:
                exc.channel_names = [name]
                raise

        self.spark.sparkContext.setJobGroup(
            self.job_group, f"session {self.session_id}", interruptOnCancel=True
        )
        out = Pages(plans)
        for name, plan in plans.items():
            lead, _ = parse_montage_name(name)
            if plan.path == "rollup":
                rollup = self.rollups[plan.rollup_level_us].filter(
                    F.col("channel") == lead
                )
                out[name] = downsample_from_rollup(
                    rollup, plan.rollup_level_us, start, end, req.pixel_width
                )
                continue
            page = window_query(
                self._channel_frame(name), None, start, end, limit=req.query_limit
            )
            spec = self.state.filters.get(name)
            if spec is not None:
                page = apply_filter(page, spec, self.rates.get(lead, 1.0))
            if plan.path == "direct":
                page = downsample_minmax_time(page, start, end, req.pixel_width)
            out[name] = page
        return out

    # -- unit (event/spike) path -----------------------------------------
    def run_unit(
        self,
        req: TimeSeriesRequest,
        events: DataFrame,
        waveforms: DataFrame | None = None,
        spike_duration_us: int | None = None,
    ) -> dict[str, DataFrame]:
        """Unit-channel request (reference
        query/TimeSeriesUnitQueryRawHttp.scala): per channel either the
        per-pixel event summary, or — when zoomed in past the
        spike-send threshold and waveforms are available — the
        min/max-resampled spike waveforms. The summary uses aligned
        tumbling buckets (``event_summary_fixed``)."""
        from pennsieve_streaming_spark.operators.events import event_summary_fixed
        from pennsieve_streaming_spark.operators.spikes import (
            resample_arrays_minmax,
            should_send_spikes,
        )

        start, end = req.start_time, req.end_time
        out: dict[str, DataFrame] = {}
        for name in req.virtual_channels:
            ch_events = events.filter(events["channel"] == name)
            send_spikes = (
                waveforms is not None
                and spike_duration_us is not None
                and req.pixel_width > 0
                and should_send_spikes(req.pixel_width, spike_duration_us)
            )
            if send_spikes:
                n_points = max(1, spike_duration_us // req.pixel_width)
                ch_wf = waveforms.filter(
                    (waveforms["channel"] == name)
                    & (waveforms["spike_ts"] >= start)
                    & (waveforms["spike_ts"] <= end)
                )
                out[name] = resample_arrays_minmax(ch_wf, n_points)
            elif req.pixel_width > 0:
                out[name] = event_summary_fixed(
                    ch_events, start, end, req.pixel_width
                )
            else:
                # raw event timestamps (reference /ts/retrieve/unit)
                out[name] = ch_events.filter(
                    (ch_events["ts"] >= start) & (ch_events["ts"] <= end)
                ).select("channel", "ts")
        return out

    def handle(self, raw: str):
        """Dispatch a raw protocol message (T1)."""
        req = parse_request(raw)
        if isinstance(req, TimeSeriesRequest):
            return self.run(req)
        if isinstance(req, MontageRequest):
            return self.set_montage(req)
        elif isinstance(req, FilterRequest):
            self.set_filter(req)
        elif isinstance(req, ClearFilterRequest):
            self.clear_filter(req)
        elif isinstance(req, ResetFilterRequest):
            pass  # batch filters carry no cross-request state
        elif isinstance(req, DumpBufferRequest):
            return self.dump_buffer()
        return None
