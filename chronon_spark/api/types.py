"""Declarative conf model: GroupBy / Join / Aggregation / Window.

Mirrors the *semantics* of the reference's Thrift data model
(reference: thrift/api.thrift:195-446) without any of its serialization
machinery — plain Python dataclasses that the Spark planner modules consume.

Naming convention for output columns follows the reference
(api/src/main/scala/ai/chronon/api/Extensions.scala:267-268):
``{input_column}_{operation}[_{window}][_by_{bucket}]`` e.g.
``value_sum_7d``, ``price_last_k_30d_by_category``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from enum import Enum
from typing import Optional

MILLIS = {"MINUTES": 60_000, "HOURS": 3_600_000, "DAYS": 86_400_000}


class TimeUnit(str, Enum):
    MINUTES = "MINUTES"
    HOURS = "HOURS"
    DAYS = "DAYS"


@dataclass(frozen=True)
class Window:
    """A time window length (reference: thrift/common.thrift:11-14)."""

    length: int
    time_unit: TimeUnit = TimeUnit.DAYS

    @property
    def millis(self) -> int:
        return self.length * MILLIS[self.time_unit.value]

    @property
    def suffix(self) -> str:
        return f"{self.length}{self.time_unit.value[0].lower()}"  # 7d / 2h / 30m

    @staticmethod
    def days(n: int) -> "Window":
        return Window(n, TimeUnit.DAYS)

    @staticmethod
    def hours(n: int) -> "Window":
        return Window(n, TimeUnit.HOURS)

    @staticmethod
    def minutes(n: int) -> "Window":
        return Window(n, TimeUnit.MINUTES)


def tail_hop_millis(window: Window) -> int:
    """Sawtooth tail-hop resolution auto-picked from window size.

    Reference: aggregator/.../windowing/Resolution.scala:38-48 —
    window >= 12 days -> 1-day hop; >= 12 hours -> 1-hour hop; else 5 min.
    """
    w = window.millis
    if w >= 12 * MILLIS["DAYS"]:
        return MILLIS["DAYS"]
    if w >= 12 * MILLIS["HOURS"]:
        return MILLIS["HOURS"]
    return 5 * MILLIS["MINUTES"]


class Operation(str, Enum):
    """The 21 aggregation operations (reference: thrift/api.thrift:195-227).

    Split into deletable abelian groups (support mutation reversal) and
    non-deletable monoids, as in the reference
    (aggregator/.../row/ColumnAggregator.scala:190-409).
    """

    COUNT = "count"
    SUM = "sum"
    AVERAGE = "average"
    VARIANCE = "variance"
    SKEW = "skew"
    KURTOSIS = "kurtosis"
    MIN = "min"
    MAX = "max"
    UNIQUE_COUNT = "unique_count"
    APPROX_UNIQUE_COUNT = "approx_unique_count"
    APPROX_PERCENTILE = "approx_percentile"
    FIRST = "first"
    LAST = "last"
    FIRST_K = "first_k"
    LAST_K = "last_k"
    TOP_K = "top_k"
    BOTTOM_K = "bottom_k"
    HISTOGRAM = "histogram"
    APPROX_FREQUENT_K = "approx_frequent_k"
    APPROX_HEAVY_HITTERS_K = "approx_heavy_hitters_k"
    UNIQUE_TOP_K = "unique_top_k"


# Deletable ops form abelian groups (inverse exists) — reference
# thrift/api.thrift:195-227 comment block.
DELETABLE_OPS = {Operation.COUNT, Operation.SUM, Operation.AVERAGE, Operation.HISTOGRAM}


class Accuracy(str, Enum):
    """TEMPORAL = point-in-time exact at each query ts; SNAPSHOT = as of the
    previous day's midnight (reference: thrift/api.thrift:272-275)."""

    TEMPORAL = "TEMPORAL"
    SNAPSHOT = "SNAPSHOT"


@dataclass(frozen=True)
class Aggregation:
    """One user-facing aggregation: input x op x windows x buckets
    (reference: thrift/api.thrift:235-261). ``windows=None`` means a single
    unbounded (lifetime) window, per Extensions.scala:275-297."""

    input_column: str
    operation: Operation
    arg_map: dict = field(default_factory=dict, hash=False, compare=False)
    windows: Optional[tuple] = None  # tuple[Window] | None
    buckets: Optional[tuple] = None  # tuple[str] | None

    def unpack(self) -> list["AggregationPart"]:
        windows = list(self.windows) if self.windows else [None]
        buckets = list(self.buckets) if self.buckets else [None]
        return [
            AggregationPart(self.input_column, self.operation, dict(self.arg_map), w, b)
            for w in windows
            for b in buckets
        ]


@dataclass(frozen=True)
class AggregationPart:
    """A fully-unpacked (op, input, window, bucket) unit
    (reference: thrift/api.thrift:264-270)."""

    input_column: str
    operation: Operation
    arg_map: dict = field(default_factory=dict, hash=False, compare=False)
    window: Optional[Window] = None
    bucket: Optional[str] = None

    @property
    def output_column(self) -> str:
        name = f"{self.input_column}_{self.operation.value}"
        if self.operation in (
            Operation.FIRST_K,
            Operation.LAST_K,
            Operation.TOP_K,
            Operation.BOTTOM_K,
        ) and self.arg_map.get("k"):
            name = f"{self.input_column}_{self.operation.value.rsplit('_', 1)[0]}{self.arg_map['k']}"
        if self.window is not None:
            name += f"_{self.window.suffix}"
        if self.bucket:
            name += f"_by_{self.bucket}"
        return name

    @property
    def k(self) -> int:
        return int(self.arg_map.get("k", 1))

    @property
    def percentiles(self) -> list:
        return list(self.arg_map.get("percentiles", [0.5]))


@dataclass(frozen=True)
class Query:
    """Row-level scan spec (reference: thrift/api.thrift:10-58).

    ``selects`` maps output alias -> Spark SQL scalar expression; ``wheres``
    are ANDed boolean expressions; ``time_column`` is an expression producing
    epoch **milliseconds** (LONG) exposed as ``ts``.
    """

    selects: Optional[dict] = None  # alias -> Spark SQL expr
    wheres: tuple = ()
    start_partition: Optional[str] = None
    end_partition: Optional[str] = None
    time_column: Optional[str] = None
    setups: tuple = ()  # SQL statements (e.g. CREATE TEMPORARY FUNCTION)
    partition_column: str = "ds"
    # non-default partition date format (reference partitionFormat override,
    # thrift/api.thrift Query; e.g. "M/d/yy") — range predicates convert
    partition_format: str = "yyyy-MM-dd"


@dataclass(frozen=True)
class EventSource:
    """Immutable timestamped event log (reference: thrift/api.thrift:109-129)."""

    table: str  # table name or parquet path
    query: Query = Query()
    is_cumulative: bool = False
    topic: Optional[str] = None


@dataclass(frozen=True)
class EntitySource:
    """Slowly-mutating dimension with daily snapshots
    (reference: thrift/api.thrift:139-159). Mutation replay is out of scope
    for the batch engine round 1; snapshots join at SNAPSHOT accuracy."""

    snapshot_table: str
    query: Query = Query()
    mutation_table: Optional[str] = None


Source = object  # EventSource | EntitySource | JoinSource | ModelTransforms


@dataclass(frozen=True)
class GroupBy:
    """Keyed windowed-aggregation pipeline (reference: thrift/api.thrift:361-377)."""

    sources: tuple  # tuple[EventSource | EntitySource]
    key_columns: tuple
    # None = no-agg passthrough (reference: GroupBy with null aggregations,
    # api.thrift:368 + join/NoAggTest.scala) — the snapshot row itself is
    # the feature vector; only SNAPSHOT-accuracy entity parts support it
    aggregations: Optional[tuple]  # tuple[Aggregation] | None
    accuracy: Accuracy = Accuracy.TEMPORAL
    name: str = "group_by"
    derivations: Optional[dict] = None  # alias -> Spark SQL expr over outputs

    def unpack(self) -> list[AggregationPart]:
        return [p for a in (self.aggregations or ()) for p in a.unpack()]

    @property
    def max_window_millis(self) -> Optional[int]:
        """None if any part is unbounded (must scan all history)."""
        ws = [p.window for p in self.unpack()]
        if any(w is None for w in ws):
            return None
        return max(w.millis for w in ws)


@dataclass(frozen=True)
class JoinPart:
    """One GroupBy attached to a Join (reference: thrift/api.thrift:379-385)."""

    group_by: GroupBy
    key_mapping: Optional[dict] = None  # left col -> right key col
    prefix: Optional[str] = None

    def full_prefix(self) -> str:
        base = self.group_by.name
        return f"{self.prefix}_{base}" if self.prefix else base


CONTEXTUAL_SOURCE_NAME = "contextual"  # reference Constants.scala:54


@dataclass(frozen=True)
class ExternalSource:
    """A feature source served by an external service, not a GroupBy
    (reference: thrift/api.thrift:161-165 — metadata + key/value schemas).

    ``value_types``: optional {value column -> Spark SQL type string}
    declaring the served schema (the thrift valueSchema analogue) so
    ``join_codec`` can type the response without a live frame. The
    CONTEXTUAL source (``name == "contextual"``) echoes request columns
    back as features (Extensions.scala:776 isContextualSource)."""

    name: str
    key_columns: tuple = ()  # external-side key column names
    value_columns: tuple = ()  # served value column names
    value_types: Optional[dict] = None

    @property
    def is_contextual(self) -> bool:
        return self.name == CONTEXTUAL_SOURCE_NAME


@dataclass(frozen=True)
class ExternalPart:
    """An ExternalSource attached to a Join for serving-time fan-out
    (reference: thrift/api.thrift:387-392; offline the reference produces
    no values — plans/fetcher.py's offline stand-in serves them from a
    user-supplied replay frame instead)."""

    source: ExternalSource
    key_mapping: Optional[dict] = None  # left col -> external key col
    prefix: Optional[str] = None

    @property
    def full_name(self) -> str:
        # Extensions.scala:795-798: ext[_prefix]_<name>
        base = f"ext_{self.prefix}_" if self.prefix else "ext_"
        return base + self.source.name


@dataclass(frozen=True)
class Join:
    """Point-in-time join of a left query source against many GroupBys
    (reference: thrift/api.thrift:404-437)."""

    left: EventSource
    join_parts: tuple  # tuple[JoinPart]
    name: str = "join"
    skew_keys: Optional[dict] = None  # key col -> list of hot values to exclude
    derivations: Optional[dict] = None
    row_ids: Optional[tuple] = None
    # serving-time external-service parts (thrift/api.thrift:415
    # onlineExternalParts); offline they serve from replay frames
    online_external_parts: tuple = ()


@dataclass(frozen=True)
class JoinSource:
    """Output of one Join used as the source of a downstream GroupBy —
    batch chaining (reference: thrift/api.thrift:183-186; the parent join
    is materialized then substituted, GroupBy.scala:412-477).

    ``table``: optional pre-materialized parent output (a prior backfill);
    when absent the parent join computes inline for the needed range.
    ``query`` re-projects the parent's output columns (selects/wheres);
    the parent's ``ts`` carries through unless query.time_column overrides.
    """

    join: Join
    query: Query = Query()
    table: Optional[str] = None


_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def validate_identifier(name: str) -> str:
    if not _IDENT.match(name):
        raise ValueError(f"invalid column identifier: {name!r}")
    return name
