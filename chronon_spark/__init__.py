"""chronon_spark — a from-scratch PySpark-native feature-engineering engine.

Re-implements the batch GroupBy/Join semantics of the reference system
(bobbetter/chronon, surveyed in SURVEY.md) as idiomatic PySpark:

- declarative conf objects (``chronon_spark.api``) mirroring the reference's
  Thrift data model (GroupBy / Join / Aggregation / Window),
- DataFrame/Catalyst plans for scans, projections, snapshot aggregations,
  and merges,
- an Arrow-vectorized point-in-time ("as-of") join kernel
  (``chronon_spark.kernel``) run through cogrouped ``applyInPandas`` —
  no per-row Python anywhere,
- training-data-pipeline operators (dedup, text stats, link graphs)
  built on the same primitives.

Everything here derives from public knowledge only: the PySpark API and the
reference repo's observable behavior.
"""

__version__ = "0.1.0"

from chronon_spark.api.types import (  # noqa: F401
    Accuracy,
    Aggregation,
    AggregationPart,
    EntitySource,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    TimeUnit,
    Window,
)
