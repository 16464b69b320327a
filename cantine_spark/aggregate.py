"""Range-bucket aggregation results — the cantine_derive Aggregable analog —
and the full-index /info view.

The reference generates, per numeric feature, an aggregator that takes a list
of half-open ranges and produces {min, max, count} of the feature values of
matching docs per range (cantine_derive/src/lib.rs:26-73; per-segment collect
+ merge at lib.rs:75-160). Here the segment kernel collects per-shard
partials over the fast-field sidecar and the driver merges them
(execution/wand.py); this module holds the result type.

Semantics pinned by the reference:
- ranges are half-open [start, end) (RangeQuery semantics,
  cantine_derive/internal/src/lib.rs:150-188);
- null features never collect (optional ⇒ absent from the doc,
  internal/src/lib.rs:217-224);
- empty buckets come back "inverted-seeded": min=end, max=start, count=0
  (RangeStats::from(&Range) seeds min with range.end and max with
  range.start, cantine_derive/src/lib.rs:62-73 — the README documents the
  agg-bucket/filter-count equality invariant this supports).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RangeStats:
    min: float | int
    max: float | int
    count: int


def full_range_info(docmeta: DataFrame, features: list[str]) -> dict[str, dict]:
    """The /info endpoint analog (cantine/src/main.rs:174-189): min/max/count
    per feature over the whole index, one pass."""
    exprs = []
    for f_ in features:
        exprs += [F.min(f_).alias(f"{f_}__min"), F.max(f_).alias(f"{f_}__max"),
                  F.count(f_).alias(f"{f_}__count")]
    row = docmeta.agg(*exprs).collect()[0]
    return {f_: {"min": row[f"{f_}__min"], "max": row[f"{f_}__max"],
                 "count": int(row[f"{f_}__count"])} for f_ in features}
