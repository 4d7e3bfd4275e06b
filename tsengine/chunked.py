"""Bounded-memory names for the per-series sequential recursions.

``temporal.kalman_filter``, ``temporal.holt_linear`` and
``temporal.holt_winters`` run on the carry contract of
``session.sorted_batch_apply``: each Python worker takes its partition one
Arrow batch at a time and carries the recursion state of the series a
batch leaves open into the next batch, so a worker holds one batch
(``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) whatever the
series length, in one Spark job. These names are those operators; they
stay for the callers that ask for the bounded-memory form by name.

``pelt`` / ``sigma_clip`` / ``lttb`` / ``matrix_profile`` have no such
form: they need global series state (a global DP backtrack, a global
argmax peel, global buckets, all windows), so no closed-form carry
exists and they run on the whole-series contract.
"""

from __future__ import annotations

from tsengine.temporal import holt_linear as holt_linear_chunked
from tsengine.temporal import holt_winters as holt_winters_chunked
from tsengine.temporal import kalman_filter as kalman_filter_chunked

__all__ = ["kalman_filter_chunked", "holt_linear_chunked", "holt_winters_chunked"]
