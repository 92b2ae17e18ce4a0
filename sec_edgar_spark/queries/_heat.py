"""Shared heat-dispatch helper for the event-table query battery.

Every per-key event window in the battery keys on ``events.user_id``,
so one probe per dataset serves all of them: the first query in a
process pays one column-pruned sampled scan (operators/stats.py), the
rest hit the memoized estimate — the moral equivalent of persisted
table statistics.  The returned value plugs straight into the salted
family's ``bucket_s`` parameter (int = salted two-level plan, None =
plain single-window plan; both bit-identical, so correctness gates see
the same rows either way).

Forced-salted demonstrators (`events_sessionize_salted`,
`window_moving_avg_salted`) deliberately do NOT go through this: their
registry role is to keep the salted plan itself under the oracle gate
at every SF.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..catalog import table
from ..operators.stats import pick_bucket


def events_user_bucket(
    spark: SparkSession, sf_dir: str, bucket_s: int = 6 * 3600
) -> int | None:
    """Probe (memoized per dataset STATE, not just path) →
    ``bucket_s`` if events.user_id has a hot key, else ``None``.
    Rewriting events.parquet in place re-probes instead of serving a
    stale decision (ADVICE r12)."""
    return pick_bucket(
        table(spark, sf_dir, "events"),
        "user_id",
        bucket_s=bucket_s,
        path=f"{sf_dir}/events.parquet",
    )
