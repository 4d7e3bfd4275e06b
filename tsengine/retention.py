"""Retention-tier enforcement — the policy half of the 1m→1h→1d cascade.

The reference keeps everything forever (closed yearly CSV files); a
retention engine instead ages data out per tier: raw/1m data expires
first, coarser tiers live longer (the classic downsample-retention
trade). With the bucket+day layout from tables.py (≙ Iceberg
``days(ts)`` partitioning), expiry is a PARTITION-METADATA operation —
whole ``pday=...`` directories are dropped, no data file is ever
rewritten — exactly what an Iceberg ``DELETE WHERE ts < cutoff`` on a
day-partitioned table compiles to (partition-level deletes).

Readers get the same guarantee declaratively: ``filter_retained`` is a
partition-pruned filter, so a query over an already-physically-expired
range reads zero files either way.
"""

from __future__ import annotations

import shutil
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tier → how long it is kept (None = forever). The coarser the tier, the
# longer the horizon; values are engine defaults, override per table.
DEFAULT_POLICY: dict[str, timedelta | None] = {
    "1m": timedelta(days=30),
    "1h": timedelta(days=365),
    "1d": None,
}


def filter_retained(df: DataFrame, cutoff, ts_col: str = "bucket_ts") -> DataFrame:
    """Reader-side retention: rows from the cutoff DAY onward. Retention
    granularity is one day in both branches — ``apply_retention`` drops
    whole day partitions, so a mid-day cutoff keeps the entire cutoff day
    whether or not the table carries the ``pday`` partition column (the
    ts branch floors the cutoff to day start to match)."""
    if "pday" in df.columns:
        return df.where(F.col("pday") >= F.lit(cutoff).cast("date"))
    day_start = F.lit(cutoff).cast("date").cast("timestamp")
    return df.where(F.col(ts_col) >= day_start)


def expired_day_dirs(root: str, cutoff) -> list[Path]:
    """List pday=<date> partition directories wholly before the cutoff.
    Scans directory NAMES only — no data file is opened."""
    cutoff_d = cutoff.date() if isinstance(cutoff, datetime) else cutoff
    out = []
    for p in sorted(Path(root).glob("**/pday=*")):
        if not p.is_dir():
            continue
        try:
            day = datetime.strptime(p.name.split("=", 1)[1], "%Y-%m-%d").date()
        except ValueError:
            continue
        if day < cutoff_d:
            out.append(p)
    return out


def apply_retention(root: str, cutoff, dry_run: bool = False) -> dict:
    """Drop expired day partitions under ``root``. Returns
    {dropped: [...], n_dropped: int}. ``dry_run`` only reports.

    Raises ValueError on a root that holds parquet files but no ``pday=``
    directory (e.g. ``run_pipeline``'s ``unit=k/`` tables): expiry drops
    whole day partitions, so such a table would silently keep every row."""
    dirs = expired_day_dirs(root, cutoff)
    if not dirs and not any(Path(root).glob("**/pday=*")) and any(
        Path(root).glob("**/*.parquet")
    ):
        raise ValueError(
            f"{root} holds parquet files but no pday= partition directory; "
            "retention needs the day-partitioned layout of tables.write_fact"
        )
    if not dry_run:
        for d in dirs:
            shutil.rmtree(d)
    return {"dropped": [str(d) for d in dirs], "n_dropped": len(dirs)}


def apply_policy(
    tier_roots: dict[str, str],
    now: datetime,
    policy: dict[str, timedelta | None] | None = None,
    dry_run: bool = False,
) -> dict[str, dict]:
    """Enforce a per-tier retention policy across tier table roots:
    cutoff(tier) = now − horizon; tiers with horizon None are untouched."""
    policy = policy or DEFAULT_POLICY
    report = {}
    for tier, root in tier_roots.items():
        horizon = policy.get(tier)
        if horizon is None:
            report[tier] = {"dropped": [], "n_dropped": 0, "kept": "forever"}
            continue
        report[tier] = apply_retention(root, now - horizon, dry_run=dry_run)
    return report
