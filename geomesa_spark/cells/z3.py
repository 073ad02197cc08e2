"""Binned time: the time dimension of the Z3 and XZ3 curves.

Semantics match the reference (curve/BinnedTime.scala): timestamps are split
into a short epoch-period bin (days/weeks/months/years since 1970-01-01Z)
plus an offset into the bin (millis/seconds/seconds/minutes respectively).
``zn.Z3SFC`` normalizes the offset to 21 bits and interleaves it with
lon/lat; a query spanning multiple bins plans one z-range set per bin.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
DAY_MS = 86_400_000
WEEK_MS = 7 * DAY_MS


@dataclass(frozen=True)
class BinnedTimeValue:
    bin: int
    offset: int


class BinnedTime:
    """Period binning of epoch-millis timestamps (day/week/month/year)."""

    PERIODS = ("day", "week", "month", "year")

    @staticmethod
    def max_offset(period: str) -> int:
        if period == "day":
            return DAY_MS
        if period == "week":
            return WEEK_MS // 1000
        if period == "month":
            return 86_400 * 31
        if period == "year":
            return 1440 * 366 + 10  # leap day + leap-second fudge, minutes
        raise ValueError(period)

    @staticmethod
    def to_binned_time(millis: int, period: str) -> BinnedTimeValue:
        if millis < 0:
            raise ValueError(f"date before epoch: {millis}")
        if period == "day":
            return BinnedTimeValue(millis // DAY_MS, millis % DAY_MS)
        if period == "week":
            return BinnedTimeValue(millis // WEEK_MS, (millis % WEEK_MS) // 1000)
        secs, ms = divmod(millis, 1000)
        dt = EPOCH + timedelta(seconds=secs, milliseconds=ms)
        if period == "month":
            months = (dt.year - 1970) * 12 + (dt.month - 1)
            bin_start = datetime(1970 + months // 12, months % 12 + 1, 1, tzinfo=timezone.utc)
            return BinnedTimeValue(months, secs - int(bin_start.timestamp()))
        if period == "year":
            years = dt.year - 1970
            bin_start = datetime(1970 + years, 1, 1, tzinfo=timezone.utc)
            return BinnedTimeValue(years, (secs - int(bin_start.timestamp())) // 60)
        raise ValueError(period)

    @staticmethod
    def from_binned_time(bt: BinnedTimeValue, period: str) -> int:
        """Inverse (returns epoch millis)."""
        if period == "day":
            return bt.bin * DAY_MS + bt.offset
        if period == "week":
            return bt.bin * WEEK_MS + bt.offset * 1000
        if period == "month":
            start = datetime(1970 + bt.bin // 12, bt.bin % 12 + 1, 1, tzinfo=timezone.utc)
            return int(start.timestamp()) * 1000 + bt.offset * 1000
        if period == "year":
            start = datetime(1970 + bt.bin, 1, 1, tzinfo=timezone.utc)
            return int(start.timestamp()) * 1000 + bt.offset * 60_000
        raise ValueError(period)
