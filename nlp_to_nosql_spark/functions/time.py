"""Timezone-safe epoch arithmetic for timestamp columns of EITHER type.

Spark reads the testdata's parquet TIMESTAMP(MICROS, not UTC-adjusted)
``events.ts`` natively as ``TIMESTAMP_NTZ``; a TIMESTAMP(NANOS) column
reads as a long of nanos under ``spark.sql.legacy.parquet.nanosAsLong``,
which the catalog converts.  ``unix_micros`` requires
``TIMESTAMP`` (with-local-timezone) and raises DATATYPE_MISMATCH on NTZ —
this took down ``sessionize``/``range_join`` in round 2.

``epoch_us`` computes wall-clock microseconds-since-epoch from CALENDAR
FIELDS (datediff + hour/minute/decimal-second), never from instant
conversion.  The earlier ``timestamp_diff``-from-NTZ-literal
implementation was session-zone-sensitive in one corner: an NTZ wall
time that does not EXIST in the session zone (a spring-forward DST gap,
e.g. 2024-03-10 02:30 under America/New_York) got gap-shifted one hour
before differencing.  Field extraction on NTZ has no zone resolution at
all, so the result equals DuckDB's naive ``epoch_us()`` in every session
zone.  (For LTZ inputs the fields are session-local wall fields —
differences of two ``epoch_us`` values are wall-clock durations in that
zone, NOT elapsed time: across a DST transition they are off by the
offset delta and non-monotonic through fall-back.  Callers with LTZ
input that need elapsed time must use ``F.unix_micros``, which raises
DATATYPE_MISMATCH on NTZ — the two types need different arithmetic.  The
engine pins the canonical events type to NTZ in
``sources.catalog._normalize``, so every internal call site is on the
zone-free path.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Literal naive epoch — comparable to both timestamp types.
_EPOCH_NTZ = "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ)"


def epoch_us(col: Column | str) -> Column:
    """Microseconds since the epoch for a TIMESTAMP or TIMESTAMP_NTZ
    column — pure calendar-field arithmetic (zone-free on NTZ; see
    module docstring).  ``date_part('SECOND')`` is DECIMAL(8,6), so the
    microsecond component survives exactly; pre-1970 values work by
    construction (negative day count + positive time-of-day)."""
    c = F.col(col) if isinstance(col, str) else col
    days = F.datediff(F.to_date(c), F.to_date(F.lit("1970-01-01")))
    return (
        days.cast("long") * F.lit(86_400_000_000)
        + F.hour(c).cast("long") * F.lit(3_600_000_000)
        + F.minute(c).cast("long") * F.lit(60_000_000)
        + (F.date_part(F.lit("SECOND"), c) * F.lit(1_000_000)).cast("long")
    )


def micros_to_ntz(us: Column) -> Column:
    """Inverse of :func:`epoch_us`: integer epoch-microseconds → TIMESTAMP_NTZ
    (timezone-independent — no session-zone reinterpretation on the way in)."""
    return F.timestamp_add("MICROSECOND", us, F.expr(_EPOCH_NTZ))
