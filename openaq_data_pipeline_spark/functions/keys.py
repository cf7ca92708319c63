"""Surrogate-key generation (dbt_utils.generate_surrogate_key parity).

The reference keys every staging/mart row with
``dbt_utils.generate_surrogate_key([...])`` (dbt_utils 1.3.0 — MD5 of
the ``'-'``-joined, null-coalesced string casts; call sites:
``stg_openaq__locations.sql:13``, ``stg_openaq__sensors.sql:13-15``,
``stg_openaq__measurements.sql:13-19``, ``mart_location_air_quality
.sql:54``, ``mart_location_weather.sql:53``).

Cross-engine string rendering of the cast inputs is the parity trap
(SURVEY §7.4.1): integers must render without a decimal point and
timestamps in one canonical text format. We therefore cast through
explicit canonical formats *before* hashing and document the contract:

- integral types   → decimal digits, no ``.0`` (Spark ``CAST(x AS
  STRING)`` already does this for LongType)
- DATE             → ``yyyy-MM-dd``
- TIMESTAMP        → ``yyyy-MM-dd HH:mm:ss`` (second precision;
  sub-second keys are not used by the reference surface)
- everything else  → plain string cast
- NULL             → the dbt_utils sentinel ``_dbt_utils_surrogate_key_null_``
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

NULL_SENTINEL = "_dbt_utils_surrogate_key_null_"


def _canonical_str(col: Column, dtype: T.DataType | None = None) -> Column:
    if isinstance(dtype, T.DateType):
        return F.date_format(col, "yyyy-MM-dd")
    if isinstance(dtype, T.TimestampType):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def surrogate_key(*cols: Column | str, dtypes: list[T.DataType] | None = None) -> Column:
    """MD5 surrogate key over the given columns, dbt_utils-compatible.

    ``dtypes`` (optional, parallel to ``cols``) enables canonical
    date/timestamp formatting; when omitted, plain string casts are
    used (correct for string/integral inputs).
    """
    parts = []
    for i, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        dtype = dtypes[i] if dtypes else None
        parts.append(F.coalesce(_canonical_str(col, dtype), F.lit(NULL_SENTINEL)))
    return F.md5(F.concat_ws("-", *parts))
