"""Scalar value coercions.

py_to_float: exact twin of helpers.py:92-115 to_float — float() with a
base-10 exponent beyond ±307 rescaled to ±307 (ArangoDB 64-bit safety)
and ±inf mapped to 1e307 / 1e-307 (reference maps -inf to *positive*
1e-307; quirk preserved).
"""

from __future__ import annotations

from math import floor, isinf, log10

from pyspark.sql import Column
from pyspark.sql import functions as F


def py_to_float(s) -> float:
    MAX_EXPONENT = 307
    number = float(s)
    if number == 0:
        return number
    if isinf(number) and number > 0:
        return float("1e307")
    if isinf(number) and number < 0:
        return float("1e-307")
    base10 = log10(abs(number))
    exponent = floor(base10)
    if abs(exponent) > MAX_EXPONENT:
        if exponent < 0:
            number = number * float(f"1e{abs(exponent) - MAX_EXPONENT}")
        else:
            number = number / float(f"1e{abs(exponent) - MAX_EXPONENT}")
    return number


def to_float_col(col: Column) -> Column:
    """Column twin of py_to_float: cast to double, map ±inf like the
    reference, and rescale a value whose base-10 exponent is beyond
    ±307 by that many powers of ten. Stays JVM-side; only values beyond
    double's practical data range take the rescale branches."""
    d = col.cast("double")
    exponent = F.floor(F.log10(F.abs(d)))  # null for 0: left as is
    # reference maps +inf -> 1e307 and -inf -> 1e-307 (helpers.py:100-104)
    return (
        F.when(d == F.lit(float("inf")), F.lit(1e307))
        .when(d == F.lit(float("-inf")), F.lit(1e-307))
        .when(exponent > 307, d / F.pow(F.lit(10.0), exponent - 307))
        .when(exponent < -307, d * F.pow(F.lit(10.0), -exponent - 307))
        .otherwise(d)
    )
