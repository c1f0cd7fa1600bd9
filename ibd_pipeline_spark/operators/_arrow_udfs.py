"""Type-hinted pandas UDF definitions (Spark 4 style).

This module deliberately does NOT use ``from __future__ import
annotations``: pandas-UDF type inference reads the evaluated hints, and
the future import stringifies them. Callers elsewhere in the package
(which do use the future import) import the ready-made UDFs from here —
this replaces every deprecated ``PandasUDFType`` call site (the string
form is slated for removal after Spark 4; see SPARK-28264).
"""

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("double")
def geo_mean_udf(q: pd.Series, p: pd.Series, t: pd.Series) -> pd.Series:
    """Scalar pandas UDF: per-row geometric mean of three measures."""
    return pd.Series(
        np.exp(
            (np.log(q.to_numpy()) + np.log(p.to_numpy()) + np.log1p(t.to_numpy())) / 3.0
        )
    )


@pandas_udf("double")
def weighted_avg_udf(q: pd.Series, p: pd.Series) -> float:
    """Grouped-aggregate pandas UDF (UDAF): quantity-weighted mean."""
    qn = q.to_numpy()
    return float((qn * p.to_numpy()).sum() / qn.sum())
