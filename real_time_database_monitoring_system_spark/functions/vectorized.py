"""Arrow-vectorized pandas UDFs (SURVEY §2.9).

The reference's only "UDF" surface is Python row post-processing
(views.py:618-638) and one PL/pgSQL routine; the engine's rule is that
Python in the hot path must be Arrow-batched and vectorized (numpy on
whole columns), never row-at-a-time. These are the sanctioned examples;
everything else in the engine stays in JVM expressions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


# DataType instances (not DDL strings): DDL parsing would require an
# active SparkSession at import time
@pandas_udf(T.ArrayType(T.DoubleType()))
def normalize_embedding(vecs: pd.Series) -> pd.Series:
    """L2-normalize embedding vectors, one Arrow batch at a time."""
    out = []
    for v in vecs:
        a = np.asarray(v, dtype=np.float64)
        n = np.linalg.norm(a)
        out.append((a / n if n > 0 else a).tolist())
    return pd.Series(out)


def normalized(col: Column | str) -> Column:
    return normalize_embedding(F.col(col) if isinstance(col, str) else col)
