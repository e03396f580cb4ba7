from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame


def collect_bounded(df: DataFrame, cap: int) -> pa.Table | None:
    """``df`` as one Arrow table when it has at most ``cap`` rows, else
    None. The hybrid operators' local-path probe: one ``limit(cap + 1)``
    collected through Arrow, so the driver holds at most cap + 1 rows in
    columnar form, never a PySpark Row per row, and over the cap the caller
    runs its distributed plan."""
    table = df.limit(cap + 1).toArrow()
    return table if table.num_rows <= cap else None
