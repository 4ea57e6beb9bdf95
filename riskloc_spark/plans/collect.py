"""The driver-or-distributed choice of the RCA operators.

An operator whose search can run on the driver probes its leaf frame with
``limit(k+1).toPandas()`` (k = ``driver_rows``): at <= k rows the probe is
the collect itself, above k the frame stays on Spark. ``driver_leaves``
holds that probe and the DEBUG lines that say which path ran and why.
"""
from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def driver_leaves(
    df: DataFrame,
    attributes: list[str],
    measures: tuple[str, ...],
    driver_rows: int | None,
    log: logging.Logger,
    name: str,
) -> pd.DataFrame | None:
    """The leaf frame as pandas when it has at most ``driver_rows`` rows,
    else None (``driver_rows=None`` skips the probe). Attributes come back
    as strings with a null as "None", measures as doubles."""
    if driver_rows is not None:
        pdf = df.select(
            *[F.coalesce(F.col(a).cast("string"), F.lit("None")).alias(a) for a in attributes],
            *[F.col(m).cast("double").alias(m) for m in measures],
        ).limit(driver_rows + 1).toPandas()
        if len(pdf) <= driver_rows:
            log.debug("%s: driver path, %d leaves <= driver_rows=%d", name, len(pdf), driver_rows)
            return pdf
    log.debug("%s: distributed path, %s", name, "forced by driver_rows=None"
              if driver_rows is None else f"more than driver_rows={driver_rows} leaves")
    return None
