"""Spark expressions over a few driver-side rows, evaluated without a job."""

import json

from pyspark.sql import DataFrame, SparkSession


def literal_rows(spark: SparkSession, cols: list[str], rows: list[tuple]) -> DataFrame:
    """``rows`` (strings or ``None``) as a one-row local relation whose
    ``_rows`` column is ``array<struct<cols STRING>>``, bound as ONE JSON
    parameter (never spliced into SQL; binding stays flat in the row
    count). The optimizer folds a projection over it, e.g.
    ``F.transform("_rows", fn)``, so it collects with no Spark job
    (ConvertToLocalRelation); ``F.inline("_rows")`` gives the rows."""
    schema = ", ".join("`" + c.replace("`", "``") + "` STRING" for c in cols)
    return spark.sql(
        "SELECT * FROM VALUES (from_json(:rows, :schema)) AS t(_rows)",
        args={"rows": json.dumps([dict(zip(cols, r)) for r in rows]),
              "schema": f"array<struct<{schema}>>"},
    )
