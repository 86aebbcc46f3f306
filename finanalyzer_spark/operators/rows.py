"""One seam for per-row Python kernels over Arrow batches.

A row function takes one input row's values, in the frame's column
order, and yields output tuples in the order of `schema`'s columns.
Yielding nothing drops the row, one tuple maps it and several tuples
explode it, so filters, 1→1 and 1→many kernels follow one rule.

`map_rows` owns the rest: the `mapInPandas` batch loop, the pandas
import and the frame construction. The frame has integer column
labels, which PySpark matches to the schema by position (pinned in
tests/test_rows.py), so each output column is named once, in the
schema string. Imports a row function needs (codecs, parsers) belong
inside its body so they run in the Python worker only.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType


def map_rows(
    df: DataFrame, schema: str, row: Callable[..., Iterable[tuple]]
) -> DataFrame:
    """`df` → the rows `row(*values)` yields for each input row, typed
    by the DDL string `schema`. A tuple whose length differs from the
    schema's column count raises ValueError in the worker."""
    width = len(DataType.fromDDL(schema))

    # Reference nothing at module level here: cloudpickle would pickle
    # such a global by reference and make the worker import this package.
    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = [
                out
                for values in pdf.itertuples(index=False, name=None)
                for out in row(*values)
            ]
            if not rows:
                continue
            bad = next((r for r in rows if len(r) != width), None)
            if bad is not None:
                raise ValueError(
                    f"row function yielded {len(bad)} values for a"
                    f" {width}-column schema: {schema}"
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema=schema)
