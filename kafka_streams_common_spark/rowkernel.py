"""The package's one per-row Python kernel primitive.

Every record-at-a-time transform — a codec's encode or decode, a
container's fan-out into its members, a parse that drops rows — is a
row function handed to ``row_kernel``, which runs it over Arrow batches
in exactly one ``mapInPandas`` stage. It is the DataFrame form of a
stateless ``mapValues``/``flatMapValues`` call.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def row_kernel(
    df: DataFrame, fn: Callable[..., Iterable[Any]], schema: StructType
) -> DataFrame:
    """Apply ``fn`` to every row of ``df`` in one ``mapInPandas`` stage.

    ``fn`` receives the row's values positionally, in ``df.columns``
    order, and yields zero or more output rows: tuples in ``schema``
    field order, or dicts keyed by ``schema`` field names. One row out
    per row in is a codec, several is a fan-out, none drops the row. An
    exception raised by ``fn`` fails the task, and so the job."""
    names = schema.names

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                out
                for row in pdf.itertuples(index=False, name=None)
                for out in fn(*row)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, schema)
