"""The package's one Python crossing on the data path: :func:`map_arrow`.

Every kernel that runs Python over a frame's rows (the dump tokenizer,
the dump writer's statement batching, the vector and ANN kernels, the
multimodal file decoders) goes through one ``mapInArrow`` here. A kernel
reads Arrow batches and yields plain column values; the batches it
returns are built with the Arrow types of one declared schema, so an
empty batch needs no special case and a value that does not fit its
column fails loudly instead of wrapping.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_arrow(frame: DataFrame, schema: str | StructType,
              fn: Callable[[Iterator], Iterator[Sequence]]) -> DataFrame:
    """``frame`` mapped by ``fn`` to a frame of ``schema`` (DDL or
    StructType). ``fn`` takes a partition's ``pa.RecordBatch`` iterator
    and yields, per output batch, one sequence of values per column in
    schema order; it may keep state across batches. Each column becomes
    ``pa.array(values, type=...)`` with the type ``to_arrow_schema``
    derives once on the driver, so a ``pa.Array`` of that type passes
    through unchanged; an n×w numpy matrix fills a list column, one row
    per list. A value that does not fit raises ``ValueError`` naming
    the column and its type."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    out = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(out)

    def column(field, values):
        try:
            if getattr(values, "ndim", 1) == 2:
                n, w = values.shape
                return pa.ListArray.from_arrays(
                    np.arange(n + 1, dtype=np.int32) * w,
                    pa.array(values.ravel(), type=field.type.value_type),
                    type=field.type)
            return pa.array(values, type=field.type)
        except (pa.ArrowException, OverflowError) as exc:
            raise ValueError(
                f"column {field.name!r} ({field.type}): {exc}") from exc

    def run(batches):
        for cols in fn(batches):
            yield pa.RecordBatch.from_arrays(
                [column(f, v) for f, v in zip(arrow, cols, strict=True)],
                schema=arrow)

    return frame.mapInArrow(run, out)
