"""Arrow transfer plane for the Python-decoded sources (BAM / CRAM / VCF).

``spark.createDataFrame(rdd_of_rows)`` pickles every row across the
Python→JVM boundary; profiling the BAM path showed ~5% decode / ~95%
serialization.  ``mapInPandas`` ships columnar Arrow batches instead, which
removes nearly all of that cost while keeping the decode code unchanged.

Shape: the task list (split/range descriptors) stays in the closure; its
index becomes a one-row-per-partition JVM frame — ``spark.range(0, n, 1, n)``
puts task i alone in partition i, and ``mapInPandas`` preserves
partitioning, so the file-order contract of the sources (SURVEY §2.6)
survives the transfer plane.  The range scan runs in the JVM, so the decode
is the only Python stage of the job.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_ARROW_BATCH = 8192  # rows per Arrow batch handed to the JVM


def rows_to_dataframe(
    spark: SparkSession,
    tasks: Sequence,
    row_iter_fn: Callable[..., Iterable[dict]],
    columns: Sequence[str],
    schema: StructType | str,
) -> DataFrame:
    """Run ``row_iter_fn(task)`` per task on executors and return its dict
    rows as a DataFrame via Arrow batches.  ``tasks`` must be picklable and
    small (they ride in the closure); one task per partition."""
    tasks = list(tasks)
    cols = list(columns)

    def gen(batches) -> Iterator:
        import pandas as pd

        def to_pdf(buf: list[dict]) -> pd.DataFrame:
            # dict-of-lists: pandas ingests each column as one array instead
            # of walking keys per row
            return pd.DataFrame({c: [r[c] for r in buf] for c in cols})

        for pdf in batches:
            for (i,) in pdf.itertuples(index=False):
                buf: list[dict] = []
                for row in row_iter_fn(tasks[i]):
                    buf.append(row)
                    if len(buf) == _ARROW_BATCH:
                        yield to_pdf(buf)
                        buf = []
                if buf:
                    yield to_pdf(buf)

    n = len(tasks)
    idx = spark.range(0, n, 1, max(1, n)).select(F.col("id").cast("int").alias("i"))
    return idx.mapInPandas(gen, schema)


def foreach_partition_arrow(df: DataFrame, fn: Callable[[int, Iterator[dict]], None]) -> None:
    """Run ``fn(partition_id, row_dict_iterator)`` once per partition with
    rows delivered as Arrow batches — the write-side twin of
    ``rows_to_dataframe`` (``foreachPartition`` pickles every row).  MapType
    cells may arrive as lists of (key, value) pairs depending on the Arrow
    conversion; callers normalize."""

    def gen(batches) -> Iterator:
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()

        def rows() -> Iterator[dict]:
            for pdf in batches:
                # astype(object) + where(notna, None): a null in an integer
                # column would otherwise promote the whole pandas column to
                # float64 and deliver NaN (and 100 → 100.0) to the writer's
                # struct.pack.  Object dtype keeps ints as ints, None as None.
                yield from (
                    pdf.astype(object).where(pdf.notna(), None).to_dict("records")
                )

        fn(pid, rows())
        yield pd.DataFrame({"pid": [pid]})

    df.mapInPandas(gen, "pid int").write.format("noop").mode("overwrite").save()
