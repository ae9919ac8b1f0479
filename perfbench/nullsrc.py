"""A null data source that isolates the Python <-> JVM transfer.

``perfbench_null`` reads Arrow batches that the real reader built in
advance and saved as an Arrow IPC file, on the same partitions the real
reader plans, so a scan of it costs the transfer and Spark's task machinery
but no inflate or decode. Written to, it consumes the rows (``mode=rows``,
a ``DataSourceWriter``, the path ``OsmPbfWriter`` uses) or the Arrow
batches (``mode=arrow``, a ``DataSourceArrowWriter``) and drops them.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


class NullPartition(InputPartition):
    def __init__(self, batch_ids: list[int]):
        self.batch_ids = batch_ids


class NullSource(DataSource):
    """Read options: ``schema_json`` (the real reader's schema),
    ``ipc_path`` (the saved batches) and ``plan_json`` (per partition, the
    indexes of the batches it serves). Write option: ``mode``."""

    @classmethod
    def name(cls) -> str:
        return "perfbench_null"

    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.options["schema_json"]))

    def reader(self, schema: StructType) -> "NullReader":
        return NullReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        if self.options.get("mode") == "arrow":
            return NullArrowWriter()
        return NullRowsWriter()


class NullReader(DataSourceReader):
    def __init__(self, options):
        self.ipc_path = options["ipc_path"]
        self.plan = json.loads(options["plan_json"])

    def partitions(self):
        return [NullPartition(ids) for ids in self.plan]

    def read(self, partition: NullPartition):
        import pyarrow as pa

        with pa.memory_map(self.ipc_path) as src:
            reader = pa.ipc.open_file(src)
            for i in partition.batch_ids:
                yield reader.get_batch(i)


class _Done(WriterCommitMessage):
    def __init__(self, rows: int):
        self.rows = rows


class NullRowsWriter(DataSourceWriter):
    def write(self, rows) -> _Done:
        n = 0
        for _ in rows:
            n += 1
        return _Done(n)


class NullArrowWriter(DataSourceArrowWriter):
    def write(self, batches) -> _Done:
        return _Done(sum(b.num_rows for b in batches))


def register(spark) -> None:
    spark.dataSource.register(NullSource)
