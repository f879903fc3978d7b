"""Arrow IPC (Feather V2) driver — ``ogr/ogrsf_frmts/arrow/`` semantics
over the PUBLIC pyarrow API (the Arrow IPC file format is Arrow's own
published spec; the reference driver reads/writes the same container).

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.arrow`` file per shard of the partition key on write, one decode per
file on read.  The payload is columnar Arrow record batches, so both
directions are zero-copy-ish: the writer hands pandas blocks to
``pyarrow.ipc.new_file`` and the reader maps the file bytes through
``pyarrow.ipc.open_file(BufferReader)`` — no row loops anywhere.  All
types roundtrip bit-exactly (int64/float64 are stored as raw little-endian
buffers in the IPC body).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO


def write_arrow_files(
    df: DataFrame,
    directory: str,
    num_files: int,
    partition_key: str,
) -> int:
    """Distributed Arrow-IPC-file sink: one .arrow file per shard of
    ``partition_key``.  Returns files written."""
    import pyarrow as pa

    def encode(part, pdf):
        table = pa.Table.from_pandas(pdf, preserve_index=False) \
            .sort_by(partition_key)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_file(sink, table.schema) as writer:
            writer.write_table(table)
        return {f"part-{part:05d}.arrow": sink.getvalue().to_pybytes()}

    return DIO.write_files(df, directory,
                           DIO.hash_key(partition_key, num_files), encode)


def read_arrow_files(
    spark: SparkSession,
    directory: str,
    schema: str,
) -> DataFrame:
    """Distributed Arrow-IPC scan: binaryFile bytes → pyarrow BufferReader
    → pandas, one decode per file.  ``schema`` is the Spark DDL of the
    stored columns."""
    import pyarrow as pa

    return DIO.read_files(
        spark, f"{directory}/*.arrow",
        lambda path, buf: pa.ipc.open_file(pa.BufferReader(buf))
        .read_all().to_pandas(),
        schema)
