"""Spark 4 Python UDTFs — the table-function escape hatch of the
§2.9 UDF surface (scalar pandas_udf / mapInPandas / applyInPandas /
applyInPandasWithState / Python DataSource are covered
elsewhere; this completes the set).

A UDTF is the right slot when one input row expands into a variable
number of rows AND the expansion logic genuinely needs Python (a
tokenizer library, a parser). For anything expressible with
sequence+explode+substring, prefer the native plan — chunk_documents
in queries.py is the production path; ``ChunkDoc`` below is its
row-identical UDTF twin, pytest-pinned, kept as the documented mount
point and API reference.

Scale: UDTFs run row-at-a-time in Python workers (no Arrow batching
in the eval path), so they sit BELOW pandas-based APIs in the perf
hierarchy — another reason the native chunker is the default.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="chunk_idx bigint, chunk_text string")
class ChunkDoc:
    """Overlapping chunker: yields (idx, text[idx*stride : +size]) —
    the exact semantics of the native chunk_documents plan (chunk
    count = max(ceil((len-overlap)/stride)-1, 0) + 1)."""

    def eval(self, text: str, size: int, stride: int):  # noqa: D102
        text = text or ""
        overlap = size - stride
        import math

        n = max(math.ceil((len(text) - overlap) / stride) - 1, 0)
        for i in range(n + 1):
            yield i, text[i * stride : i * stride + size]


def register_udtfs(spark) -> None:
    """Register all engine UDTFs on a session (idempotent)."""
    spark.udtf.register("chunk_doc", ChunkDoc)
