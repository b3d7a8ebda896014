"""Worker-side warm-up: imports the extraction kernel in a Python worker.

Kept in its own small module so that warming a worker costs what the
program's own first use costs (interpreter start, Arrow, the kernel load)
and nothing the benchmark adds.
"""

import os

import pyarrow as pa


def kernel_probe(batches):
    """mapInArrow function: one row per partition with the worker's pid
    and 1 when the compiled kernel is loaded, else 0."""
    from go_boilerpipe_spark.kernel import document

    for _ in batches:
        pass
    yield pa.RecordBatch.from_arrays(
        [pa.array([os.getpid()], pa.int64()),
         pa.array([int(document._CK is not None)], pa.int32())],
        names=["pid", "c_path"],
    )
