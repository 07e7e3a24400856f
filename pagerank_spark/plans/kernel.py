"""The one launcher for the engine's Arrow kernels, and their decoders.

A kernel is a module-level generator function of ``pagerank_spark``,
``_x(batches, *, params)``. :func:`map_arrow` binds it with
``functools.partial`` of the module-level runner :func:`_run`, which
drops zero-row batches (legal in a ``mapInArrow`` stream). The rule
exists because cloudpickle sends a module-level function by reference:
a worker that unpickles any engine kernel imports ``pagerank_spark``
and so installs the zipimport guard (``session.py``; ~0.25 s per task
on a cold worker without it), while a nested function travels by value
and one that closes over NumPy/pyarrow only never imports the engine.
Parameters ride in the partial, pickled into each task's command; the
Arrow batch size is the one ``session.py`` conf.
"""

from __future__ import annotations

import functools
import sys

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame


def _run(fn, params, batches):
    return fn((b for b in batches if b.num_rows), **params)


def map_arrow(df: DataFrame, fn, schema: str, **params) -> DataFrame:
    """``df.mapInArrow`` of kernel ``fn`` bound to ``params``;
    ``ValueError`` unless ``fn`` is a module-level engine function."""
    module = getattr(fn, "__module__", None) or ""
    qualname = getattr(fn, "__qualname__", "")
    if not module.startswith("pagerank_spark.") or (
        getattr(sys.modules.get(module), qualname, None) is not fn
    ):
        raise ValueError(f"{fn!r} is not a module-level pagerank_spark function")
    return df.mapInArrow(functools.partial(_run, fn, params), schema)


def list_values(col: pa.ListArray, dtype) -> tuple[np.ndarray, np.ndarray]:
    """``(offsets, flat values as dtype)`` of a list column of a batch."""
    values = col.flatten().to_numpy(zero_copy_only=False).astype(dtype)
    return np.asarray(col.offsets), values


def sketch_column(mat: np.ndarray) -> pa.Array:
    """An ``(n, m)`` uint8 matrix as a ``binary`` column of m-byte
    values over the matrix buffer (the int32 offsets raise, not wrap,
    past 2 GiB)."""
    n, m = mat.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int64) * m, type=pa.int32())
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, offsets.buffers()[1], pa.py_buffer(np.ascontiguousarray(mat))],
    )


def sketch_matrix(col: pa.Array, m: int) -> np.ndarray:
    """Read-only ``(n, m)`` uint8 view of a ``binary`` column of m-byte
    values, without copying its values buffer."""
    start = np.frombuffer(col.buffers()[1], dtype=np.int32)[col.offset]
    return np.frombuffer(
        col.buffers()[2], dtype=np.uint8, count=len(col) * m, offset=start
    ).reshape(len(col), m)
