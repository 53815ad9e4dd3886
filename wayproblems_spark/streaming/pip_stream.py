"""Streaming point-in-polygon: classify each incoming point (a
Structured-Streaming source) against a STATIC polygon layer.

Shape: same foreachBatch pattern as :mod:`.knn_stream` — the static side
(cell-bucket + edge broadcast tables) is built ONCE with
``build_pip_index`` (the polygon-index kernel run executor-parallel,
persisted + materialized, so no per-batch broadcast rebuild) and
captured by the batch closure; every micro-batch then pays only for its
own points: one broadcast bucket join, one broadcast edge join, one
codegen parity aggregate.
Unlike kNN there is no per-batch internal persist to track — the PIP
operator is a single stateless plan — so the only cache entries alive
across the stream are the two index frames.

Delivery semantics are foreachBatch's usual at-least-once at the
boundary; pair with :func:`.knn_stream.exactly_once_parquet_sink` (the
idempotent per-batch-id dynamic-partition-overwrite sink) to make the
written table exactly-once under replay.

Scale: identical to the batch operator per micro-batch; completes the
build-once/stream-many pattern across all three spatial operators
(kNN / ANN-IVF / PIP).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators.pip import build_pip_index, point_in_polygon


def pip_foreach_batch(
    spark,
    polys: DataFrame,
    level: int = 10,
    samples: int | None = None,
) -> Callable:
    """Returns an on-batch callable for ``writeStream.foreachBatch`` that
    maps a micro-batch of points(point_id, lat, lon) to containment rows
    (point_id, poly_id, kind) and hands them to the wrapped sink function
    set via ``.sink``. The prebuilt index is exposed as ``.prebuilt`` so
    the owner can ``unpersist_pip_index`` it when the stream stops.

    Usage::

        fb = pip_foreach_batch(spark, polys, level=12)
        fb.sink = exactly_once_parquet_sink(out_dir)
        stream.writeStream.foreachBatch(fb).start()
    """
    prebuilt = build_pip_index(spark, polys, level, samples=samples)

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        res = point_in_polygon(spark, batch_df, None, prebuilt=prebuilt)
        fb.sink(res, batch_id)

    fb.sink = lambda df, bid: None
    fb.prebuilt = prebuilt
    return fb
