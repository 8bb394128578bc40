"""Beyond-reference pipeline operators for large-scale (100 TB) training-data
preparation: deduplication, similarity search, text analysis, multimodal
columns. All hot paths are JVM-side Spark built-ins (whole-stage codegen);
Python appears only in clearly-marked Arrow-batched kernels (multimodal
codecs, the numpy similarity kernels).
"""

from clickhouse_datafusion_spark.operators import (  # noqa: F401
    asof,
    dedup,
    graph,
    layout,
    multimodal,
    packing,
    profile,
    sampling,
    similarity,
    sketch,
    skew,
    text,
)
