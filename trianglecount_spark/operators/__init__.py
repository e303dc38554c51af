from trianglecount_spark.operators.canonicalize import (
    canonicalize_edges,
    degrees,
    orient,
    vertex_dictionary_scalable,
)
from trianglecount_spark.operators.triangles import (
    triangle_count_arrays,
    triangle_count_join,
    triangle_count_kernel,
    triangles_per_vertex_join,
)

__all__ = [
    "canonicalize_edges",
    "degrees",
    "orient",
    "vertex_dictionary_scalable",
    "triangle_count_arrays",
    "triangle_count_join",
    "triangle_count_kernel",
    "triangles_per_vertex_join",
]
