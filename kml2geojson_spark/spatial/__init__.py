from .cells import (
    MAX_RES,
    cell_encode_np,
    cell_decode_np,
    cell_parent_np,
    cell_bounds_np,
    cell_kring_np,
    cell_encode_col,
    cell_encode_sql,
    cell_res_col,
    cell_parent_col,
)
from .core import (
    encode_points,
    polygon_cover,
    pip_join,
    knn_join,
    coverage_fractions,
    tile_assignments,
    tile_assignments_from_docs,
)
from .salted import salted_join, hot_keys

__all__ = [
    "MAX_RES",
    "cell_encode_np",
    "cell_decode_np",
    "cell_parent_np",
    "cell_bounds_np",
    "cell_kring_np",
    "cell_encode_col",
    "cell_encode_sql",
    "cell_res_col",
    "cell_parent_col",
    "encode_points",
    "polygon_cover",
    "pip_join",
    "knn_join",
    "coverage_fractions",
    "tile_assignments",
    "tile_assignments_from_docs",
    "salted_join",
    "hot_keys",
]
