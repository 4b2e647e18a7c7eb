"""ssb_sgis_spark — a from-scratch PySpark-native spatial-join + tiling
engine with the query/data-processing capabilities of ssb-sgis
(Bjoern-Rapp/ssb-sgis, surveyed in /root/repo/SURVEY.md).

Geometry = WKB BinaryType columns; point tables carry native x/y doubles;
all geometry math is vectorized numpy inside Arrow-batched UDFs (this
environment has no GEOS/shapely — the kernels are original).

The top level mirrors the reference's flat ``import sgis as sg`` surface:
``sg.clean_overlay`` -> ``ssb_sgis_spark.clean_overlay`` etc., so a
reference user can switch with an import swap.
"""

from . import _pyworker

_pyworker.install_lazy_zipimport()

from .cells import cell_of_xy_col, ssb_grid_id_col
from .operators.ann import (
    ann_lsh_topk,
    cosine_pairs,
    cosine_pairs_lsh,
    cosine_topk,
)
from .operators.clip import clean_clip, get_gaps, get_intersections, update_geometries
from .operators.clusters import (
    cluster_points_within_distance,
    connected_components,
    get_polygon_clusters,
)
from .operators.conversion import (
    coordinate_array,
    geojson_to_wkb,
    get_lonlat,
    get_utm33,
    project_to_lonlat,
    project_to_utm33,
    to_geom_df,
    wkb_to_wkt,
    wkt_to_wkb,
)

# reference-name alias (sgis ``to_gdf``): same ingestion surface, Spark frame out
to_gdf = to_geom_df
from .operators.contamination import flag_contamination
from .operators.dedup import (
    dedup_paragraphs,
    dedupe_exact,
    minhash_dup_groups,
    near_dup_pairs,
    simhash_df,
)
from .operators.domains import crawl_delta, per_domain_latest, per_key_topk
from .operators.packing import pack_sequences, token_budget_head
from .operators.linkgraph import link_edges, pagerank
from .operators.pipeline import corpus_pipeline
from .operators.quality import quality_filter, unigram_nll
from .operators.sampling import mix_corpora, sample_fraction, sample_stratified
from .operators.sessions import session_stats, sessionize
from .operators.dissolve import (
    buff,
    buffdiss,
    buffdissexp,
    buffdissexp_by_cluster,
    dissexp,
    dissexp_by_cluster,
    dissolve,
)
from .operators.eliminate import (
    eliminate_by_largest,
    eliminate_by_longest,
    eliminate_by_smallest,
)
from .operators.geomtable import (
    clean_geoms,
    make_all_singlepart,
    with_area,
    with_bounds,
    with_length,
    xy_to_point_wkb,
)
from .operators.grid import (
    add_grid_id,
    bounds_to_polygon,
    get_total_bounds,
    make_grid,
    make_grid_from_bbox,
    make_ssb_grid,
    points_in_bounds,
)
from .operators.gridloop import gridloop
from .operators.ivf import ivf_topk, train_ivf_centroids
from .operators.knn import (
    get_all_distances,
    get_k_nearest_neighbors,
    knn_cellwise,
    knn_haversine,
    sjoin_nearest,
)
from .operators.lineops import (
    change_line_endpoint,
    cut_lines,
    cut_lines_once,
    make_edge_wkt_cols,
    make_lines_between_points,
    split_lines_by_nearest_point,
)
from .operators.multimodal import media_features, sample_frames
from .operators.neighbors import get_neighbor_indices
from .operators.network import (
    close_network_holes,
    close_network_holes_to_deadends,
    get_component_size,
    get_connected_components,
    get_k_routes,
    get_route,
    get_route_frequencies,
    make_directed_network,
    make_directed_network_norway,
    make_edge_coords_cols,
    make_node_ids,
    od_cost_matrix,
    precice_service_area,
)
from .operators.networkanalysis import NetworkAnalysis, NetworkAnalysisRules
from .operators.overlay import clean_overlay
from .operators.pointops import snap_all, snap_within_distance
from .operators.polygons import (
    close_all_holes,
    close_small_holes,
    close_thin_holes,
    get_grouped_centroids,
    get_holes,
    get_rough_centerlines,
    segmentize,
    simplify,
    sort_large_first,
    sort_long_first,
    sort_nans_last,
    to_lines,
    to_lines_split,
    to_single_geom_type,
)
from .operators.raster_ops import (
    raster_gradient,
    raster_to_polygons,
    rasterize_cells_df,
    rasterize_polygons,
)
from .operators.lake_pip import (
    ensure_cell_lake,
    partition_cells_for_polygons,
    pip_join_lake_pruned,
    write_cell_partitioned_lake,
)
from .operators.rings import PolygonsAsRings
from .operators.sjoin import (
    points_in_polygons_join,
    sfilter,
    sfilter_inverse,
    sfilter_split,
)
from .operators.skew import salted_agg
from .operators.textops import extract_text, geocode_html
from .streaming.dedup import dedup_stream
from .operators.tsp import traveling_salesman_problem
from .operators.zonal import zonal_stats
from .sources.geotiff import Raster, geotiff_tiles_df, read_meta, write_geotiff
from .sources.sentinel import Sentinel2, sentinel2_catalog, enrich_catalog_headers
from .sources.io import (
    check_files,
    exists,
    read_lake_table,
    read_parquet_url,
    write_geoparquet,
    write_lake_table,
)
from .sources.muni_writer import write_municipality_data
from .operators.polygons import bounds_to_points, with_geom_type
from .compat import (
    ElevationRaster,
    Parallel,
    drop_inactive_geometry_columns,
    get_common_crs,
    get_crs,
    get_geom_type,
    is_single_geom_type,
    k_nearest_neighbors,
    opener,
    random_points,
    rename_geometry_if,
    set_crs,
    to_bbox,
)

import types as _types

__all__ = [
    n
    for n, v in list(globals().items())
    if not n.startswith("_") and not isinstance(v, _types.ModuleType)
]
__version__ = "0.3.0"
