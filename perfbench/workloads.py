"""Workloads and query families of the benchmark.

Every query is a `graft.SparkEntry.queries` entry; its output is checked
against the same entry of `graft.SparkEntry.oracleSql`.
"""

# Families: the per-layer metrics sum the time of the family's queries.
FAMILIES = {
    "join": ["q_spatial_join", "q_dwithin_selective", "q_polyjoin_selective",
             "q_radius_join", "q_knn_join", "q_knn_tiled", "q_interval_join",
             "q_overlap_join", "q_asof_join"],
    "transform": ["q_transform", "q_transform_lcc", "q_transform_albers", "q_transform_harn",
                  "q_transform_ps", "q_transform_laea", "q_transform_om",
                  "q_transform_somerc", "q_transform_krovak", "q_transform_sterea",
                  "q_transform_cassini", "q_transform_poly", "q_transform_world",
                  "q_transform_eqearth", "q_transform_sphere", "q_transform_ups",
                  "q_transform_projstr", "q_transform_wkt", "q_transform_ntv2",
                  "q_transform_nadcon", "q_transform_vgrid"],
    "topology": ["q_predicates", "q_overlay_area", "q_convexhull", "q_makepolygon",
                 "q_linear_ref", "q_affine", "q_compgeom", "q_subdivide",
                 "q_inscribed_circle", "q_polygonize", "q_split_paths", "q_topo_measures",
                 "q_relate", "q_orientation", "q_predicates2", "q_buffer", "q_buffer_styles",
                 "q_simplify_valid", "q_linemerge", "q_symdiff"],
    "measure": ["q_area_perimeter", "q_length_distance", "q_centroid", "q_haversine",
                "q_spheroid", "q_locate_measure", "q_3d"],
    "aggregate": ["q_extent_agg", "q_union_agg", "q_intersection_agg", "q_collect_agg",
                  "q_cluster_agg", "q_dbscan_fn", "q_kmeans_fn"],
    "text": ["q_ngram_jaccard", "q_contamination", "q_bm25", "q_tfidf", "q_c4_clean",
             "q_mix_sample", "q_lm_quality", "q_html_extract", "q_pipeline_e2e", "q_pii",
             "q_stratified_sample", "q_token_stats", "q_quality", "q_quality2", "q_gopher",
             "q_chunk", "q_split", "q_pack", "q_dsir", "q_bpe", "q_bpe_encode",
             "q_multimodal", "q_mm_decode", "q_mm_audio", "q_mm_video", "q_mm_kernels"],
    "roundtrip": ["q_vsizip_roundtrip", "q_http_read", "q_gpkg_keepwkb", "q_spatial_filter",
                  "q_gpkg_layers", "q_partitioned_read", "q_formats_roundtrip"],
    "dedup": ["q_dedup_exact", "q_paragraph_dedup", "q_substring_dedup", "q_url_dedup",
              "q_semdedup", "q_semdedup_op"],
    "ann": ["q_ann_bruteforce", "q_embed_quant", "q_ann_pq", "q_hybrid_rrf"],
    # queries built on graft.operators / graft.ann Scala APIs
    "operators": ["q_asof_join", "q_knn_join", "q_knn_tiled", "q_bpe", "q_bpe_encode",
                  "q_kmeans", "q_dbscan", "q_semdedup_op"],
}

# Oracles pinned to literals computed on the contract's own sf0.01 corpus:
# they hold on that corpus only, not on seeded inputs.
PINNED = ["q_ann_ivf", "q_ann_lsh", "q_embed_neardup", "q_lang_id", "q_minhash_neardup",
          "q_multimodal_pipeline", "q_neardup_clusters", "q_simhash", "q_winnow"]
# These write to and re-read fixed paths under /tmp, outside the run's own
# directory, so a run of them would not be self-contained.
FIXED_TMP = ["q_geoparquet_roundtrip", "q_layout_info", "q_geoparquet_crs"]

# One query per family, run on the 0.001 warm-up tables in traced runs of a
# workload that has no query of that family, so that every per-layer metric
# is measured (and non-zero) in every workload. End-to-end runs never run them.
PROBES = {
    "join": "q_spatial_join", "transform": "q_transform_lcc", "topology": "q_overlay_area",
    "measure": "q_area_perimeter", "aggregate": "q_union_agg", "text": "q_c4_clean",
    "roundtrip": "q_spatial_filter", "dedup": "q_dedup_exact", "ann": "q_ann_bruteforce",
    "operators": "q_semdedup_op",
}

# Queries the warm-up pass leaves out. q_inscribed_circle runs
# ST_MaximumInscribedCircle on the same 400 distinct rectangles at every
# scale, so a warm-up run on the small tables would cost as much as the timed
# one; it is timed cold, as the first call in the JVM.
COLD = ["q_inscribed_circle"]

# Each workload is a cross-section of the contract, chosen with one measured
# pass of every query (README, "Workloads").
WORKLOADS = {
    # the most expensive query of a sf0.01 pass next to cheap ones, at the
    # scale where per-query fixed cost dominates
    "contract_sf0.01": {"sf": 0.01, "queries": [
        "q_inscribed_circle", "q_predicates", "q_transform_lcc", "q_union_agg",
        "q_spatial_join", "q_semdedup_op"]},
    # geometry kernels, CRS transforms, tile/range joins and a format round
    # trip on 600k lineitem rows, with q_tpch_q6 as a relational control
    "spatial_sf0.1": {"sf": 0.1, "queries": [
        "q_transform_lcc", "q_overlay_area", "q_spatial_join", "q_interval_join",
        "q_formats_roundtrip", "q_tpch_q6"]},
    # text kernels, TF-IDF, dedup shuffles and vector search on the sf0.1
    # corpus (documents, embeddings) replicated 10x
    "text_x10": {"corpus_sf": 0.1, "copies": 10, "queries": [
        "q_tfidf", "q_dedup_exact", "q_semdedup_op", "q_ann_pq"]},
}


def probes(queries):
    """Probe queries for the families `queries` does not cover."""
    covered = {f for f, members in FAMILIES.items() if set(members) & set(queries)}
    return [q for f, q in PROBES.items() if f not in covered]
