"""Registry contract: every query is tagged, has an oracle, and the
driver's correctness set and the benchmark's operator queries are all
registered under unique ``qNN`` prefixes.  The parity corpus stays
outside the registry and imports no engine code."""

from collections import Counter

import ast
import inspect

import parity_queries
from gdal_spark.queries import ORACLES, QUERIES, query_kinds
from perfbench.workloads import QUERY_NAMES as PERFBENCH

# The driver's 50-query correctness set (checked at sf0.01).
DRIVER_SET = (
    "q01_filter_project q02_summary_agg q03_distinct q04_orderby_limit "
    "q05_groupby_agg q06_left_join q07_union_all q08_expressions "
    "q09_events_hourly q10_sessionize q61_session_window "
    "q11_spatial_pip_join q12_zonal_stats q13_knn q59_knn_radius "
    "q14_raster_density q15_tile_pyramid q16_cell_index q25_rasterize_burn "
    "q26_polygonize q58_line_burn q27_focal_sum q28_horn_slope "
    "q31_interpolate_bilinear q29_overlay_intersection "
    "q30_spatial_sort_morton q17_dedup_exact q18_minhash_lsh "
    "q19_ngram_jaccard q20_simhash q60_simhash_pairs q21_text_quality "
    "q22_lang_id q48_bpe_tokens q49_embed_neardup q23_cosine_topk "
    "q32_ann_ivf q33_graph_cc q34_winnow_fingerprint q35_multimodal_meta "
    "q36_stream_hourly q50_stream_sessionize q37_checksum q38_band_stats "
    "q57_band_histogram q39_ogrsql_veneer q40_json_props q41_sieve_filter "
    "q42_contour_cells q43_erase_area"
).split()

# Driver-set queries that run no engine code: pure Spark SQL kept for
# the contract alone.
CONTRACT = {
    "q01_filter_project", "q02_summary_agg", "q03_distinct",
    "q04_orderby_limit", "q05_groupby_agg", "q06_left_join",
    "q07_union_all", "q08_expressions", "q09_events_hourly",
    "q10_sessionize", "q14_raster_density", "q15_tile_pyramid",
    "q40_json_props", "q61_session_window",
}


def test_registry_tags_oracles_and_pinned_names():
    kinds = query_kinds()
    assert kinds.keys() == QUERIES.keys()
    assert set(kinds.values()) <= {"operator", "contract"}
    assert ORACLES.keys() == QUERIES.keys()
    assert {n for n, k in kinds.items() if k == "contract"} == CONTRACT
    assert len(DRIVER_SET) == 50 and set(DRIVER_SET) <= QUERIES.keys()
    prefixes = Counter(n.split("_")[0] for n in QUERIES)
    assert max(prefixes.values()) == 1
    assert len(PERFBENCH) == 18 and set(PERFBENCH) <= prefixes.keys()


def test_parity_corpus_is_disjoint_and_engine_free():
    assert not parity_queries.QUERIES.keys() & QUERIES.keys()
    assert parity_queries.ORACLES.keys() == parity_queries.QUERIES.keys()
    prefixes = Counter(
        n.split("_")[0] for n in [*QUERIES, *parity_queries.QUERIES])
    assert max(prefixes.values()) == 1
    tree = ast.parse(inspect.getsource(parity_queries))
    modules = {n.module for n in ast.walk(tree)
               if isinstance(n, ast.ImportFrom)}
    modules |= {a.name for n in ast.walk(tree) if isinstance(n, ast.Import)
                for a in n.names}
    assert {m for m in modules if m.startswith("gdal_spark")} == {
        "gdal_spark.session", "gdal_spark.queries"}
