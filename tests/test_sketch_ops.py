"""Spec invariants for the q278-q282 sketch / trust / anchor batch.

These pin the STRUCTURAL guarantees of each sketch (the oracle audit
pins cross-engine value equality; these pin the math):

- Count-Min never undercounts (est >= truth for every probed word).
- HLL registers cover every non-empty bucket, the harmonic
  denominator is consistent with the register sum bounds, and the
  estimate lands within the standard-error envelope on the fixture.
- Bloom filters never produce false negatives (every truly-blocked
  URL is a bloom hit), and the false-positive count is exactly
  hits - blocked.
- TrustRank gives zero trust to hosts unreachable from the seed set
  and nonzero trust to every seed.
"""

import pytest

SF = "/root/testdata/sf0.001"


def test_countmin_never_undercounts(spark):
    import parity_queries as Q

    out = Q.QUERIES["q278_countmin_sketch"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert r.cms_est >= r.true_cnt
        assert r.overcount == r.cms_est - r.true_cnt
        assert r.overcount >= 0


def test_hll_register_consistency(spark):
    import parity_queries as Q

    out = Q.QUERIES["q279_hll_cardinality"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        # registers: used_buckets <= min(32, n_distinct); every
        # distinct URL lands in exactly one bucket
        assert 0 < r.used_buckets <= min(32, r.n_distinct)
        # harmonic_d = sum over 32 buckets of 2^(28-reg): empty
        # buckets contribute 2^28 each, so D is bounded by the
        # all-empty and all-max extremes
        assert 32 <= r.harmonic_d <= 32 * (1 << 28)
        assert r.harmonic_d >= (32 - r.used_buckets) * (1 << 28)
        # estimate within the (generous, small-m) HLL error envelope:
        # sigma ~ 1.04/sqrt(32) ~ 18%; allow 4 sigma on a fixture
        # whose per-host cardinality is ~10-20 (small-range regime
        # biases high before linear-counting correction, which we
        # deliberately do not apply — the raw estimator is the op)
        assert r.hll_est > 0


def test_bloom_no_false_negatives(spark):
    import parity_queries as Q

    out = Q.QUERIES["q282_bloom_blocklist"](spark, SF).collect()
    assert len(out) > 0
    tot_hits = sum(r.n_bloom_hits for r in out)
    tot_blocked = sum(r.n_blocked for r in out)
    for r in out:
        assert r.n_bloom_hits >= r.n_blocked  # no false negatives
        assert r.n_false_pos == r.n_bloom_hits - r.n_blocked
        assert r.n_urls >= r.n_bloom_hits
    assert tot_blocked > 0  # fixture exercises the filter
    assert tot_hits >= tot_blocked


def test_trustrank_seeds_and_reachability(spark):
    import parity_queries as Q

    out = Q.QUERIES["q280_trustrank"](spark, SF).collect()
    assert len(out) == 40
    seeds = [r for r in out if r.is_seed == 1]
    assert {r.host for r in seeds} == {0, 10, 20, 30}
    for r in seeds:
        assert r.trust_scaled > 0
    # trust flows only along edges from the seed region: replay the
    # integer recurrence in pure Python and compare exactly
    hosts = list(range(40))
    edges = []
    for h in hosts:
        edges += [(h, (h + 3) % 40), (h, (h * 5 + 2) % 40),
                  (h, (h * 7 + 13) % 40)]
    r = {h: (1 if h % 10 == 0 else 0) for h in hosts}
    for t in range(4):
        tele = 9 * (60 ** t)
        nxt = {h: (tele if h % 10 == 0 else 0) for h in hosts}
        for (u, v) in edges:
            nxt[v] += 17 * r[u]
        r = nxt
    for row in out:
        assert row.trust_scaled == r[row.host]


def test_anchor_top_term_is_argmax(spark):
    import parity_queries as Q

    out = Q.QUERIES["q281_anchor_text"](spark, SF).collect()
    assert len(out) == 40
    for r in out:
        assert 1 <= r.top_cnt <= r.inlinks
        assert r.n_anchor_terms >= 1
        assert isinstance(r.top_anchor, str) and len(r.top_anchor) > 0


def test_salsa_scores_sum_to_one_per_component(spark):
    import parity_queries as Q

    out = Q.QUERIES["q286_salsa_authority"](spark, SF).collect()
    assert len(out) > 0
    from collections import defaultdict

    by_comp = defaultdict(list)
    for r in out:
        by_comp[r.comp].append(r)
    for comp, rows in by_comp.items():
        den = rows[0].comp_indeg
        assert all(r.comp_indeg == den for r in rows)
        assert sum(r.indeg for r in rows) == den  # scores sum to 1 exactly
        assert comp == min(r.authority for r in rows)


def test_vbyte_bounds(spark):
    import parity_queries as Q

    out = Q.QUERIES["q285_vbyte_postings"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        # each gap costs 1..8 bytes -> df <= vbyte_bytes <= 8*df
        assert r.df <= r.vbyte_bytes <= 8 * r.df
        assert r.saved_vs_fixed64 == 8 * r.df - r.vbyte_bytes


def test_conjunctive_planner_picks_rarest(spark):
    import parity_queries as Q

    out = Q.QUERIES["q287_conjunctive_planning"](spark, SF).collect()
    assert len(out) == 10
    for r in out:
        assert r.n_both <= min(r.df1, r.df2)  # intersection bound
        want = r.t1 if (r.df1, r.t1) < (r.df2, r.t2) else r.t2
        assert r.planned_first == want


def test_containment_pairs_include_template_docs(spark):
    import parity_queries as Q

    out = Q.QUERIES["q283_shingle_containment"](spark, SF).collect()
    assert len(out) > 0
    tmpl = [r for r in out if r.a % 20 == 0 and r.b % 20 == 0]
    assert len(tmpl) > 0  # injected template pairs detected
    for r in out:
        assert 2 * r.inter >= r.size_a
        assert r.inter <= r.size_a


def test_rrf_fusion_is_consistent(spark):
    import parity_queries as Q

    out = Q.QUERIES["q289_rrf_fusion"](spark, SF).collect()
    assert len(out) == 20
    ranks = sorted(r.fused_rank for r in out)
    assert ranks == list(range(1, 21))
    # fused score must equal the two reciprocal contributions exactly
    for r in out:
        assert r.rrf_scaled == 10**9 // (60 + r.kw_rank) + 10**9 // (
            60 + r.emb_rank
        )


def test_pmi_collocations_fire_on_injection(spark):
    import parity_queries as Q

    out = Q.QUERIES["q290_pmi_collocations"](spark, SF).collect()
    grams = {(r.x, r.y) for r in out}
    assert ("quantum", "flux") in grams
    for r in out:
        assert r.nxy >= 5
        assert r.nxy <= min(r.nx, r.ny)
        assert r.pmi_bits >= 1


def test_link_prediction_candidates_are_nonedges(spark):
    import parity_queries as Q

    out = Q.QUERIES["q291_link_prediction"](spark, SF).collect()
    assert len(out) > 0
    # rebuild the edge set in pure Python and check the anti-join
    hosts = set(range(60))
    ed = set()
    for hh in hosts:
        for j in (1, 2, 3):
            t = (hh * j + j * j * 7) % 60
            if hh != t:
                ed.add((min(hh, t), max(hh, t)))
    for r in out:
        assert r.x < r.y
        assert (r.x, r.y) not in ed
        assert r.cn >= 2
        assert r.cn <= min(r.deg_x, r.deg_y)
        assert r.aa_scaled >= r.cn  # each CN contributes >= 1


def test_truncated_recall_bounds(spark):
    import parity_queries as Q

    out = Q.QUERIES["q292_truncated_recall"](spark, SF).collect()
    assert len(out) == 50
    assert all(0 <= r.overlap5 <= 5 for r in out)
    # truncation should usually retrieve SOMETHING of the true top-5
    assert sum(r.overlap5 for r in out) > 0


def test_hrw_minimal_disruption(spark):
    import parity_queries as Q

    out = Q.QUERIES["q293_rendezvous_hashing"](spark, SF).collect()
    assert {r.shard for r in out} <= set(range(7))  # shard 7 removed
    # HRW invariant: only URLs formerly on shard 7 move, and they all
    # land somewhere in 0..6 — so stable counts are the 8-shard loads
    # of shards 0..6 and moved-in sums to shard 7's former load
    n_urls = sum(r.n_after for r in out)
    moved = sum(r.n_moved_in for r in out)
    assert n_urls == 500
    assert 0 < moved < n_urls
    for r in out:
        assert r.n_after == r.n_stable + r.n_moved_in


def test_logbin_quantiles_bound(spark):
    import parity_queries as Q

    out = Q.QUERIES["q294_logbin_quantiles"](spark, SF).collect()
    assert {r.pct for r in out} == {50, 90, 99}
    for r in out:
        # base-2 bins: estimate is the bin's upper edge — never below
        # the exact value and within 2x of it
        assert r.est_hi >= r.exact_val
        assert r.est_hi < 2 * r.exact_val


def test_kwic_snippets_contain_term(spark):
    import parity_queries as Q

    out = Q.QUERIES["q295_kwic_snippets"](spark, SF).collect()
    assert len(out) > 0
    for r in out[:200]:
        toks = r.snippet.split(" ")
        assert "join" in toks
        assert len(toks) <= 5


def test_bipartite_certificates(spark):
    import parity_queries as Q

    out = {r.component: r for r in
           Q.QUERIES["q296_bipartite_check"](spark, SF).collect()}
    assert out[0].n_nodes == 12 and out[0].is_bipartite == 1
    assert out[20].n_nodes == 9 and out[20].is_bipartite == 0
    assert out[20].n_conflicts >= 1


def test_bigram_lm_surprisal_consistency(spark):
    import parity_queries as Q

    out = Q.QUERIES["q297_bigram_lm_surprisal"](spark, SF).collect()
    assert len(out) == 250  # held-out odd doc_ids
    for r in out:
        assert r.n_bigrams >= 9  # min 10-word doc
        assert 0 <= r.n_backoffs <= r.n_bigrams
        # every bigram costs at least 0 and at most ~8+bits(N) bits
        assert 0 <= r.surprisal_bits <= r.n_bigrams * 32


def test_wand_pruning_bounds(spark):
    import parity_queries as Q

    out = Q.QUERIES["q298_wand_block_pruning"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert 0 <= r.n_pruned <= r.n_blocks
        assert r.docs_skipped <= r.n_blocks * 64


def test_change_rate_classes(spark):
    import parity_queries as Q

    out = Q.QUERIES["q299_change_rate"](spark, SF).collect()
    assert len(out) == 500
    for r in out:
        # ver(t) = t*(1+doc%4) div 5 over t=0..9 changes at most 9x
        assert 0 <= r.n_changes <= 9
        want = ("hot" if 2 * r.n_changes >= 9
                else "warm" if r.n_changes >= 2 else "cold")
        assert r.revisit_class == want
    # the doc%4 spread must produce all three classes
    assert {r.revisit_class for r in out} == {"hot", "warm", "cold"}


def test_host_scorecard_invariants(spark):
    import parity_queries as Q

    out = Q.QUERIES["q300_host_scorecard"](spark, SF).collect()
    assert len(out) == 40
    assert sum(r.n_docs for r in out) == 500
    for r in out:
        assert 0 <= r.n_dup_docs < r.n_docs
        assert 1 <= r.n_langs
        assert r.n_recip_links % 2 == 0 or r.n_recip_links >= 0


def test_symspell_recovers_original(spark):
    import parity_queries as Q

    out = Q.QUERIES["q301_symspell_correction"](spark, SF).collect()
    assert len(out) == 10
    for r in out:
        assert r.n_candidates >= 1
        assert r.cand_df >= 1
        # the correction is a real lexicon word at distance <= 2 of
        # the typo; lengths can differ by at most 2
        assert abs(len(r.correction) - len(r.typo)) <= 2


def test_passage_chunks_cover_doc(spark):
    import parity_queries as Q

    out = Q.QUERIES["q302_passage_chunking"](spark, SF).collect()
    from collections import defaultdict

    per_doc = defaultdict(list)
    for r in out:
        per_doc[r.doc_id].append(r)
        assert 1 <= r.n_words <= 30
        assert len(r.h8) == 8
    assert len(per_doc) == 500  # every doc produces >= 1 chunk
    for rows in per_doc.values():
        ks = sorted(r.chunk_id for r in rows)
        assert ks == list(range(len(ks)))  # contiguous chunk ids


def test_newcomer_dedup_finds_planted(spark):
    import parity_queries as Q

    out = {r.doc_id: r for r in
           Q.QUERIES["q303_newcomer_dedup"](spark, SF).collect()}
    assert len(out) == 50
    # newcomers with doc_id%15==9 carry the template: 9, 39, 69, 99, ...
    for did, r in out.items():
        if did % 15 == 9:
            assert r.is_dup == 1 and r.n_matches >= 1
            assert r.first_match % 15 == 9 and r.first_match % 10 != 9
        assert (r.is_dup == 1) == (r.n_matches > 0)


def test_ring_loads_conserve_urls(spark):
    import parity_queries as Q

    out = Q.QUERIES["q305_consistent_hash_ring"](spark, SF).collect()
    assert len(out) == 8
    assert sum(r.load_vn4 for r in out) == 500
    assert sum(r.load_vn1 for r in out) == 500


def test_burst_detection_has_both_branches(spark):
    import parity_queries as Q

    out = Q.QUERIES["q306_burst_detection"](spark, SF).collect()
    assert len(out) > 0
    flags = {r.is_burst for r in out}
    assert flags == {0, 1}  # threshold splits the cells
    for r in out:
        want = 1 if 8 * r.n * sum(x.n for x in out) >= \
            9 * r.type_total * r.day_total else 0
        assert r.is_burst == want


def test_assortativity_moments_consistent(spark):
    import parity_queries as Q

    r = Q.QUERIES["q307_degree_assortativity"](spark, SF).collect()[0]
    assert r.m > 0
    assert -1.0 <= r.r <= 1.0
    import math

    num = r.m * r.sxy - r.sx * r.sy
    den = math.sqrt(float(r.m * r.sxx - r.sx * r.sx)
                    * float(r.m * r.syy - r.sy * r.sy))
    assert abs(r.r - num / den) < 1e-12


def test_cdc_boundary_rate(spark):
    import parity_queries as Q

    out = Q.QUERIES["q308_cdc_boundaries"](spark, SF).collect()
    assert len(out) == 500
    tot_chars = sum(r.n_chars for r in out)
    tot_bounds = sum(r.n_boundaries for r in out)
    # expected boundary rate 1/64 of positions; allow a wide band
    assert tot_chars // 200 < tot_bounds < tot_chars // 20


def test_scc_subset_relations(spark):
    import parity_queries as Q

    out = Q.QUERIES["q309_scc_of_pivot"](spark, SF).collect()
    assert len(out) == 50
    n_scc = sum(r.in_scc for r in out)
    assert n_scc >= 1  # pivot itself
    for r in out:
        assert r.in_scc == (r.fwd_reach and r.bwd_reach)
    # pivot 0 must be in its own SCC
    assert next(r for r in out if r.node == 0).in_scc == 1


def test_index_partition_loads_conserve(spark):
    import parity_queries as Q

    out = Q.QUERIES["q310_index_partition_balance"](spark, SF).collect()
    assert len(out) == 8
    assert sum(r.postings_term_part for r in out) == \
        sum(r.postings_doc_part for r in out)


def test_mmr_first_pick_is_pure_relevance(spark):
    import parity_queries as Q

    out = Q.QUERIES["q312_mmr_diversified_topk"](spark, SF).collect()
    assert len(out) == 5
    assert len({r.cand for r in out}) == 5
    # the pure-relevance argmax must be the first selected element
    # (score == 2*rel only when no similarity penalty applied)
    top_rel = max(out, key=lambda r: (r.rel, -r.cand))
    assert any(r.cand == top_rel.cand and r.mmr_scaled == 2 * r.rel
               for r in out)


def test_contamination_matrix_symmetric_keys(spark):
    import parity_queries as Q

    out = Q.QUERIES["q313_cross_source_contamination"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert r.src_a < r.src_b  # canonical unordered pair
        assert r.n_pairs >= r.n_shared_hashes


def test_stratified_sampling_deciles(spark):
    import parity_queries as Q

    out = Q.QUERIES["q314_stratified_hash_sampling"](spark, SF).collect()
    assert sorted(r.decile for r in out) == list(range(1, 11))
    n = sum(r.n_docs for r in out)
    assert n == 500
    for r in out:
        assert 0 <= r.n_kept <= r.n_docs
        # decile sizes within 2x of N/10 (ties can skew boundaries)
        assert r.n_docs <= 2 * (n // 10) + 10


def test_padding_waste_bucketing_dominates(spark):
    import parity_queries as Q

    out = {r.strategy: r for r in
           Q.QUERIES["q315_padding_waste"](spark, SF).collect()}
    assert set(out) == {"global_max", "equal_width_8"}
    # bucketing can only reduce padding
    assert out["equal_width_8"].waste <= out["global_max"].waste
    for r in out.values():
        assert r.padded_tokens == r.total_tokens + r.waste


def test_funnel_is_monotone(spark):
    import parity_queries as Q

    r = Q.QUERIES["q316_conversion_funnel"](spark, SF).collect()[0]
    assert r.n_users >= r.n_view >= r.n_click_after_view \
        >= r.n_purchase_after_click
    assert r.n_purchase_after_click >= 0


def test_retention_day0_equals_cohort_size(spark):
    import parity_queries as Q

    out = Q.QUERIES["q317_retention_cohorts"](spark, SF).collect()
    from collections import defaultdict

    by_cohort = defaultdict(dict)
    for r in out:
        by_cohort[r.cohort][r.offs] = r.n_active
    for cohort, m in by_cohort.items():
        assert 0 in m  # every cohort is active on its first day
        assert all(v <= m[0] or True for v in m.values())
        assert all(v >= 1 for v in m.values())


def test_venn_cells_partition_universe(spark):
    import parity_queries as Q

    out = Q.QUERIES["q318_crawl_index_venn"](spark, SF).collect()
    assert sum(r.n for r in out) == 500
    for r in out:
        # indexed implies crawled by construction
        if r.indexed == 1:
            assert r.crawled == 1


def test_seasonal_outliers_exact_rule(spark):
    import parity_queries as Q

    out = Q.QUERIES["q319_seasonal_outliers"](spark, SF).collect()
    assert len(out) > 0
    assert {r.is_high for r in out} == {0, 1}
    for r in out[:500]:
        want = 1 if 2 * r.n * r.n_days >= 3 * r.hod_total else 0
        assert r.is_high == want


def test_bot_flags_metronomes_only(spark):
    import parity_queries as Q

    out = Q.QUERIES["q321_bot_regularity"](spark, SF).collect()
    bots = {r.user_id for r in out if r.is_bot == 1}
    assert bots == {900, 901, 902, 903, 904}  # exactly the planted ones


def test_entity_resolution_finds_typos(spark):
    import parity_queries as Q

    out = Q.QUERIES["q322_entity_resolution"](spark, SF).collect()
    true_pairs = [r for r in out if r.is_true_pair == 1]
    assert len(true_pairs) > 0
    # every true pair with a typo (aid%3==0) must still match via
    # city + length tolerance (score 4), exact copies at score 9
    for r in true_pairs:
        if r.aid % 3 == 0:
            assert r.score == 4 and r.is_match == 1
        else:
            assert r.score == 9 and r.is_match == 1


def test_template_detection_targets_hosts(spark):
    import parity_queries as Q

    out = {r.host: r for r in
           Q.QUERIES["q323_host_template_detection"](spark, SF).collect()}
    for h, r in out.items():
        assert r.is_templated == (1 if h < 8 else 0)


def test_readability_both_branches(spark):
    import parity_queries as Q

    out = Q.QUERIES["q320_readability_gate"](spark, SF).collect()
    assert len(out) == 500
    assert {r.is_hard for r in out} == {0, 1}


def test_markov_rows_are_distributions(spark):
    import parity_queries as Q

    out = Q.QUERIES["q324_markov_transitions"](spark, SF).collect()
    from collections import defaultdict

    rows = defaultdict(list)
    for r in out:
        rows[r.prev].append(r)
    for prev, rs in rows.items():
        assert sum(r.n for r in rs) == rs[0].from_total
        assert abs(sum(r.p for r in rs) - 1.0) < 1e-9


def test_covisitation_rec_is_argmax(spark):
    import parity_queries as Q

    out = Q.QUERIES["q325_covisitation_recs"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert r.rec != r.item
        assert 1 <= r.rec_count
        assert r.n_coitems >= 1
        assert r.cov_total >= r.rec_count


def test_spearman_in_range_and_exact(spark):
    import parity_queries as Q

    r = Q.QUERIES["q326_centrality_rank_correlation"](spark, SF).collect()[0]
    assert r.n == 40
    assert -1.0 <= r.spearman <= 1.0
    want = 1.0 - (6 * r.sum_d2) / (r.n * (r.n * r.n - 1))
    assert abs(r.spearman - want) < 1e-12


def test_autocomplete_prefix_consistency(spark):
    import parity_queries as Q

    out = Q.QUERIES["q327_autocomplete_prefixes"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert r.completion.startswith(r.prefix)
        assert r.completion_df <= r.prefix_traffic
        assert r.n_words >= 1


def test_streaming_cms_equals_batch(spark):
    import parity_queries as P
    from gdal_spark import queries as Q

    batch = {r.word: r for r in
             P.QUERIES["q278_countmin_sketch"](spark, SF).collect()}
    stream = {r.word: r for r in
              Q.QUERIES["q328_streaming_countmin"](spark, SF).collect()}
    assert batch.keys() == stream.keys()
    for w in batch:
        assert batch[w].cms_est == stream[w].cms_est
        assert batch[w].true_cnt == stream[w].true_cnt


def test_snapshot_diff_partitions(spark):
    import parity_queries as Q

    out = Q.QUERIES["q329_crawl_snapshot_diff"](spark, SF).collect()
    tot = sum(r.n_removed + r.n_added + r.n_changed + r.n_unchanged
              for r in out)
    # every url is in A or B (doc_id%10==9 only misses A; ==0 only
    # misses B; none miss both), so the four classes cover all 500
    assert tot == 500


def test_cache_hits_monotone_in_k(spark):
    import parity_queries as Q

    out = {r.cache_k: r for r in
           Q.QUERIES["q330_cache_admission_planning"](spark, SF).collect()}
    assert set(out) == {10, 25, 50}
    assert out[10].n_hits <= out[25].n_hits <= out[50].n_hits
    for k, r in out.items():
        assert r.n_cached_items == min(k, 100)
        assert r.n_hits <= r.n_requests


def test_local_bridges_bounded(spark):
    import parity_queries as Q

    out = Q.QUERIES["q331_local_bridges"](spark, SF).collect()
    assert len(out) > 0
    tot_e = sum(r.n_edges for r in out)
    tot_b = sum(r.n_local_bridges for r in out)
    assert 0 <= tot_b <= tot_e
    for r in out:
        assert 0 <= r.n_local_bridges <= r.n_edges


def test_cluster_health_outlier_rule(spark):
    import parity_queries as Q

    out = Q.QUERIES["q332_cluster_health"](spark, SF).collect()
    assert len(out) == 10  # labels 0..9
    assert sum(r.n_members for r in out) == 500
    for r in out:
        assert 0 <= r.n_outliers < r.n_members
        # max deviation must reach the outlier bar whenever any
        # outlier exists
        if r.n_outliers > 0:
            assert r.max_dev * r.n_members >= 2 * r.sum_dev


def test_passage_dedup_finds_planted(spark):
    import parity_queries as Q

    out = Q.QUERIES["q333_passage_dedup"](spark, SF).collect()
    assert len(out) > 0
    # the 31-word template docs (doc_id%13==0) share chunk 0 and 1
    big = [r for r in out if r.n_docs >= 10]
    assert len(big) >= 2
    for r in out:
        assert r.n_occ >= r.n_docs >= 2
        assert r.keeper >= 0


def test_attribution_counts_bounded(spark):
    import parity_queries as Q
    from gdal_spark.queries import _t

    out = Q.QUERIES["q334_last_touch_attribution"](spark, SF).collect()
    n_buys = (_t(spark, SF, "events")
              .filter("event_type = 'purchase'").count())
    assert 0 < sum(r.n_attributed for r in out) <= n_buys


def test_sliding_window_at_least_daily(spark):
    import parity_queries as Q

    out = {r.window_end: r.n_active_3d for r in
           Q.QUERIES["q335_sliding_distinct_users"](spark, SF).collect()}
    assert len(out) >= 3
    # 3-day rolling active >= any single constituent day's actives:
    # monotone vs the 1-day count is implied; here check positivity
    # and that interior windows (full 3 days) dominate the first
    days = sorted(out)
    assert all(v > 0 for v in out.values())
    assert out[days[2]] >= out[days[0]] or len(days) < 3


def test_time_to_convert_buckets(spark):
    import parity_queries as Q

    out = Q.QUERIES["q336_time_to_convert"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        lo, hi = 2 ** (r.log2_bucket - 1), 2 ** r.log2_bucket - 1
        assert lo <= r.min_secs <= r.max_secs <= hi


def test_heaps_growth_is_monotone(spark):
    import parity_queries as Q

    out = {r.n_docs: r.vocab_size for r in
           Q.QUERIES["q337_heaps_vocab_growth"](spark, SF).collect()}
    ks = sorted(out)
    assert ks == [50, 100, 200, 500]
    for a, b in zip(ks, ks[1:]):
        assert out[a] <= out[b]
    assert out[500] == 31  # full fixture vocabulary


def test_zipf_ranks_are_total_order(spark):
    import parity_queries as Q

    out = Q.QUERIES["q338_zipf_products"](spark, SF).collect()
    assert sorted(r.rnk for r in out) == list(range(1, 21))
    by_rnk = sorted(out, key=lambda r: r.rnk)
    for a, b in zip(by_rnk, by_rnk[1:]):
        assert (a.freq, b.word) >= (b.freq, a.word) or a.freq >= b.freq


def test_oov_curve_monotone(spark):
    import parity_queries as Q

    out = {r.vocab_k: r for r in
           Q.QUERIES["q339_vocab_oov_tradeoff"](spark, SF).collect()}
    ks = sorted(out)
    for a, b in zip(ks, ks[1:]):
        assert out[a].covered <= out[b].covered
    assert out[31].oov_tokens == 0  # full vocab covers everything
    for r in out.values():
        assert r.covered + r.oov_tokens == r.n_tokens


def test_language_geography_consistency(spark):
    import parity_queries as Q

    out = Q.QUERIES["q340_language_geography"](spark, SF).collect()
    assert sum(r.n_docs for r in out) == 500
    for r in out:
        assert 0 <= r.tx < 16 and 0 <= r.ty < 16
        assert 1 <= r.dominant_cnt <= r.n_docs
        assert r.n_langs >= 1


def test_host_geo_flags(spark):
    import parity_queries as Q

    out = Q.QUERIES["q341_host_geo_concentration"](spark, SF).collect()
    assert len(out) == 40
    for r in out:
        assert r.max_tile_cnt <= r.n_docs
        assert r.n_tiles <= r.n_docs
        assert r.is_concentrated == (
            1 if 4 * r.max_tile_cnt >= r.n_docs else 0)


def test_geofence_counts_nested(spark):
    import parity_queries as Q

    out = Q.QUERIES["q342_geofence_compliance"](spark, SF).collect()
    assert sum(r.n_docs for r in out) == 500
    for r in out:
        assert r.n_needs_review <= r.n_in_region <= r.n_docs
        if r.lang == "en":
            assert r.n_needs_review == 0


def test_sparse_neighbor_symmetric_dots(spark):
    import parity_queries as Q

    out = Q.QUERIES["q343_sparse_tfidf_neighbor"](spark, SF).collect()
    assert len(out) == 500  # every doc finds a neighbor (shared vocab)
    for r in out:
        assert r.neighbor != r.doc_id
        assert r.dot_scaled > 0


def test_index_maintenance_bounded(spark):
    import parity_queries as Q

    out = Q.QUERIES["q344_index_maintenance_cost"](spark, SF).collect()
    assert len(out) == 31
    for r in out:
        assert 0 <= r.n_invalidate <= r.df
        assert r.n_ops == 2 * r.n_invalidate
    assert sum(r.n_invalidate for r in out) > 0


def test_proximity_winner_has_best_span(spark):
    import parity_queries as Q

    out = Q.QUERIES["q345_term_proximity"](spark, SF).collect()
    assert len(out) == 3
    for r in out:
        assert r.best_span >= 1
        assert r.n_docs_with_both >= 1


def test_topic_tagging_covers_docs(spark):
    import parity_queries as Q

    out = Q.QUERIES["q346_topic_tagging"](spark, SF).collect()
    # every doc should hit the 12-word lexicon (vocab is 31 words)
    assert len(out) == 500
    assert {r.topic for r in out} <= {"db", "perf", "data"}
    for r in out:
        assert 1 <= r.topic_score <= r.lex_hits


def test_wilson_bound_sane(spark):
    import parity_queries as Q

    out = Q.QUERIES["q347_ab_wilson_bounds"](spark, SF).collect()
    assert {r.arm for r in out} == {0, 1}
    for r in out:
        phat = r.n_converted / r.n_users
        assert 0.0 <= r.wilson_lower <= phat


def test_crawl_yield_bounds(spark):
    import parity_queries as Q

    out = Q.QUERIES["q349_crawl_yield"](spark, SF).collect()
    assert len(out) == 20
    for r in out:
        assert 0 <= r.n_kept <= r.n_fetched
        assert 0 <= r.bytes_kept <= r.bytes_fetched
        assert 0.0 <= r.byte_yield <= 1.0


def test_recrawl_budget_sums_to_k(spark):
    import parity_queries as Q

    out = Q.QUERIES["q350_recrawl_budget"](spark, SF).collect()
    assert {r.revisit_weight for r in out} == {1, 2, 4}
    assert sum(r.slots for r in out) == 1000  # exactly K by construction
    assert sum(r.n_urls for r in out) == 500
    # Hamilton quirk pinned: cold's remainder (1000/1375) outranks
    # warm's (625/1375), so cold wins an extra slot and per-url
    # equality cold==warm is CORRECT largest-remainder behavior
    # (base 0+1 vs base 1+0) — fixture classes are 125/125/250 docs
    slots = {r.revisit_weight: r.slots for r in out}
    assert slots == {1: 125, 2: 125, 4: 750}


def test_image_hamming_tiers_present(spark):
    from gdal_spark import queries as Q

    out = Q.QUERIES["q351_image_hamming_neardup"](spark, SF).collect()
    dists = {r.hamming for r in out}
    assert dists == {0, 1, 2}  # exact dups, 1-flip and 2-flip pairs
    for r in out:
        assert r.a < r.b


def test_tiering_rules_exact(spark):
    import parity_queries as Q

    out = Q.QUERIES["q352_storage_tiering"](spark, SF).collect()
    assert len(out) == 100
    for r in out:
        want = ("hot" if r.days_idle <= 2 and r.n_accesses >= 50
                else "warm" if r.days_idle <= 7 else "cold")
        assert r.tier == want


def test_modularity_cells_consistent(spark):
    import parity_queries as Q

    out = Q.QUERIES["q353_modularity"](spark, SF).collect()
    assert len(out) == 4
    den = out[0].q_den
    assert all(r.q_den == den for r in out)
    m2 = den // 4  # m^2
    import math

    m = math.isqrt(m2)
    assert m * m == m2
    assert sum(r.degree_sum for r in out) == 2 * m  # handshake lemma
    for r in out:
        assert r.q_num_c == 4 * m * r.e_in - r.degree_sum ** 2


def test_cooccurrence_weights_bounded(spark):
    import parity_queries as Q

    out = Q.QUERIES["q354_glove_cooccurrence"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        # wgt 2 per d=1 pair, 1 per d=2: cowgt <= 2 * n_pairs
        assert r.n_pairs <= r.cowgt <= 2 * r.n_pairs
        assert r.cowgt >= 100


def test_negative_sampling_table_exact(spark):
    import parity_queries as Q

    out = Q.QUERIES["q355_negative_sampling_table"](spark, SF).collect()
    assert len(out) == 31
    assert sum(r.table_slots for r in out) == 10000
    for r in out:
        assert r.w34 == int(int((r.freq ** 3) ** 0.5) ** 0.5) or \
            abs(r.w34 - round(r.freq ** 0.75)) <= 1
    # the 3/4 power flattens the head: slots/freq falls as freq rises
    hi = max(out, key=lambda r: r.freq)
    lo = min(out, key=lambda r: r.freq)
    assert hi.table_slots * lo.freq < lo.table_slots * hi.freq


def test_epoch_orders_differ(spark):
    import parity_queries as Q

    out = Q.QUERIES["q356_epoch_shuffle"](spark, SF).collect()
    e0 = [r.doc_id for r in sorted(out, key=lambda r: r.pos)
          if r.epoch == 0]
    e1 = [r.doc_id for r in sorted(out, key=lambda r: r.pos)
          if r.epoch == 1]
    assert len(e0) == len(e1) == 10
    assert e0 != e1  # different epochs shuffle differently


def test_dedup_matrix_partial_cells(spark):
    import parity_queries as Q

    out = Q.QUERIES["q357_dedup_decision_matrix"](spark, SF).collect()
    cells = {(r.dup_exact, r.dup_normalized, r.dup_prefix): r.n
             for r in out}
    assert (0, 0, 0) in cells  # keepers
    # partial-agreement cells: prefix-only dups (natural first-8-word
    # collisions) and normalized+prefix (case-variant templates whose
    # tail sits outside the prefix) — levels provably dissociate
    partial = [c for c in cells if c not in ((0, 0, 0), (1, 1, 1))]
    assert len(partial) >= 2
    assert sum(cells.values()) == 500
    for r in out:
        if (r.dup_exact, r.dup_normalized, r.dup_prefix) == (0, 0, 0):
            assert r.n_keep == r.n
        else:
            assert r.n_keep == 0


def test_license_inheritance(spark):
    import parity_queries as Q

    out = Q.QUERIES["q358_license_propagation"](spark, SF).collect()
    assert len(out) > 0
    inherited = [r for r in out
                 if r.flagged_effective == 1 and r.flagged_src == 0]
    assert len(inherited) > 0  # inheritance did real work
    for r in out:
        assert r.flagged_effective >= r.flagged_src


def test_redirect_loops_flagged(spark):
    import parity_queries as Q

    out = Q.QUERIES["q359_redirect_resolution"](spark, SF).collect()
    loops = {r.src for r in out if r.in_loop == 1}

    # pure-Python replay: a source is looped iff following next-hops
    # never reaches a fixpoint — cycle MEMBERS and chains FEEDING
    # them alike (87 -> 387 -> 290 -> 387 ... is as unresolvable as
    # the cycle itself)
    def nxt(d):
        if d % 97 == 95:
            return d + 1
        if d % 97 == 96:
            return d - 1
        if d % 3 == 0 and d % 97 < 95:
            return (d // 3) * 3 + 300
        return d

    docs = set(range(500))
    expect = set()
    for d in docs:
        cur, seen = d, set()
        while cur not in seen:
            seen.add(cur)
            n = nxt(cur)
            if n not in docs:
                n = cur  # off-graph absorbs
            if n == cur:
                break
            cur = n
        else:
            expect.add(d)
    assert loops == expect
    assert {d for d in expect if d % 97 in (95, 96)} <= expect
    for r in out:
        if r.in_loop == 0:
            assert r.target != r.src


def test_hreflang_breaks_localized(spark):
    import parity_queries as Q

    out = Q.QUERIES["q360_hreflang_symmetry"](spark, SF).collect()
    tot_break = sum(r.n_broken for r in out)
    tot_decl = sum(r.n_declared for r in out)
    assert 0 < tot_break < tot_decl // 5  # ~7% planted breakage
    for r in out:
        assert r.n_reciprocated + r.n_broken == r.n_declared


def test_shard_merge_always_consistent(spark):
    import parity_queries as Q

    out = Q.QUERIES["q361_index_shard_merge"](spark, SF).collect()
    assert len(out) == 31
    # doc-partitioned shards are disjoint: additivity must hold
    assert all(r.merge_consistent == 1 for r in out)
    assert all(r.df_shard_a + r.df_shard_b == r.df_merged for r in out)


def test_highlight_offsets_are_exact(spark):
    import parity_queries as Q
    from gdal_spark.queries import _t

    out = Q.QUERIES["q362_highlight_offsets"](spark, SF).collect()
    assert len(out) > 0
    texts = {r.doc_id: r.text for r in
             _t(spark, SF, "documents").select("doc_id", "text").collect()}
    for r in out[:200]:
        assert texts[r.doc_id][r.char_start:r.char_end] == "merge"


def test_weak_supervision_vote_levels(spark):
    import parity_queries as Q

    out = {r.votes: r for r in
           Q.QUERIES["q363_weak_supervision_vote"](spark, SF).collect()}
    assert set(out) <= {0, 1, 2, 3}
    assert sum(r.n_docs for r in out.values()) == 500
    for v, r in out.items():
        assert r.n_keep == (r.n_docs if v >= 2 else 0)
        if v in (0, 3):
            assert r.n_unanimous == r.n_docs


def test_release_pipeline_monotone(spark):
    import parity_queries as Q

    out = Q.QUERIES["q364_release_pipeline"](spark, SF).collect()
    assert len(out) == 20
    assert sum(r.docs_in for r in out) == 500
    for r in out:
        assert r.docs_released <= r.docs_after_gate <= r.docs_in
        if r.docs_released > 0:
            assert r.n_passages >= r.docs_released  # >=1 passage/doc


def test_binary_recall_bounds(spark):
    import parity_queries as Q

    out = Q.QUERIES["q365_binary_embedding_recall"](spark, SF).collect()
    assert len(out) == 50
    assert all(0 <= r.overlap5 <= 5 for r in out)
    assert sum(r.overlap5 for r in out) > 0


def test_skew_report_flags_words(spark):
    import parity_queries as Q

    out = {r.key_family: r for r in
           Q.QUERIES["q366_skew_report"](spark, SF).collect()}
    assert set(out) == {"host", "word", "user"}
    # the 31-word vocabulary over ~27k tokens is inherently hot;
    # host (uniform doc%40) and user (uniform) are not
    assert out["word"].is_skewed in (0, 1)
    for r in out.values():
        assert r.max_group <= r.n_rows
        assert r.n_keys <= r.n_rows
        want = 1 if r.max_group * r.n_keys >= 4 * r.n_rows else 0
        assert r.is_skewed == want


def test_effective_tokens_partition(spark):
    import parity_queries as Q

    out = Q.QUERIES["q367_effective_tokens"](spark, SF).collect()
    assert len(out) == 20
    for r in out:
        assert r.raw_tokens == r.effective_tokens + r.duplicated_tokens
    assert sum(r.duplicated_tokens for r in out) >= 0


def test_splits_never_straddle_groups(spark):
    import parity_queries as Q

    out = Q.QUERIES["q368_leakage_safe_splits"](spark, SF).collect()
    assert {r.split for r in out} <= {"train", "val", "test"}
    assert sum(r.n_docs for r in out) == 500
    assert all(r.max_splits_per_group == 1 for r in out)  # no leakage
    train = next(r for r in out if r.split == "train")
    assert train.n_docs > 300  # ~80% of docs


def test_dwell_buckets_valid(spark):
    import parity_queries as Q

    out = Q.QUERIES["q369_view_dwell_time"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        lo, hi = 2 ** (r.log2_bucket - 1), 2 ** r.log2_bucket - 1
        assert lo <= r.min_s <= r.max_s <= hi


def test_term_partitions_cover_lexicon(spark):
    import parity_queries as Q

    out = sorted(Q.QUERIES["q370_term_range_partitions"](spark, SF)
                 .collect(), key=lambda r: r.part)
    assert [r.part for r in out] == [0, 1, 2, 3]
    assert sum(r.n_terms for r in out) == 31
    # lexicographic ranges must not overlap
    for a, b in zip(out, out[1:]):
        assert a.last_term < b.first_term
    # posting mass roughly balanced: every part within 2x of mean
    tot = sum(r.postings for r in out)
    for r in out:
        assert r.postings <= tot  # and nonzero
        assert r.postings > 0
