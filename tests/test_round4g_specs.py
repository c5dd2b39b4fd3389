"""Round-4g spec pins: stack-distance curve contracts, MRR eval
contracts."""

from gdal_spark import queries as _registry
import parity_queries

QUERIES = {**_registry.QUERIES, **parity_queries.QUERIES}

SF = "/root/testdata/sf0.001"


def test_stack_distance_contracts(spark):
    rows = {r["bucket"]: r for r in
            QUERIES["q371_stack_distance"](spark, SF).collect()}
    # every cache tier of the curve is populated by the 4-class mix
    assert set(rows) == {"cold", "lt4", "lt16", "lt64", "ge64"}
    # cold misses carry the -1 sentinel only
    assert rows["cold"]["min_d"] == rows["cold"]["max_d"] == -1
    # the hot item repeats every 4 positions -> exactly 3 distinct between
    assert rows["lt4"]["min_d"] == rows["lt4"]["max_d"] == 3
    # bucket edges respected
    assert 4 <= rows["lt16"]["min_d"] and rows["lt16"]["max_d"] < 16
    assert 16 <= rows["lt64"]["min_d"] and rows["lt64"]["max_d"] < 64
    assert rows["ge64"]["min_d"] >= 64
    # every access is classified exactly once
    total = sum(r["n_accesses"] for r in rows.values())
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert total == n_events


def test_ranking_mrr_contracts(spark):
    r = QUERIES["q372_ranking_mrr"](spark, SF).collect()[0]
    assert r["n_queries"] == 20
    # hits monotone in k
    assert r["hits_at1"] <= r["hits_at5"] <= r["hits_at10"] <= r["n_queries"]
    # MRR bounds: 0 <= mrr <= 1, exact numerator consistent with the float
    assert 0 <= r["mrr_x2520"] <= 2520 * r["n_queries"]
    assert abs(r["mrr"] - r["mrr_x2520"] / (2520.0 * r["n_queries"])) == 0.0
    # a perfect ranker would put every editorial doc at rank 1; the
    # (tf desc, id asc) ranker must NOT be degenerate-perfect or the
    # eval measures nothing
    assert r["hits_at1"] < r["n_queries"]
    assert r["mrr_x2520"] > 0


def test_position_bias_contracts(spark):
    rows = {r["serp_pos"]: r for r in
            QUERIES["q373_position_bias_ctr"](spark, SF).collect()}
    assert set(rows) == set(range(1, 11))
    # rank 1 is the propensity anchor: bias exactly 1.0
    assert rows[1]["bias_vs_pos1"] == 1.0
    # examination decays with position: every lower rank clicks less
    # often than rank 1 (Latin-square rotation removes the relevance
    # confound, so the decay IS the position bias)
    for p in range(2, 11):
        assert rows[p]["bias_vs_pos1"] < 1.0
        assert 0 <= rows[p]["n_clicks"] <= rows[p]["n_impr"]
    # the rotation balances impressions across positions
    assert len({r["n_impr"] for r in rows.values()}) == 1


def test_latency_percentiles_contracts(spark):
    rows = QUERIES["q374_latency_percentiles"](spark, SF).collect()
    assert len(rows) >= 3
    total = 0
    for r in rows:
        # percentiles monotone in q, all within the bounded domain
        assert 0 <= r["p50"] <= r["p90"] <= r["p99"] <= r["p999"] <= 9999
        # body is sub-1000; the 5% spike tail must lift p999 past it
        assert r["p50"] < 1000
        assert r["p999"] >= 1000
        total += r["n_requests"]
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert total == n_events


def test_snapshot_gc_contracts(spark):
    rows = QUERIES["q375_snapshot_gc"](spark, SF).collect()
    assert len(rows) == 16
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r["n_files"] for r in rows) == n_events
    for r in rows:
        # the three lifecycle classes partition the ledger
        assert (r["live_head"] + r["pinned_by_retention"]
                + r["reclaim_files"]) == r["n_files"]
        # reclaimable bytes only from reclaimable files
        assert r["reclaim_bytes"] >= 1000 * r["reclaim_files"]
        # never-deleted files (event_id % 3 == 0) guarantee live mass
        assert r["live_head"] > 0


def test_quadtree_contracts(spark):
    rows = {r["depth"]: r for r in
            QUERIES["q376_quadtree_build"](spark, SF).collect()}
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r["n_points"] for r in rows.values()) == n_events
    assert all(0 <= d <= 6 for d in rows)
    # non-overflow leaves respect capacity; only depth-6 may overflow
    for d, r in rows.items():
        assert r["min_cell_pts"] >= 1
        if d < 6:
            assert r["max_cell_pts"] <= 64
    # the 64x64 hotspot (30% of points) lands in ONE depth-6 cell
    assert 6 in rows
    assert rows[6]["max_cell_pts"] >= (3 * n_events) // 10


def test_language_gini_contracts(spark):
    rows = QUERIES["q377_language_gini"](spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        # Gini bounded [0, 1); HHI bounded (1/k, 1]
        assert 0.0 <= r["gini"] < 1.0
        assert 1.0 / r["n_langs"] <= r["hhi"] <= 1.0
        # single-language source would be gini 0 / hhi 1 exactly
        if r["n_langs"] == 1:
            assert r["gini"] == 0.0 and r["hhi"] == 1.0


def test_span_corruption_contracts(spark):
    rows = QUERIES["q378_span_corruption_plan"](spark, SF).collect()
    assert rows
    for r in rows:
        # token accounting identity: input + 2*spans == raw;
        # corrupted = 3 * spans
        s_total = r["corrupted_tokens"] // 3
        assert r["corrupted_tokens"] == 3 * s_total
        assert r["input_tokens"] == r["raw_tokens"] - 2 * s_total
        assert r["target_tokens"] == 4 * s_total + r["n_docs"]
        # the non-overlap PROOF: span starts at least 20 apart
        # (span length 3), or -1 when every doc has a single span
        assert r["min_start_gap"] == -1 or r["min_start_gap"] >= 20


def test_exact_auc_contracts(spark):
    r = QUERIES["q379_exact_auc"](spark, SF).collect()[0]
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert r["n_pos"] + r["n_neg"] == n_docs
    assert r["n_pos"] > 0 and r["n_neg"] > 0
    # pair accounting bounded by P*N
    assert 0 <= r["concordant_pairs"] + r["tied_pairs"] \
        <= r["n_pos"] * r["n_neg"]
    # the label model correlates with score: meaningfully above chance
    assert 0.5 < r["auc"] < 1.0
    # AUC is exactly the cross-multiplied integers
    expect = (2 * r["concordant_pairs"] + r["tied_pairs"]) \
        / (2.0 * r["n_pos"] * r["n_neg"])
    assert r["auc"] == expect


def test_shuffle_sharding_contracts(spark):
    r = QUERIES["q380_shuffle_sharding"](spark, SF).collect()[0]
    n = r["n_customers"]
    # the three blast classes PARTITION all customer pairs
    assert (r["full_blast_pairs"] + r["partial_blast_pairs"]
            + r["isolated_pairs"]) == r["total_pairs"] == n * (n - 1) // 2
    assert r["isolated_pairs"] > 0  # isolation exists = sharding works
    assert 1 <= r["n_assignments"] <= 120
    assert r["min_load"] >= 1 and r["max_load"] >= r["min_load"]


def test_calibration_ece_contracts(spark):
    rows = QUERIES["q381_calibration_ece"](spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["n"] for r in rows) == n_docs
    # 10 per-mille deciles, all populated by the LCG confidence model
    assert sorted(r["bucket"] for r in rows) == list(range(10))
    ece = rows[0]["ece"]
    for r in rows:
        assert r["ece"] == ece  # scalar broadcast to every bucket row
        assert 0.0 <= r["accuracy"] <= 1.0
        assert r["bucket"] / 10.0 <= r["mean_conf"] < (r["bucket"] + 1) / 10.0
        # gap numerator is the exact integer |1000*correct - conf_sum|
        assert r["gap_num"] == abs(1000 * r["correct"] - r["conf_sum"])
    # the +100 per-mille offset makes low buckets UNDERconfident
    # (accuracy > mean_conf) and high buckets OVERconfident
    by_b = {r["bucket"]: r for r in rows}
    assert by_b[0]["accuracy"] > by_b[0]["mean_conf"]
    assert by_b[9]["accuracy"] < by_b[9]["mean_conf"]
    # ECE is the exact weighted identity over the emitted integers
    n_total = sum(r["n"] for r in rows)
    assert ece == sum(r["gap_num"] for r in rows) / (1000.0 * n_total)
    assert 0.0 < ece < 1.0


def test_interval_coverage_contracts(spark):
    rows = QUERIES["q382_interval_coverage"](spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    # replay the sweep per user in pure Python on the SAME interval spec
    from collections import defaultdict
    ivs = defaultdict(list)
    for r in ev:
        s = int(r["ts"].timestamp())
        ivs[r["user_id"]].append((s, s + 60 + (r["event_id"] % 10) * 90))
    for row in rows:
        spans = sorted(ivs[row["user_id"]])
        merged = []
        for s, e in spans:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        assert row["n_islands"] == len(merged)
        assert row["covered_seconds"] == sum(e - s for s, e in merged)
        assert row["longest_island"] == max(e - s for s, e in merged)
    # intervals DO overlap (islands < events) and gaps DO exist
    n_events = len(ev)
    assert sum(r["n_islands"] for r in rows) < n_events
    assert any(r["n_islands"] > 1 for r in rows)


def test_chao1_richness_contracts(spark):
    r = QUERIES["q383_chao1_richness"](spark, SF).collect()[0]
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    # one observation per doc
    assert r["n_obs"] == n_docs
    # all three frequency classes populated at every SF
    assert r["f1"] > 0 and r["f2"] > 0
    assert r["n_species"] > r["f1"] + r["f2"]  # the 4-obs class exists
    # chao1 never estimates FEWER species than observed
    assert r["chao1"] >= r["n_species"]
    # every float is the single division of the emitted integers
    assert r["chao1"] == (
        r["n_species"] * 2 * (r["f2"] + 1) + r["f1"] * (r["f1"] - 1)
    ) / (2.0 * (r["f2"] + 1))
    assert r["missing_mass"] == r["f1"] / float(r["n_obs"])
    assert r["gt_coverage"] == (r["n_obs"] - r["f1"]) / float(r["n_obs"])
    assert 0.0 < r["missing_mass"] < 1.0
    # the construction: 10 singletons / 16 docs => mass > 1/2
    assert r["missing_mass"] > 0.5


def test_zonemap_skipping_contracts(spark):
    rows = QUERIES["q384_zonemap_skipping"](spark, SF).collect()
    assert len(rows) == 20
    by = {(r["kind"], r["probe"]): r for r in rows}
    n_files = rows[0]["n_files"]
    for r in rows:
        # pruning is SOUND: scanning the overlapped zones covers
        # every matching file and row
        assert r["files_scanned"] >= r["files_matching"]
        assert r["rows_scanned"] >= r["rows_matched"]
        assert r["files_scanned"] <= n_files
    for i in range(10):
        c, u = by[("clustered", i)], by[("unclustered", i)]
        # same 5%-of-domain probes: clustered zones skip, unclustered
        # zones (stride 35761 equidistributes per file) never do
        assert c["files_scanned"] <= u["files_scanned"]
        assert c["files_scanned"] <= n_files // 20 + 2
        assert u["files_scanned"] >= n_files - 1
        assert c["rows_matched"] > 0


def test_kcenter_coreset_contracts(spark):
    rows = {r["rnd"]: r for r in
            QUERIES["q385_kcenter_coreset"](spark, SF).collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    ids = [rows[r]["center_id"] for r in range(1, 6)]
    # five DISTINCT centers; seed is the minimum vec_id
    assert len(set(ids)) == 5
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert ids[0] == emb.agg({"vec_id": "min"}).collect()[0][0]
    # Gonzalez certificate: selection distances non-increasing,
    # and the final radius is covered by the last selection distance
    d = [rows[r]["sel_dist"] for r in range(2, 6)]
    assert all(d[i] >= d[i + 1] for i in range(len(d) - 1))
    assert all(x > 0 for x in d)
    fr = rows[1]["final_radius"]
    assert all(rows[r]["final_radius"] == fr for r in range(1, 6))
    assert 0 < fr <= d[-1]


def test_kanonymity_audit_contracts(spark):
    rows = {r["lvl"]: r for r in
            QUERIES["q386_kanonymity_audit"](spark, SF).collect()}
    assert sorted(rows) == [0, 1, 2, 3, 4]
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    for r in rows.values():
        assert r["n_rows"] == n_docs  # every level partitions the table
        assert (r["satisfies_k10"] == 1) == (r["violating_rows"] == 0)
    # refinement chain => violations monotone non-increasing
    for lvl in range(4):
        assert (rows[lvl]["violating_rows"]
                >= rows[lvl + 1]["violating_rows"])
        assert (rows[lvl]["violating_groups"]
                >= rows[lvl + 1]["violating_groups"])
        assert rows[lvl]["n_groups"] >= rows[lvl + 1]["n_groups"]
    # the coarsest level is one group of N and always satisfies
    assert rows[4]["n_groups"] == 1 and rows[4]["min_group"] == n_docs
    # the finest level genuinely violates at fixture scale
    assert rows[0]["violating_rows"] > 0
    # chosen level is the min satisfying level, consistent everywhere
    chosen = rows[0]["chosen_level"]
    assert all(r["chosen_level"] == chosen for r in rows.values())
    assert rows[chosen]["satisfies_k10"] == 1
    assert all(rows[l]["satisfies_k10"] == 0 for l in range(chosen))


def test_watermark_planning_contracts(spark):
    rows = {r["watermark_s"]: r for r in
            QUERIES["q387_watermark_planning"](spark, SF).collect()}
    assert sorted(rows) == [60, 300, 900, 3600]
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    prev = None
    for w in [60, 300, 900, 3600]:
        r = rows[w]
        assert r["n_events"] == n_events
        assert 0 <= r["n_dropped"] <= n_events
        assert r["drop_rate"] == r["n_dropped"] / float(n_events)
        assert r["max_kept_delay"] <= w
        assert (r["state_cost_event_seconds"]
                == (n_events - r["n_dropped"]) * w)
        if prev is not None:  # drops monotone non-increasing in W
            assert r["n_dropped"] <= prev
        prev = r["n_dropped"]
    # the two-regime delay model: 60 s keeps only the prompt 90%,
    # 3600 s drops nothing (tail delay < 3600 by construction)
    assert rows[60]["n_dropped"] > 0
    assert rows[3600]["n_dropped"] == 0
    # completeness costs state: the zero-drop policy is the priciest
    assert (rows[3600]["state_cost_event_seconds"]
            > rows[60]["state_cost_event_seconds"])


def test_merkle_replica_diff_contracts(spark):
    rows = {r["lvl"]: r for r in
            QUERIES["q388_merkle_replica_diff"](spark, SF).collect()}
    assert sorted(rows) == [0, 1, 2, 3, 4]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    n_bad = docs.filter("doc_id % 97 = 13").count()
    # leaf level: every corrupted doc differs, nothing else does
    assert rows[0]["n_nodes"] == n_docs and rows[0]["n_diff"] == n_bad
    assert n_bad > 0
    # each level's diff set is the ancestor closure of the one below:
    # nonempty all the way to the root, never larger than the child's
    for lvl in range(1, 5):
        assert rows[lvl]["n_diff"] >= 1
        assert rows[lvl]["n_diff"] <= rows[lvl - 1]["n_diff"]
        assert rows[lvl]["n_nodes"] <= (rows[lvl - 1]["n_nodes"] + 15) // 16 \
            or lvl == 4
    assert rows[4]["n_nodes"] == 1 and rows[4]["n_diff"] == 1


def test_geo_density_clusters_contracts(spark):
    rows = QUERIES["q389_geo_density_clusters"](spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    # exactly the three planted blobs, 100 degrees apart
    assert len(rows) == 3
    comps = sorted(r["component"] for r in rows)
    assert len(set(comps)) == 3
    n_blob_docs = n_docs * 3 // 10  # doc_id % 10 in {0,1,2}
    for r in rows:
        # each blob holds ~n/10 docs; dense cells capture most of it
        assert r["n_points"] >= n_docs // 20
        # blob span is 5x4 degrees => at most 2x2 cells of 5.625 deg
        assert r["max_cx"] - r["min_cx"] <= 1
        assert r["max_cy"] - r["min_cy"] <= 1
        assert 1 <= r["n_cells"] <= 4
    # clustered mass covers the planted blobs except at most one
    # sub-threshold minority cell per blob (each loses < thr points)
    thr = max(8, n_docs // 256)
    assert sum(r["n_points"] for r in rows) >= n_blob_docs - 3 * thr
    # clusters are disjoint in space (centers 100 degrees apart)
    xs = sorted((r["min_cx"], r["max_cx"]) for r in rows)
    for i in range(2):
        assert xs[i][1] < xs[i + 1][0]


def test_join_order_planning_contracts(spark):
    rows = {r["ord_label"]: r for r in
            QUERIES["q390_join_order_planning"](spark, SF).collect()}
    assert len(rows) == 8
    for r in rows.values():
        assert r["est_2"] > 0 and r["est_3"] > 0 and r["est_4"] > 0
        assert r["cost"] == r["est_2"] + r["est_3"] + r["est_4"]
    # the final-join estimate is segment-canonical: shared by ALL plans
    e4 = {r["est_4"] for r in rows.values()}
    assert len(e4) == 1
    # C-first and O-first orders tie by symmetry; lex rule breaks it
    assert rows["C>O>L>S"]["cost"] == rows["O>C>L>S"]["cost"]
    best = [r for r in rows.values() if r["is_best"] == 1]
    assert len(best) == 1
    mc = min(r["cost"] for r in rows.values())
    assert best[0]["cost"] == mc
    assert best[0]["ord_label"] == min(
        r["ord_label"] for r in rows.values() if r["cost"] == mc)


def test_delta_transfer_contracts(spark):
    rows = {r["edit_class"]: r for r in
            QUERIES["q391_delta_transfer"](spark, SF).collect()}
    assert set(rows) == {"unchanged", "insert_middle", "append"}
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows.values()) == n_docs
    # unchanged docs ship NOTHING
    assert rows["unchanged"]["transferred_blocks"] == 0
    # append touches only the tail: at most 2 blocks per doc
    ap = rows["append"]
    assert 0 < ap["transferred_blocks"] <= 2 * ap["n_docs"]
    # a middle insert shifts every later block boundary: ~half the doc
    ins = rows["insert_middle"]
    assert ins["transferred_blocks"] * 5 >= ins["v2_blocks"] * 2
    # the rsync ordering: insert >> append >> unchanged (rates)
    assert ins["transfer_rate"] > ap["transfer_rate"] > 0.0
    for r in rows.values():
        assert r["transfer_rate"] == (
            r["transferred_blocks"] / float(r["v2_blocks"]))


def test_simpsons_paradox_contracts(spark):
    rows = {r["stratum"]: r for r in
            QUERIES["q392_simpsons_paradox"](spark, SF).collect()}
    assert sorted(rows) == [-1, 0, 1]
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    pooled = rows[-1]
    assert pooled["n_a"] + pooled["n_b"] == n_docs
    assert (sum(rows[s]["n_a"] for s in range(2)) == pooled["n_a"])
    assert (sum(rows[s]["succ_b"] for s in range(2)) == pooled["succ_b"])
    # the paradox certificate: B wins BOTH strata, loses the pool
    for s in range(2):
        assert rows[s]["b_wins"] == 1
        assert rows[s]["n_a"] > 0 and rows[s]["n_b"] > 0
    assert pooled["b_wins"] == 0
    # the flip is driven by exposure skew: A concentrated in the
    # high-base stratum (share 9/10 there vs 1/10 in the low one)
    assert (rows[0]["n_a"] * (rows[1]["n_a"] + rows[1]["n_b"])
            < rows[1]["n_a"] * (rows[0]["n_a"] + rows[0]["n_b"]))


def test_reshard_migration_contracts(spark):
    r = QUERIES["q393_reshard_migration"](spark, SF).collect()[0]
    n = r["n_keys"]
    assert n == spark.read.parquet(f"{SF}/documents.parquet").count()
    # HRW optimality PROOF: moved keys are exactly the new-node keys
    assert r["moved_hrw"] == r["new_node_keys"]
    # minimal disruption: HRW moves ~4/20, mod moves almost everything
    assert 0 < r["moved_hrw"] < r["moved_mod"]
    assert r["moved_hrw"] * 10 < n * 3      # < 30%
    assert r["moved_mod"] * 10 > n * 6      # > 60%
    assert r["moved_mod_rate"] == r["moved_mod"] / float(n)
    assert r["moved_hrw_rate"] == r["moved_hrw"] / float(n)


def test_encoding_selection_contracts(spark):
    rows = {r["col_name"]: r for r in
            QUERIES["q394_encoding_selection"](spark, SF).collect()}
    assert set(rows) == {"lang", "src", "blk", "txt"}
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    for r in rows.values():
        assert r["n"] == n_docs
        # structural sanity: every run holds >= 1 value, every distinct
        # value appears in >= 1 run
        assert r["ndv"] <= r["runs"] <= r["n"]
        assert min(r["plain_bytes"], r["dict_bytes"], r["rle_bytes"]) > 0
    # each encoding wins where it should
    assert rows["lang"]["best_encoding"] == "dict"
    assert rows["src"]["best_encoding"] == "dict"
    assert rows["blk"]["best_encoding"] == "rle"
    assert rows["txt"]["best_encoding"] == "plain"
    # the sorted block column has exactly ceil(n/50) runs
    assert rows["blk"]["runs"] == (n_docs + 49) // 50


def test_kendall_tau_contracts(spark):
    r = QUERIES["q395_kendall_tau"](spark, SF).collect()[0]
    # 40 hosts => C(40,2) pairs, the five classes partition them
    assert r["n_pairs"] == 40 * 39 // 2
    assert (r["concordant"] + r["discordant"] + r["ties_x"]
            + r["ties_y"] + r["ties_xy"]) == r["n_pairs"]
    # tie correction is exercised (equal host doc-counts exist)
    assert r["ties_x"] + r["ties_y"] + r["ties_xy"] > 0
    # tau-b bounded and exactly the pinned sqrt expression
    import math
    expect = (r["concordant"] - r["discordant"]) / (
        math.sqrt(r["n_pairs"] - r["ties_x"] - r["ties_xy"])
        * math.sqrt(r["n_pairs"] - r["ties_y"] - r["ties_xy"]))
    assert r["tau_b"] == expect
    assert -1.0 <= r["tau_b"] <= 1.0


def test_cas_storage_contracts(spark):
    r = QUERIES["q396_cas_storage"](spark, SF).collect()[0]
    # refcount bins partition the unique-block store
    assert (r["refs_1"] + r["refs_2_3"] + r["refs_4_7"]
            + r["refs_8p"]) == r["unique_blocks"]
    # dedup exists (shared blocks) but the store is non-trivial
    assert 0 < r["unique_blocks"] < r["total_refs"]
    assert r["physical_bytes"] < r["logical_bytes"]
    assert r["dedup_ratio"] == (
        r["logical_bytes"] / float(r["physical_bytes"]))
    # deleting src0 frees something, but never the shared majority
    assert 0 < r["src0_exclusive_bytes"] < r["physical_bytes"]


def test_deletion_cascade_contracts(spark):
    r = QUERIES["q397_deletion_cascade"](spark, SF).collect()[0]
    # the closure covers everything its parents imply: ZERO orphans
    assert r["residual_orphans"] == 0
    # the delete set is non-trivial and cascades downward
    assert 0 < r["del_customers"] < r["n_customers"]
    assert 0 < r["del_orders"] < r["n_orders"]
    assert 0 < r["del_lineitems"] < r["n_lineitems"]
    # fan-out grows down the FK chain on TPC-H-shaped data
    assert r["del_orders"] >= r["del_customers"]
    assert r["del_lineitems"] >= r["del_orders"]
    # exact replay of the closure definition
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    assert r["del_customers"] == cust.filter("c_custkey % 50 = 7").count()


def test_equidepth_histogram_contracts(spark):
    rows = sorted(QUERIES["q398_equidepth_histogram"](spark, SF).collect(),
                  key=lambda r: r["bucket"])
    assert [r["bucket"] for r in rows] == list(range(1, 9))
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    # buckets tile the domain: lo chain = previous hi, rows sum to n
    for i, r in enumerate(rows):
        assert r["lo"] < r["hi"]
        if i:
            assert r["lo"] == rows[i - 1]["hi"]
    assert sum(r["bucket_rows"] for r in rows) == n_docs
    # equi-depth: every bucket holds >= 1 row and <= ~2n/8 (duplicates
    # can overfill a bucket, but never past one boundary step)
    for r in rows:
        assert r["bucket_rows"] >= 1
    # the no-interpolation estimate is an over-estimate, never under
    true = docs.filter("n_chars BETWEEN 100 AND 300").count()
    assert rows[0]["probe_true"] == true
    assert rows[0]["probe_est"] >= true
    assert rows[0]["probe_est"] <= n_docs


def test_pareto_frontier_contracts(spark):
    rows = sorted(QUERIES["q399_pareto_frontier"](spark, SF).collect(),
                  key=lambda r: r["len"])
    assert len(rows) >= 2  # thick frontier, not a single corner
    # frontier quality strictly increases with length
    for i in range(1, len(rows)):
        assert rows[i]["best_q"] > rows[i - 1]["best_q"]
        assert rows[i]["len"] > rows[i - 1]["len"]
    # pure-Python dominance replay: no frontier point dominated, and
    # every doc is dominated-or-equal by some frontier point
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    pts = [(r["n_chars"],
            (r["doc_id"] * 48271) % 500 + (600 - r["n_chars"]) // 2)
           for r in docs]
    fr = [(r["len"], r["best_q"]) for r in rows]
    for fl, fq in fr:
        assert not any((l <= fl and q >= fq and (l < fl or q > fq))
                       for l, q in pts)
    for l, q in pts:
        assert any(fl <= l and fq >= q for fl, fq in fr)
    # multiplicities count exactly the docs sitting ON each point
    from collections import Counter
    cnt = Counter(pts)
    for r in rows:
        assert r["n_docs"] == cnt[(r["len"], r["best_q"])]


def test_release_scorecard_contracts(spark):
    rows = {r["source"]: r for r in
            QUERIES["q400_release_scorecard"](spark, SF).collect()}
    assert len(rows) == 20
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["total"] for r in rows.values()) == n_docs
    passing = [r for r in rows.values() if r["release_ok"] == 1]
    failing = [r for r in rows.values() if r["release_ok"] == 0]
    assert passing and failing  # both outcomes occur
    for r in rows.values():
        # release flag is exactly the gate product
        assert r["release_ok"] == (r["gate_dup"] * r["gate_length"]
                                   * r["gate_diversity"]
                                   * r["gate_license"])
        # every gate replays its integer cross-multiplication
        assert r["gate_dup"] == int(5 * r["dups"] <= r["total"])
        assert r["gate_length"] == int(
            20 * r["short_docs"] <= 3 * r["total"])
        assert r["gate_diversity"] == int(
            10 * r["lang_sq_sum"] <= 3 * r["total"] * r["total"])
        assert r["gate_license"] == int(r["flagged"] == 0)
        # HHI lower bound: sum(c^2) >= total^2 / n_langs >= total
        assert r["lang_sq_sum"] >= r["total"]


def test_hex_binning_contracts(spark):
    rows = QUERIES["q401_hex_binning"](spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    n_docs = len(docs)
    assert sum(r["n_points"] for r in rows) == n_docs
    # pure-Python replay of the full float pipeline (same IEEE ops)
    import math
    from collections import Counter
    cnt = Counter()
    for d in docs:
        lon = ((d["doc_id"] * 9973) % 36000) / 100.0 - 180.0
        lat = ((d["doc_id"] * 7919) % 16000) / 100.0 - 80.0
        qf = lon * 0.11547005383792515 - lat * 0.06666666666666667
        rf = lat * 0.13333333333333333
        zf = -qf - rf
        rx, ry, rz = (math.floor(qf + 0.5), math.floor(rf + 0.5),
                      math.floor(zf + 0.5))
        dx, dy, dz = abs(rx - qf), abs(ry - rf), abs(rz - zf)
        if dx > dy and dx > dz:
            rx = -ry - rz
        elif dy > dz:
            ry = -rx - rz
        else:
            rz = -rx - ry
        assert rx + ry + rz == 0  # the cube invariant after repair
        cnt[(rx, ry)] += 1
    got = {(r["hq"], r["hr"]): r["n_points"] for r in rows}
    assert got == dict(cnt)
    for r in rows:
        assert r["hex_dist"] == (abs(r["hq"]) + abs(r["hr"])
                                 + abs(r["hq"] + r["hr"])) // 2


def test_geohash_contracts(spark):
    rows = QUERIES["q402_geohash_cells"](spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["n_points"] for r in rows) == n_docs
    # the roundtrip PROOF: encode/decode are inverses on every row
    assert all(r["rt_fail"] == 0 for r in rows)
    for r in rows:
        # prefix containment: a 3-char prefix covers >= its 6-char cells
        assert 1 <= r["n_cells"] <= r["n_points"]
        assert len(r["prefix"]) == 3
        assert all(c in "0123456789bcdefghjkmnpqrstuvwxyz"
                   for c in r["prefix"])
