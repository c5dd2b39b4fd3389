"""Round-4d spec pins: set-type rounding classes, check-geometry flag
targeting, dissolve invariants, frontier schedule contracts."""

from parity_queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_set_type_signed_vs_unsigned_rounding(spark):
    rows = QUERIES["q259_raster_set_type"](spark, SF).collect()
    assert rows
    for r in rows:
        # byte channel: always in range, NaN class maps to 0
        assert 0 <= r["b"] <= 255
        assert -32768 <= r["i16"] <= 32767
    # the positive saturation rail is reached (max v*1000 ~ 55714);
    # the negative values stay in range and round half away from zero
    # (v = -30 exactly -> -30000, not -29999)
    i16s = {r["i16"] for r in rows}
    assert 32767 in i16s
    assert min(i16s) == -30000
    # the NaN class exists and lands at (0, 0)
    assert any(r["b"] == 0 and r["i16"] == 0 for r in rows)


def test_check_geometry_flags_fire_on_known_classes(spark):
    rows = {r["id"]: r for r in
            QUERIES["q262_check_geometry"](spark, SF).collect()}
    assert len(rows) == 50
    for fid, r in rows.items():
        k = fid % 5
        assert r["valid"] == (1 if k == 0 else 0), (fid, r)
        if k == 1:   # bowtie: closed, enough points, no dup, CROSSES
            assert (r["closed"], r["enough_pts"], r["no_dup"],
                    r["no_selfx"]) == (1, 1, 1, 0)
        elif k == 2:  # duplicate consecutive vertex
            assert r["no_dup"] == 0 and r["closed"] == 1
        elif k == 3:  # unclosed
            assert r["closed"] == 0
        elif k == 4:  # degenerate 3-point ring
            assert r["enough_pts"] == 0


def test_dissolve_invariants(spark):
    rows = QUERIES["q263_vector_dissolve"](spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        # union area can never exceed the summed rect areas and a part
        # needs at least one rect
        assert 1 <= r["n_parts"] <= r["n_rects"]
        assert r["union_area"] >= 9  # smallest rect is 3x3


def test_frontier_schedule_contracts(spark):
    rows = QUERIES["q252_frontier_schedule"](spark, SF).collect()
    # one tick per request per thread, contiguous from 1
    from collections import defaultdict
    per_thread = defaultdict(list)
    per_host = defaultdict(list)
    for r in rows:
        per_thread[r["thread"]].append(r["tick"])
        per_host[r["host"]].append(r["host_slot"])
        assert r["thread"] == r["host"] % 8
    for t, ticks in per_thread.items():
        assert sorted(ticks) == list(range(1, len(ticks) + 1))
    for h, slots in per_host.items():
        assert sorted(slots) == list(range(len(slots)))
