"""Gopher repetition rules (q239/q240) — injection targeting spec."""

from parity_queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_dup_lines_paras_fire_exactly_on_injected_docs(spark):
    rows = QUERIES["q239_gopher_dup_lines"](spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        # line duplicates come only from the doc_id%4 injection (5-word
        # lines never repeat naturally in the fixture corpus)
        assert (r["dup_lines"] > 0) == (r["doc_id"] % 4 == 0), r
        assert (r["dup_paras"] > 0) == (r["doc_id"] % 6 == 0), r
        # every duplicated group has exactly 2 members here
        if r["doc_id"] % 4 == 0:
            assert r["dup_lines"] == 2
        if r["doc_id"] % 6 == 0:
            assert r["dup_paras"] == 2


def test_dup_ngram_coverage_fires_exactly_on_injected_docs(spark):
    rows = QUERIES["q240_gopher_ngram_rep"](spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        injected = r["doc_id"] % 5 == 0
        # 5..8-gram duplicate coverage exists iff the 8-word sentence
        # was injected twice; 9/10-grams cannot duplicate (the junction
        # gram occurs once)
        assert (r["dup5_num"] > 0) == injected, r
        assert (r["dup8_num"] > 0) == injected, r
        assert r["dup9_num"] == 0 and r["dup10_num"] == 0, r
        if injected:
            # the duplicated 8-word window covers 16 word slots once
            # each: 2 occurrences x 8 words, disjoint positions
            assert r["dup8_num"] == sum(
                len(w) for w in
                " call now and subscribe to our newsletter today".split()
            ) * 2
        # top n-gram numerators are positive for every doc
        assert r["top2_num"] > 0 and r["top4_num"] > 0
