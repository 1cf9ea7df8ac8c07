"""The generator: same seed, same bytes; and its recorded ground truth."""

import json

import pytest

from perfbench import gen

SMALL = {"full_build": 120, "near_dup_filter": 120, "sameas_dense": 600}


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_gives_byte_identical_inputs(workload, tmp_path):
    a, b, c = (
        gen.GENERATORS[workload](str(tmp_path / name), seed, SMALL[workload])
        for name, seed in (("a", 7), ("b", 7), ("c", 8))
    )
    digest = {name: gen.tree_digest(str(tmp_path / name)) for name in "abc"}
    assert digest["a"] == digest["b"] != digest["c"]
    assert a.stats == b.stats != c.stats


def test_kg_mix_counts_planted_malformed_blocks(tmp_path):
    from jsonld_rs_spark.extract import extract_jsonld_blocks
    from perfbench.checks import latest_html

    inp = gen.kg_mix(str(tmp_path), 3, 200)
    html = latest_html(inp, inp.latest_urls)
    bad = 0
    for page in html.values():
        for body in extract_jsonld_blocks(page):
            try:
                json.loads(body)
            except ValueError:
                bad += 1
    assert bad == inp.planted_malformed > 0
    assert inp.stats["recrawl_share"] > 0
    assert inp.n_pages > len(inp.latest_urls)


def test_sameas_dense_reaches_its_edge_target(tmp_path):
    inp = gen.sameas_dense(str(tmp_path), 5, 900)
    assert len(inp.sameas_edges) == len(set(inp.sameas_edges)) >= 900
    assert inp.stats["largest_component"] >= 3


def test_near_dup_plants_its_share(tmp_path):
    inp = gen.near_dup(str(tmp_path), 2, 500, 0.2)
    assert 0.1 < inp.stats["near_dup_share"] < 0.3
    assert inp.n_docs == inp.n_pages == 500


def test_union_find_labels_by_min_node():
    labels = gen.union_find([("b", "c"), ("d", "a"), ("c", "d"), ("x", "y")])
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}
