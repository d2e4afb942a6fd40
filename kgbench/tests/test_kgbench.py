"""Benchmark-owned tests: generators are deterministic per seed, the
expected outputs are right by construction, and the output check fails on
a single perturbed triple or canonical label.

    python3 -m pytest kgbench/tests -q

No Spark session is started: generators and checks are numpy/pandas/pyarrow.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from kgbench import gen as G
from kgbench import tracing
from kgbench.check import TRIPLE_COLS, digest
from kgbench.workloads import Canon, Pages

from phenoqc_spark.ontology.mapper import TermResolver

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def terms():
    return G.longtail_dictionary(7, n_terms=400)


@pytest.fixture(scope="module")
def resolver(terms):
    keys = {}
    for t in terms:
        for k in [t["name"], *t["synonyms"], t["id"].lower()]:
            keys[k] = t["id"]
    return TermResolver({"HPO": keys}, ["HPO"])


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    return a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_dictionary_and_surfaces_deterministic(terms):
    assert G.longtail_dictionary(7, n_terms=400) == terms
    assert G.longtail_dictionary(8, n_terms=400) != terms
    s = G.longtail_surfaces(7, terms, 60)
    assert G.longtail_surfaces(7, terms, 60) == s
    assert G.longtail_surfaces(8, terms, 60) != s
    assert len(set(s)) == 60


@pytest.mark.parametrize("longtail", [False, True])
def test_pages_deterministic(terms, longtail):
    surfaces = G.longtail_surfaces(7, terms, 40) if longtail else None
    p1, k1 = G.pages(3, 600, surfaces)
    p2, k2 = G.pages(3, 600, surfaces)
    p3, _ = G.pages(4, 600, surfaces)
    assert _frames_equal(p1, p2) and _frames_equal(k1, k2)
    assert not _frames_equal(p1, p3)


def test_longtail_pages_spread_every_surface(terms):
    surfaces = G.longtail_surfaces(7, terms, 40)
    pages, _ = G.pages(3, 400, surfaces)
    primary = pages["text"].str.extract(r"PrimaryPhenotype: ([^\n]*)")[0]
    # any len(surfaces) consecutive pages carry every surface in a column
    for start in (0, 123, 360):
        assert set(primary.iloc[start : start + 40]) == set(surfaces)


def test_sameas_graph_deterministic():
    a = G.sameas_graph(5, 3000, 900)
    b = G.sameas_graph(5, 3000, 900)
    c = G.sameas_graph(6, 3000, 900)
    for k in a:
        assert _frames_equal(a[k], b[k])
    assert not _frames_equal(a["edges"], c["edges"])


def test_sameas_expected_mapping_by_union_find():
    g = G.sameas_graph(5, 3000, 900)
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in zip(g["edges"]["src"], g["edges"]["dst"]):
        parent[find(s)] = find(d)
    comps: dict = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    prim = set(g["primaries"]["id"])
    want = {}
    for members in comps.values():
        p = [m for m in members if m in prim]
        canon = min(p) if p else min(members)
        want.update({m: canon for m in members})
    got = dict(zip(g["mapping"]["node"], g["mapping"]["canonical_id"]))
    assert got == want


def test_expected_triples_match_resolver(terms, resolver):
    surfaces = G.longtail_surfaces(7, terms, 40)
    _, picks = G.pages(3, 300, surfaces)
    exp = G.expected_triples(picks, resolver)
    row = picks.iloc[0]
    ids = {t for t in resolver.map_term(row["surface"]).values() if t}
    got = set(exp[(exp["subj"] == row["subj"]) & (exp["pred"].str.startswith(row["column"] + "->"))]["obj"])
    assert got == ids


def test_digest_order_independent_and_sensitive():
    g = G.sameas_graph(5, 3000, 900)
    t = g["canon_triples"]
    d = digest(t, TRIPLE_COLS)
    assert digest(t.sample(frac=1.0, random_state=1), TRIPLE_COLS) == d
    one = t.copy()
    one.iloc[17, one.columns.get_loc("obj")] = one.iloc[17]["obj"] + "x"
    assert digest(one, TRIPLE_COLS) != d
    assert digest(t.iloc[1:], TRIPLE_COLS) != d
    assert digest(pd.concat([t, t.iloc[:1]]), TRIPLE_COLS) != d


def _write(df: pd.DataFrame, path: str) -> None:
    G.write_parquet(df, path, files=2)


def test_page_check_rejects_one_perturbed_triple(tmp_path, terms, resolver):
    _, picks = G.pages(3, 300, G.longtail_surfaces(7, terms, 40))
    exp = G.expected_triples(picks, resolver)
    wl = Pages(3, str(tmp_path), longtail=True)
    wl.expected = digest(exp, TRIPLE_COLS)

    def check(triples: pd.DataFrame, audited: int) -> bool:
        out = tmp_path / f"out{check.n}"
        check.n += 1
        _write(triples, str(out / "triples"))
        _write(pd.DataFrame({"n_triples": [audited]}), str(out / "audit"))
        return wl._check(str(out))

    check.n = 0
    assert check(exp.sample(frac=1.0, random_state=2), len(exp))
    bad = exp.copy()
    bad.iloc[5, bad.columns.get_loc("obj")] = "HP:0000000"
    assert not check(bad, len(exp))
    assert not check(exp, len(exp) + 1)  # audit disagrees with the output


def test_canon_check_rejects_one_perturbed_label(tmp_path):
    g = G.sameas_graph(5, 3000, 900)
    wl = Canon(5, str(tmp_path))
    wl._graph = g
    wl.expect()

    class Mapping:
        def __init__(self, df):
            self.df = df

        def toPandas(self):
            return self.df

    _write(g["canon_triples"], str(tmp_path / "canon"))
    path = str(tmp_path / "canon")
    assert wl._check(Mapping(g["mapping"]), path)
    bad = g["mapping"].copy()
    bad.iloc[3, bad.columns.get_loc("canonical_id")] = "HP:9999999"
    assert not wl._check(Mapping(bad), path)


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == tracing.PER_LAYER
    assert {m["name"] for m in bench["end_to_end"]} == {
        "run_s", "input_rows_per_s", "setup_s", "peak_rss_mb"
    }
