"""Seeded input generators for the three benchmark workloads.

Every generator takes the run's seed, builds its tables with numpy and
pandas (no Spark job, so generation does not depend on the JVM's warm-up
state), and also returns the expected output, computed here at
generation time and never by the code under test:

* ``pages(seed, n)`` (``kg_hub``): PhenoQC-style pages whose phenotype
  fields draw from the fixture pools (``phenoqc_spark.pages.PHENO_POOLS``,
  ~40 hub-skewed surfaces).
* ``longtail_dictionary`` + ``longtail_surfaces`` + ``pages(seed, n,
  surfaces)`` (``kg_longtail``): an HPO-scale synthetic ontology (OBO
  text, ~49k surface keys) and a few hundred seeded perturbations of its
  keys, spread so that every page file carries every surface, because the
  link memo is per Python worker.
* ``sameas_graph`` (``kg_canon``): a same-as edge list with known
  components (heavy-tailed sizes, chain-shaped members), the primaries
  table, triples whose objects are graph nodes, and the expected
  ``canonical_id`` of every node.

Expected triples of the page workloads come from ``TermResolver.map_term``
over the distinct surfaces (:func:`expected_triples`).
"""

from __future__ import annotations

import json
import os
import random
from typing import Dict, List

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from phenoqc_spark import pages as PG
from phenoqc_spark.functions.text import HTML_PREFIX, HTML_SUFFIX

# --- HPO-scale dictionary -----------------------------------------------------

_ONSETS = "b c d f g h k l m n p r s t v z ph th st tr ch gr br".split()
_VOWELS = "a e i o u y ae io".split()
_CODAS = ["", "n", "s", "r", "l", "x"]


def _word(rng: random.Random) -> str:
    """A 6–8 letter synthetic term word (three onset+vowel syllables)."""
    while True:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(3))
        w += rng.choice(_CODAS)
        if 6 <= len(w) <= 8:
            return w


def longtail_dictionary(seed: int, n_terms: int = 14_000) -> List[dict]:
    """Seeded HPO-shaped terms: ``[{id, name, synonyms}]``.

    Each term has a unique three-word label and 0–3 unique synonyms (HPO
    averages ~1.5).  With the lowercased id, which the OBO reader also
    indexes, the dictionary holds ~49k surface keys, the HPO release's
    scale.  Words come from a ~6k-word synthetic lexicon, so a query
    shares a token with a few dozen keys, and every key is 20–26
    characters long.  Both keep the WRatio cost of one query within a
    narrow band, so the fuzzy tier's work per run barely depends on the
    seed.
    """
    rng = random.Random(f"dict-{seed}")
    lexicon = sorted({_word(rng) for _ in range(7000)})
    seen: set = set()

    def label() -> str:
        while True:
            s = " ".join(rng.choice(lexicon) for _ in range(3))
            if s not in seen:
                seen.add(s)
                return s

    return [
        {
            "id": f"HP:{3_000_000 + i:07d}",
            "name": label(),
            "synonyms": [label() for _ in range(rng.choice((0, 1, 1, 2, 2, 3)))],
        }
        for i in range(n_terms)
    ]


def dictionary_obo(terms: List[dict]) -> str:
    """OBO text for :func:`longtail_dictionary` terms."""
    out = ["format-version: 1.2", "ontology: hp-synthetic", ""]
    for t in terms:
        out += ["[Term]", f"id: {t['id']}", f"name: {t['name']}"]
        out += [f'synonym: "{s}" EXACT []' for s in t["synonyms"]]
        out.append("")
    return "\n".join(out)


# --- long-tail surfaces ---------------------------------------------------------

_ACCENTS = {"a": "á", "e": "é", "i": "í", "o": "ó", "u": "ü", "c": "ç", "n": "ñ"}
_FULLWIDTH = {c: chr(ord(c) - 0x20 + 0xFF00) for c in "abcdefghijklmnopqrstuvwxyz"}
_LETTERS = "abcdefghijklmnopqrstuvwxyz"

# perturbation mix of the long-tail vocabulary (kind, share); the counts
# are exact per run (stratified), so the tier mix does not vary by seed
SURFACE_MIX = [
    ("typo", 0.35),      # 1–2 edits → fuzzy tier
    ("words", 0.15),     # shuffled / dropped words → fuzzy (token ratios)
    ("accent", 0.10),    # accented letters NFKC keeps → fuzzy
    ("noise", 0.10),     # case/space/full-width noise → exact after NFKC
    ("id", 0.08),        # "hp 3000123" of a dictionary term → fuzzy on the id key
    ("prefix", 0.07),    # "hp 209": too short for a fuzzy match → prefix tier
    ("junk", 0.15),      # random letters → a fuzzy miss in every ontology
]


def _typo(rng: random.Random, s: str) -> str:
    i = rng.randrange(len(s) - 1)
    op = rng.randrange(3)
    if op == 0:
        return s[:i] + s[i + 1 :]
    if op == 1:
        return s[:i] + s[i + 1] + s[i] + s[i + 2 :]
    return s[:i] + rng.choice(_LETTERS) + s[i + 1 :]


def _perturb(rng: random.Random, kind: str, key: str, term_id: str) -> str:
    if kind == "typo":
        s = _typo(rng, key)
        return _typo(rng, s) if rng.random() < 0.5 else s
    if kind == "words":
        words = key.split()
        rng.shuffle(words)
        if rng.random() < 0.5:
            words.pop(rng.randrange(len(words)))
        return " ".join(words)
    if kind == "accent":
        return "".join(_ACCENTS.get(c, c) if rng.random() < 0.3 else c for c in key)
    if kind == "noise":
        s = "".join(
            _FULLWIDTH.get(c, c) if rng.random() < 0.2
            else c.upper() if rng.random() < 0.3 else c
            for c in key
        )
        return "  " + s.replace(" ", rng.choice(("  ", "\t", " ​ "))) + " "
    if kind == "id":
        num = term_id.split(":")[1]
        return f"{rng.choice(('hp', 'HP', 'Hpo'))} {num}"
    if kind == "prefix":
        return f"{rng.choice(('hp', 'HP'))} {rng.randrange(1, 1000)}"
    # junk: key-length random letters, so it meets the same length band
    n = rng.randint(20, 26)
    return "".join(rng.choice(_LETTERS + "     ") for _ in range(n)).strip() or "qzx"


def longtail_surfaces(seed: int, terms: List[dict], n_surfaces: int) -> List[str]:
    """``n_surfaces`` distinct seeded perturbations of dictionary keys,
    with the exact per-kind counts of :data:`SURFACE_MIX`."""
    rng = random.Random(f"surf-{seed}")
    kinds: List[str] = []
    for kind, share in SURFACE_MIX:
        kinds += [kind] * round(share * n_surfaces)
    kinds = (kinds + ["typo"] * n_surfaces)[:n_surfaces]
    out: List[str] = []
    seen: set = set()
    for kind in kinds:
        while True:
            t = rng.choice(terms)
            key = rng.choice([t["name"]] + t["synonyms"])
            s = _perturb(rng, kind, key, t["id"])
            if s not in seen:
                seen.add(s)
                out.append(s)
                break
    rng.shuffle(out)
    return out


# --- pages ------------------------------------------------------------------------

_NUMERIC = [  # (field, base, spread) as in phenoqc_spark.pages.record_columns
    ("Height_cm", 150, 500), ("Weight_kg", 50, 500), ("Cholesterol_mgdl", 120, 120),
    ("BP_systolic", 90, 90), ("BP_diastolic", 60, 60), ("Glucose_mgdl", 70, 180),
    ("Creatinine_mgdl", 0, 3),
]


def _missing(rng, values: np.ndarray, rate: float) -> np.ndarray:
    return np.where(rng.random(len(values)) < rate, "", values)


def pages(seed: int, n_rows: int, surfaces: List[str] | None = None):
    """Seeded pages → ``(pages, picks)``.

    ``pages`` is the ``pages(url, warc_ts, html, text, lang)`` table of
    ``phenoqc_spark.pages.generate_pages``: ``html`` wraps a PhenoQC
    record of ``key: value`` lines, with ~10% missing values and ~5%
    duplicated SampleIDs.  With ``surfaces=None`` the phenotype fields
    draw from the fixture pools; otherwise every phenotype column draws
    from ``surfaces`` round-robin with a seeded offset, so any
    ``len(surfaces)`` consecutive pages carry every surface.
    ``picks(subj, column, surface)`` lists the phenotype surfaces of the
    English pages, for :func:`expected_triples`.
    """
    rng = np.random.default_rng(seed)
    ids = np.arange(n_rows)
    url = pd.Series(ids).map(f"https://example.org/s{seed}/doc/{{:08d}}".format)
    sid = np.where((ids % 20 == 1) & (ids > 0), ids - 1, ids)
    f: Dict[str, pd.Series] = {"SampleID": pd.Series(sid.astype(str))}
    for name, base, spread in _NUMERIC:
        v = base + rng.integers(0, spread, n_rows) + rng.integers(0, 10, n_rows) / 10
        f[name] = pd.Series(_missing(rng, np.char.mod("%.1f", v), 0.10))
    f["Height_cm"] = f["Height_cm"].where(rng.random(n_rows) >= 0.01, "-999.0")
    if surfaces is None:
        for col, pool in PG.PHENO_POOLS.items():
            f[col] = pd.Series(np.array(pool, dtype=object)[rng.integers(0, len(pool), n_rows)])
        obs = [json.dumps(items) for items in PG.OBSERVED_POOL]
        obs_idx = rng.integers(0, len(obs), n_rows)
        f["ObservedFeatures"] = pd.Series(np.array(obs, dtype=object)[obs_idx])
        obs_lists = [PG.OBSERVED_POOL[i] for i in obs_idx]
    else:
        pool = np.array(surfaces, dtype=object)
        for col in PG.PHENO_POOLS:
            f[col] = pd.Series(pool[(ids + rng.integers(len(pool))) % len(pool)])
        obs_pick = pool[(ids + rng.integers(len(pool))) % len(pool)]
        f["ObservedFeatures"] = pd.Series([json.dumps([s]) for s in obs_pick])
        obs_lists = [[s] for s in obs_pick]
    day = np.datetime64("2023-01-01") + rng.integers(0, 365, n_rows)
    f["VisitDate"] = pd.Series(
        np.where(rng.random(n_rows) < 0.05, "NOT_A_DATE", day.astype(str))
    )
    sec = rng.integers(0, 365 * 86400, n_rows).astype("timedelta64[s]")
    dt = (np.datetime64("2023-01-01T00:00:00") + sec).astype(str)
    f["SampleCollectionDateTime"] = pd.Series(
        np.where(rng.random(n_rows) < 0.05, "INVALID_DATETIME_99", dt)
    )
    f["GenomeSampleID"] = pd.Series(np.char.mod("GS_%05d", rng.integers(1, 2001, n_rows)))
    f["HospitalID"] = pd.Series(np.char.mod("HID_%04d", rng.integers(1, 501, n_rows)))
    f["label"] = pd.Series(rng.choice(["A", "B", "C"], n_rows, p=[0.6, 0.35, 0.05]))

    text = None
    for name in PG.RECORD_FIELDS:
        line = f"{name}: " + f[name].astype(object)
        text = line if text is None else text + "\n" + line
    lang = rng.choice(["en", "de", "fr"], n_rows, p=[0.98, 0.01, 0.01])
    table = pd.DataFrame({
        "url": url,
        "warc_ts": pd.Timestamp("2020-01-01", tz="UTC")
        + pd.to_timedelta(ids % 365, unit="D") + pd.to_timedelta(ids % 86400, unit="s"),
        "html": [HTML_PREFIX + t.encode("utf-8") + HTML_SUFFIX for t in text],
        "text": text,
        "lang": lang,
    })

    en = lang == "en"
    subj = (url + "#" + f["SampleID"])[en]
    picks = [
        pd.DataFrame({"subj": subj, "column": col, "surface": f[col][en]})
        for col in PG.PHENO_POOLS
    ]
    obs = pd.DataFrame({"subj": subj, "column": "ObservedFeatures",
                        "surface": pd.Series(obs_lists)[en]}).explode("surface")
    picks = pd.concat(picks + [obs.dropna(subset=["surface"])], ignore_index=True)
    return table, picks


def expected_triples(picks: pd.DataFrame, resolver) -> pd.DataFrame:
    """Expected ``(subj, pred, obj)`` set: ``resolver.map_term`` over every
    distinct surface, fanned out to the pages that carry it."""
    dim = [
        (s, onto, tid)
        for s in picks["surface"].unique()
        for onto, tid in resolver.map_term(s).items()
        if s and tid
    ]
    dim = pd.DataFrame(dim, columns=["surface", "ontology", "obj"])
    out = picks.merge(dim, on="surface")
    out["pred"] = out["column"] + "->" + out["ontology"]
    return out[["subj", "pred", "obj"]].drop_duplicates()


def write_parquet(df: pd.DataFrame, path: str, files: int = 1) -> None:
    """Write ``df`` as ``files`` parquet files of consecutive rows."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(df), files + 1).astype(int)
    for i in range(files):
        part = pa.Table.from_pandas(df.iloc[bounds[i] : bounds[i + 1]], preserve_index=False)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), coerce_timestamps="us")


# --- same-as graph ---------------------------------------------------------------

def sameas_graph(
    seed: int, n_nodes: int, n_triples: int, max_size: int = 5000, max_spine: int = 3
) -> Dict[str, pd.DataFrame]:
    """A same-as graph with known components, plus triples to rewrite.

    Component sizes follow a Pareto tail (most have 2–4 members, a few
    thousands).  Each component is a caterpillar: a chain ("spine") of up
    to ``max_spine`` members in seeded order, with every other member
    hanging off a random spine member, so the min label has to travel
    the chain and hub members carry large degree.  ~90% of components
    have one or two primaries.  Returns pandas frames ``edges(src, dst)``,
    ``primaries(id)``, ``triples(subj, pred, obj)`` and the expected
    ``mapping(node, canonical_id)`` and ``canon_triples(subj, pred, obj)``.
    """
    rng = np.random.default_rng(seed)
    sizes: List[int] = []
    total = 0
    while total < n_nodes:
        s = int(min(2 + rng.pareto(1.2) * 2, max_size))
        s = min(s, n_nodes - total) if n_nodes - total >= 2 else 2
        sizes.append(s)
        total += s
    ids = np.array([f"HP:{k:07d}" for k in rng.permutation(total) + 1_000_000], dtype=object)
    src, dst, prim, node_col, canon_col = [], [], [], [], []
    start = 0
    for s in sizes:
        members = ids[start : start + s]
        start += s
        spine = members[: min(s, int(rng.integers(2, max_spine + 1)))]
        leaves = members[len(spine) :]
        src += [spine[:-1], leaves]
        dst += [spine[1:], spine[rng.integers(0, len(spine), len(leaves))]]
        r = rng.random()
        n_prim = 0 if r < 0.1 else (2 if r > 0.95 else 1)
        p = list(rng.choice(members, n_prim, replace=False)) if n_prim else []
        prim += p
        canon = min(p) if p else members.min()
        node_col.append(members)
        canon_col.append(np.full(s, canon, dtype=object))
    edges = pd.DataFrame({"src": np.concatenate(src), "dst": np.concatenate(dst)})
    # half the edges point the other way: direction carries no meaning
    flip = rng.random(len(edges)) < 0.5
    edges.loc[flip, ["src", "dst"]] = edges.loc[flip, ["dst", "src"]].values
    mapping = pd.DataFrame(
        {"node": np.concatenate(node_col), "canonical_id": np.concatenate(canon_col)}
    )
    # primaries also lists terms outside the same-as graph
    extra = [f"HP:{k:07d}" for k in range(9_000_000, 9_000_000 + len(prim) // 10)]
    primaries = pd.DataFrame({"id": np.array(prim + extra, dtype=object)})

    # triples: 85% of objects are graph nodes, the rest pass through
    in_graph = rng.random(n_triples) < 0.85
    obj = np.where(
        in_graph,
        ids[rng.integers(0, total, n_triples)],
        np.char.add("DOID:", rng.integers(0, 100_000, n_triples).astype(str)),
    )
    subj = np.char.add(
        f"https://example.org/s{seed}/doc/",
        (np.arange(n_triples) // 3).astype(str),
    )
    pred = np.array(["PrimaryPhenotype->HPO", "DiseaseCode->DO", "ObservedFeatures->HPO"])[
        np.arange(n_triples) % 3
    ]
    triples = pd.DataFrame({"subj": subj, "pred": pred, "obj": obj})
    canon = dict(zip(mapping["node"], mapping["canonical_id"]))
    canon_triples = triples.assign(obj=[canon.get(o, o) for o in triples["obj"]])
    return {
        "edges": edges,
        "primaries": primaries,
        "triples": triples,
        "mapping": mapping,
        "canon_triples": canon_triples,
    }
