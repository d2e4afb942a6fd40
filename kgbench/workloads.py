"""The workloads: inputs, the timed operation, its check, its trace.

Each workload has

* ``setup(spark) -> {"generate": s, "resolver": s}``: writes the seeded
  input and warm-up tables under the work directory and builds the
  resolver (page workloads), timing both;
* ``expect()``: the expected output digests of the generated input;
* ``op(spark, out, warmup=False) -> bool``: one operation, from the input
  table to the checked result on disk under ``out`` (a warm-up operation
  reads the warm-up input and is not checked);
* ``trace(spark, tracer, out) -> bool``: the same operation, layer by layer
  through each layer's public functions.
"""

from __future__ import annotations

import os
import pickle
import re
import time

from kgbench import gen as G
from kgbench.check import MAPPING_COLS, TRIPLE_COLS, digest, read
from kgbench.tracing import materialize

from phenoqc_spark.fixtures import fixture_config
from phenoqc_spark.ontology import TermResolver, fuzzy
from phenoqc_spark.ontology.normalize import normalize_text
from phenoqc_spark.operators import resume as R
from phenoqc_spark.operators import triples as T
from phenoqc_spark.operators.canonicalize import (
    canonical_mapping,
    canonicalize_objects,
    connected_components,
)
from phenoqc_spark.pages import PHENO_POOLS
from phenoqc_spark.pipeline import extract_records, run_pipeline

# Sizes for a 4-core box (local[4]); see README.md for how each was chosen.
HUB_PAGES = 30_000
LONGTAIL_PAGES = 8_000
LONGTAIL_SURFACES = 200
WARMUP_SURFACES = 8
PAGE_FILES = 4
AUDIT_BUCKETS = 4
CANON_NODES = 30_000
CANON_TRIPLES = 120_000
CANON_FILES = 4
FUZZY_SAMPLE = 24


def _files(path: str):
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                yield os.path.join(d, n)


class Pages:
    """``kg_hub`` (fixture pools) and ``kg_longtail`` (HPO-scale dictionary,
    perturbed long-tail surfaces): ``run_pipeline`` plus the job's
    write/audit tail."""

    def __init__(self, seed: int, work: str, longtail: bool):
        self.seed, self.longtail = seed, longtail
        self.input_rows = LONGTAIL_PAGES if longtail else HUB_PAGES
        self.paths = {k: os.path.join(work, k, "pages") for k in ("input", "warmup")}
        self.onto_dir = os.path.join(work, "input", "onto")

    # -- setup ---------------------------------------------------------------
    def setup(self, spark) -> dict:
        t0 = time.perf_counter()
        config = fixture_config(self.onto_dir)
        terms = None
        if self.longtail:
            terms = G.longtail_dictionary(self.seed)
            hpo = os.path.join(self.onto_dir, "HPO_synthetic.obo")
            with open(hpo, "w", encoding="utf-8") as fh:
                fh.write(G.dictionary_obo(terms))
            config["ontologies"]["HPO"]["file"] = hpo
        generate = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.resolver = TermResolver.from_config(config)
        resolver = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.surfaces = (
            G.longtail_surfaces(self.seed, terms, LONGTAIL_SURFACES) if terms else None
        )
        pages, self._picks = G.pages(self.seed, self.input_rows, self.surfaces)
        G.write_parquet(pages, self.paths["input"], PAGE_FILES)
        # the warm-up input has half the input's size and, on kg_longtail,
        # only a few surfaces: it starts the Python workers and compiles
        # the JVM code paths without paying the fuzzy tier a second time
        warm = self.surfaces[:WARMUP_SURFACES] if self.surfaces else None
        G.write_parquet(
            G.pages(self.seed + 1, self.input_rows // 2, warm)[0], self.paths["warmup"], PAGE_FILES
        )
        generate += time.perf_counter() - t0
        return {"generate": generate, "resolver": resolver}

    def expect(self) -> None:
        """Expected output digest of the last setup's input (untimed)."""
        # resolve with a copy, so the driver's resolver stays exactly as
        # TermResolver.from_config built it
        reference = pickle.loads(pickle.dumps(self.resolver))
        self.expected = digest(G.expected_triples(self._picks, reference), TRIPLE_COLS)

    # -- timed operation -------------------------------------------------------
    def op(self, spark, out: str, warmup: bool = False) -> bool:
        """One operation; a ``warmup`` operation runs on the warm-up input
        and is not checked."""
        pages = spark.read.parquet(self.paths["warmup" if warmup else "input"])
        # run_pipeline broadcasts the resolver itself: every operation
        # pays a cold memo and the KeyIndex build, as a user's job does
        res = run_pipeline(spark, pages, self.resolver)
        self._write(spark, res["records"], res["triples"], out)
        return warmup or self._check(out)

    def _write(self, spark, records, triples, out: str) -> None:
        """The write/audit tail of jobs/run_kg_job.py."""
        keyed = R.with_part_key(triples, AUDIT_BUCKETS, key_col="provenance")
        R.write_triples_idempotent(keyed, os.path.join(out, "triples"))
        metrics = R.partition_metrics(R.with_part_key(records, AUDIT_BUCKETS), keyed)
        R.append_audit(spark, os.path.join(out, "audit"), "kgbench", metrics)

    def _check(self, out: str) -> bool:
        got = digest(read(os.path.join(out, "triples"), TRIPLE_COLS), TRIPLE_COLS)
        audited = int(read(os.path.join(out, "audit"), ["n_triples"])["n_triples"].sum())
        return got == self.expected and audited == got.rows

    # -- traced operation ------------------------------------------------------
    def trace(self, spark, tr, out: str) -> bool:
        from phenoqc_spark.functions.linking import link_terms_inline

        pages, n = tr.layer("scan", lambda: materialize(
            spark.read.parquet(self.paths["input"]).select("url", "warc_ts", "html", "lang")))
        tr.set("scan.rows_out", n)
        records, n = tr.layer("extract", lambda: materialize(extract_records(pages)))
        tr.set("extract.rows_out", n)
        pages.unpersist()
        # the inline link path of pipeline.build_triples, one call per layer
        terms, n_terms = tr.layer("explode", lambda: materialize(
            T.terms_long(records, normalize=False)))
        tr.set("explode.rows_out", n_terms)
        tr.set("link.rows_in", n_terms)
        distinct = terms.select("term").distinct().count()
        tr.set("link.distinct_terms", distinct)
        tr.set("link.distinct_per_row", distinct / max(n_terms, 1))
        floor, _ = tr.layer("arrow_floor", lambda: materialize(
            terms.mapInPandas(_identity, terms.schema)))
        floor.unpersist()
        bc = spark.sparkContext.broadcast(self.resolver)
        linked, n = tr.layer("link", lambda: materialize(link_terms_inline(
            terms, bc, normalize=True, drop_input_cols=("term",))))
        tr.set("link.rows_out", n)
        terms.unpersist()
        tiers = dict(
            linked.select("term_norm", "ontology", "tier").distinct()
            .groupBy("tier").count().collect()
        )
        for tier in ("exact", "fuzzy", "prefix"):
            tr.set(f"link.tier_{tier}", tiers.get(tier, 0))
        tr.set("dedup.rows_in", n)
        dedup_df = T.triples(linked)
        triples, n = tr.layer("dedup", lambda: materialize(dedup_df))
        tr.set("dedup.rows_out", n)
        plan = dedup_df._jdf.queryExecution().executedPlan().toString()
        tr.set("dedup.sort_nodes", len(re.findall(r"(?<![\w])Sort \[", plan)))
        linked.unpersist()

        keyed = R.with_part_key(triples, AUDIT_BUCKETS, key_col="provenance")
        tpath = os.path.join(out, "triples")
        tr.layer("write", lambda: R.write_triples_idempotent(keyed, tpath))
        files = list(_files(tpath))
        tr.set("write.files", len(files))
        tr.set("write.mb", sum(os.path.getsize(f) for f in files) / 2**20)
        apath = os.path.join(out, "audit")
        tr.layer("audit", lambda: R.append_audit(
            spark, apath, "kgbench",
            R.partition_metrics(R.with_part_key(records, AUDIT_BUCKETS), keyed)))
        tr.set("audit.rows", spark.read.parquet(apath).count())
        ok = tr.layer("check", lambda: self._check(out))
        records.unpersist()
        triples.unpersist()
        bc.unpersist()
        self._mapper_probe(tr)
        return ok

    def _mapper_probe(self, tr) -> None:
        """Fuzzy-tier cost on a cold resolver over a fixed sample of this
        workload's surfaces that miss the exact tier."""
        pool = self.surfaces or sorted({s for p in PHENO_POOLS.values() for s in p})
        d = self.resolver.ontologies
        sample = sorted(
            s for s in pool
            if normalize_text(s) and not any(normalize_text(s) in keys for keys in d.values())
        )[:FUZZY_SAMPLE]
        t0 = time.perf_counter()
        for keys in d.values():
            fuzzy.build_key_index(tuple(keys))
        tr.set("mapper.index_build_s", time.perf_counter() - t0)
        cold = pickle.loads(pickle.dumps(self.resolver))
        cold.map_term_detailed("zzqx")  # builds the cold copy's key indexes
        t0 = time.perf_counter()
        for s in sample:
            cold.map_term_detailed(s)
        tr.set("mapper.fuzzy_ms_per_term", 1e3 * (time.perf_counter() - t0) / max(len(sample), 1))


def _identity(batches):
    yield from batches


class Canon:
    """``kg_canon``: canonical_mapping → canonicalize_objects → parquet."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.dirs = {k: os.path.join(work, k) for k in ("input", "warmup")}

    def setup(self, spark) -> dict:
        t0 = time.perf_counter()
        self._graph = G.sameas_graph(self.seed, CANON_NODES, CANON_TRIPLES)
        self.input_rows = len(self._graph["edges"])
        # warm-up: the input's size, so AQE picks the same join strategies
        # and their code gets compiled, but shorter spines (fewer rounds)
        warm = G.sameas_graph(self.seed + 1, CANON_NODES, CANON_TRIPLES, max_spine=2)
        for name, g in (("input", self._graph), ("warmup", warm)):
            for k in ("edges", "primaries", "triples"):
                G.write_parquet(g[k], os.path.join(self.dirs[name], k), CANON_FILES)
        return {"generate": time.perf_counter() - t0, "resolver": 0.0}

    def expect(self) -> None:
        self.expected_triples = digest(self._graph["canon_triples"], TRIPLE_COLS)
        self.expected_mapping = digest(self._graph["mapping"], MAPPING_COLS)

    def _inputs(self, spark, warmup: bool = False):
        d = self.dirs["warmup" if warmup else "input"]
        return [spark.read.parquet(os.path.join(d, k)) for k in ("edges", "primaries", "triples")]

    def op(self, spark, out: str, warmup: bool = False) -> bool:
        edges, primaries, triples = self._inputs(spark, warmup)
        mapping = canonical_mapping(edges, primaries)
        path = os.path.join(out, "canon")
        canonicalize_objects(triples, mapping).write.mode("overwrite").parquet(path)
        return warmup or self._check(mapping, path)

    def _check(self, mapping, path: str) -> bool:
        return (
            digest(read(path, TRIPLE_COLS), TRIPLE_COLS) == self.expected_triples
            and digest(mapping.toPandas(), MAPPING_COLS) == self.expected_mapping
        )

    def trace(self, spark, tr, out: str) -> bool:
        edges, primaries, triples = self._inputs(spark)
        cc, n = tr.layer("cc", lambda: materialize(connected_components(edges)))
        tr.set("cc.nodes", n)
        tr.set("cc.components", cc.select("component").distinct().count())
        cc.unpersist()
        mapping, _ = tr.layer("canon_map", lambda: materialize(canonical_mapping(edges, primaries)))
        path = os.path.join(out, "canon")
        tr.layer("rewrite", lambda: canonicalize_objects(triples, mapping)
                 .write.mode("overwrite").parquet(path))
        ok = tr.layer("check", lambda: self._check(mapping, path))
        mapping.unpersist()
        return ok


def make(name: str, seed: int, work: str):
    if name == "kg_hub":
        return Pages(seed, work, longtail=False)
    if name == "kg_longtail":
        return Pages(seed, work, longtail=True)
    if name == "kg_canon":
        return Canon(seed, work)
    raise ValueError(f"unknown workload {name!r}")
