"""The benchmark's workloads: what one iteration calls, and its checks.

Each workload runs as a closed loop with one client.  An iteration is a
fixed sequence of *legs* (public calls into the package); the harness
times each leg and counts it as one operation.  Every leg's output is
checked outside its timing; a failed check marks that leg failed.

Leg order is fixed per workload and reported as ``leg1_s``..``leg3_s``:

=============  ============================  ==============  ===========
workload       leg1                          leg2            leg3
=============  ============================  ==============  ===========
kg_staged      fresh run_pipeline_resumable  no-op resume    recover
canon_debt     entity_canonical_mapping      analyze_debt    doc dedup
=============  ============================  ==============  ===========
"""

from __future__ import annotations

import collections
import contextlib
import hashlib
import os
import re
import shutil
import statistics
import time

from inputs import CorpusBatch, DocSet, read_rows
from spans import SparkCounters

LEGS = ("leg1", "leg2", "leg3")

DEDUP_THRESHOLD = 0.7  # minhash_near_duplicates' default jaccard_threshold


def _sha(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


def _oracle(sql: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def constraint_by_pred_sql(corpus_path: str) -> str:
    """Per predicate, the distinct triples of the oracle's constraint
    families (``t_pc``, ``t_side_flat``, ``t_side_enum``, ``t_ec``: what
    ``pipeline._constraint_triples`` emits).  run_pipeline_resumable's
    triples stage does not union those families, so against
    ``triples_by_pred_sql`` its output may fall short by at most these
    counts."""
    import kg_oracles as k

    return ("WITH " + k._prelude(corpus_path) + "," + k._RULES + "," + k._ALL_MEASURES
            + "," + k._triple_families("1970-01-01T00:00:00") + """
SELECT pred, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT DISTINCT repo, dataset, subj, pred, obj FROM (
        SELECT * FROM t_pc UNION ALL SELECT * FROM t_side_flat
        UNION ALL SELECT * FROM t_side_enum UNION ALL SELECT * FROM t_ec))
GROUP BY pred ORDER BY pred""")


# column order check_staged_outputs indexes by
STAGED_COLS = ["subj", "pred", "obj", "obj_is_literal", "obj_datatype", "repo", "dataset"]


def check_staged_outputs(triples, nodes, edges, oracle_by_pred,
                         constraint_by_pred) -> tuple[list[str], int]:
    """Check one staged run's tables; returns (errors, triples missing
    against the oracle).  A predicate may fall short of the oracle by at
    most its constraint-family count, and never exceed it."""
    errors = []
    if len(set(triples)) != len(triples):
        errors.append("staged triples contain duplicate rows")
    got = collections.Counter(t[1] for t in triples)
    missing = 0
    for pred in sorted(set(got) | set(oracle_by_pred)):
        want, have = oracle_by_pred.get(pred, 0), got.get(pred, 0)
        if have == want:
            continue
        if want - constraint_by_pred.get(pred, 0) <= have < want:
            missing += want - have
        else:
            errors.append(f"staged triples: {pred} has {have} rows, oracle {want}")
    uri = [t for t in triples if not t[3]]
    want_edges = collections.Counter((t[5], t[6], t[0], t[1], t[2]) for t in uri)
    if collections.Counter(edges) != want_edges:
        errors.append("staged edges differ from the URI-object triples")
    types: dict[tuple, str] = {}
    for t in triples:
        if t[1] == "rdf:type":
            k = (t[5], t[6], t[0])
            types[k] = min(types.get(k, t[2]), t[2])
    keys = {(t[5], t[6], t[0]) for t in triples} | {(t[5], t[6], t[2]) for t in uri}
    if sorted(nodes, key=repr) != sorted(((*k, types.get(k)) for k in keys), key=repr):
        errors.append("staged nodes differ from subjects and URI objects")
    return errors, missing


def check_manifest(recs, n_triples: int) -> list[str]:
    """A fresh staged run records each stage once, with its row count."""
    errors = []
    stages = [(r.stage, r.status) for r in recs]
    want = [(s, "completed") for s in ("corrupt_rows", "triples", "nodes", "edges")]
    if stages != want:
        errors.append(f"manifest records {stages}")
    rows = {r.stage: r.rows for r in recs}
    if rows.get("triples") != n_triples or rows.get("corrupt_rows") != 0:
        errors.append(f"manifest row counts {rows}")
    return errors


def check_mapping(mapping, oracle_clusters) -> list[str]:
    """One row per entity; cluster sizes equal the exact all-pairs oracle's."""
    keys = [(r["repo"], r["dataset"], r["entity"]) for r in mapping]
    sizes = sorted(collections.Counter(collections.Counter(
        r["canonical_iri"] for r in mapping).values()).items())
    if len(set(keys)) != len(keys) or sizes != oracle_clusters:
        return [f"canonical clusters {sizes}, oracle {oracle_clusters}"]
    return []


DEBT_FAMILIES = ("entity_conflict", "type_conflict", "relationship_conflict")


def check_debt(debt, oracle_debt, oracle_rules) -> list[str]:
    """The entity, type and relationship families equal
    ``debt_conflicts_sql``'s rows; the rule family's (name, sources)
    equal ``rule_conflict_groups_sql``'s.  The rule severity comes from
    a SequenceMatcher probe with no SQL analogue and is only checked for
    determinism."""
    errors = []
    got = sorted((r["conflict_type"], r["severity"], r["name"], "|".join(r["sources"]))
                 for r in debt if r["conflict_type"] in DEBT_FAMILIES)
    if got != oracle_debt:
        errors.append(f"debt rows differ from the oracle ({len(got)} vs {len(oracle_debt)})")
    rules = sorted((r["name"], "|".join(r["sources"]))
                   for r in debt if r["conflict_type"] == "rule_conflict")
    if rules != oracle_rules:
        errors.append(f"rule conflicts differ from the oracle "
                      f"({len(rules)} vs {len(oracle_rules)})")
    return errors


class Workload:
    """``aside_s`` sums the wall time of the benchmark's own work during
    set-up (generating and checking inputs, oracle queries); ``setup_s``
    leaves it out."""

    aside_s = 0.0

    @contextlib.contextmanager
    def aside(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.aside_s += time.perf_counter() - t


class KgStaged(Workload):
    """Distinct-seed 8-repo batches through the resumable staged
    pipeline: a fresh run into a new directory, then no-op reruns, then
    a rerun after the node and edge outputs were lost."""

    name = "kg_staged"
    resumes = 5
    recovers = 2

    def __init__(self, cache: str, seed: int, smoke: bool, parts: int):
        self.cache, self.seed, self.parts = cache, seed, parts
        self.n_repos = 2 if smoke else 8
        self.run_root = os.path.join(cache, "runs", str(os.getpid()))
        self.missing: list[int] = []
        self.last_run_dir = ""
        self.run_jobs: dict = {}

    def batch(self, i: int) -> CorpusBatch:
        # 1009 is odd, so the mega repo moves with both seed and iteration
        return CorpusBatch(self.cache, self.n_repos, self.seed * 1009 + i, self.parts)

    def setup(self, spark, tracer) -> list[str]:
        """Warm up on a 2-repo batch: extraction, ontology and emission,
        the parts of a staged run whose first call in a process pays
        most of the JIT and Python-worker start-up."""
        from powerbi_ontology_extractor_spark.operators.extract import extract_all
        from powerbi_ontology_extractor_spark.operators.ontology import (
            generate_ontology,
        )
        from powerbi_ontology_extractor_spark.operators.triples import export_triples
        from powerbi_ontology_extractor_spark.sources.corpus import read_corpus

        warm = CorpusBatch(self.cache, 2, self.seed, self.parts)
        with self.aside():
            warm.ensure()
            errors = warm.check()
        with tracer.span("warm-up"):
            md = extract_all(read_corpus(spark, warm.path), materialize=True)
            export_triples(generate_ontology(md, materialize=True), md).count()
        return errors

    def iteration(self, spark, i: int, tracer):
        from powerbi_ontology_extractor_spark.plans.manifest import (
            ManifestRunner,
            run_pipeline_resumable,
        )
        from powerbi_ontology_extractor_spark.sources.corpus import read_corpus

        import kg_oracles

        b = self.batch(i)
        b.ensure()
        errors = [("leg1", e) for e in b.check()]
        run_dir = os.path.join(self.run_root, f"batch-{i}")
        shutil.rmtree(run_dir, ignore_errors=True)
        self.last_run_dir = run_dir
        corpus = read_corpus(spark, b.path)
        runner = ManifestRunner(spark, run_dir)

        def run():
            return run_pipeline_resumable(spark, corpus, run_dir)

        legs = {}
        jobs = (SparkCounters(spark).measure(self.run_jobs) if tracer.enabled
                else contextlib.nullcontext())
        with jobs:
            fresh, legs["leg1"] = tracer.timed("plans.manifest.run_pipeline_resumable", run)
        recs = runner.records()
        oracle = dict(_oracle(kg_oracles.triples_by_pred_sql(b.glob())))
        constraint = dict(_oracle(constraint_by_pred_sql(b.glob())))
        triples = read_rows(os.path.join(run_dir, "triples"), STAGED_COLS)
        node_cols = ["repo", "dataset", "node", "node_type"]
        edge_cols = ["repo", "dataset", "src", "rel", "dst"]
        nodes = read_rows(os.path.join(run_dir, "nodes"), node_cols)
        edges = read_rows(os.path.join(run_dir, "edges"), edge_cols)
        errs, missing = check_staged_outputs(triples, nodes, edges, oracle, constraint)
        self.missing.append(missing)
        errors += [("leg1", e) for e in errs]
        errors += [("leg1", e) for e in check_manifest(recs, len(triples))]

        walls = []
        for _ in range(self.resumes):
            again, dt = tracer.timed("plans.manifest.run_pipeline_resumable.resume", run)
            walls.append(dt)
        legs["leg2"] = min(walls)
        if len(runner.records()) != len(recs):
            errors.append(("leg2", "resume appended manifest records"))
        for k in ("triples", "nodes", "edges"):
            if sorted(again[k].inputFiles()) != sorted(fresh[k].inputFiles()):
                errors.append(("leg2", f"resume returned other {k} files than the fresh run"))
        if again["triples"].count() != len(triples):
            errors.append(("leg2", "resume returned other triples than the fresh run"))

        walls = []
        for _ in range(self.recovers):
            for stage in ("nodes", "edges"):
                os.remove(os.path.join(run_dir, stage, "_SUCCESS"))
            _, dt = tracer.timed("plans.manifest.run_pipeline_resumable.recover", run)
            walls.append(dt)
        legs["leg3"] = min(walls)
        redone = [r.stage for r in runner.records()[len(recs):]]
        if redone != ["nodes", "edges"] * self.recovers:
            errors.append(("leg3", f"recovery recomputed {redone}"))
        if (_sha(read_rows(os.path.join(run_dir, "nodes"), node_cols)) != _sha(nodes)
                or _sha(read_rows(os.path.join(run_dir, "edges"), edge_cols)) != _sha(edges)):
            errors.append(("leg3", "recovered nodes/edges differ from the fresh run"))
        return legs, errors

    def info(self) -> dict:
        return {"staged.missing_vs_oracle": self.missing}

    def layers(self, spark, tracer) -> dict[str, float]:
        """Per-layer probes over the first batch, one public call per span."""
        from powerbi_ontology_extractor_spark.functions.dax import parse_measures
        from powerbi_ontology_extractor_spark.functions.layout import report_triples
        from powerbi_ontology_extractor_spark.functions.mquery import (
            m_datasource_triples,
        )
        from powerbi_ontology_extractor_spark.operators.extract import (
            extract_all,
            measures_df,
            parse_models,
        )
        from powerbi_ontology_extractor_spark.operators.ontology import (
            generate_ontology,
            ontology_entities_from_models,
        )
        from powerbi_ontology_extractor_spark.operators.triples import (
            TRIPLE_COLS,
            export_triples,
        )
        from powerbi_ontology_extractor_spark.pipeline import (
            build_triples,
            nodes_edges,
        )
        from powerbi_ontology_extractor_spark.plans.manifest import ManifestRunner
        from powerbi_ontology_extractor_spark.sources.corpus import (
            read_corpus,
            verify_content_sha,
        )
        m: dict[str, float] = {}
        counters = SparkCounters(spark)

        corpus = read_corpus(spark, self.batch(0).path)
        _, m["manifest.fingerprint_s"] = tracer.timed(
            "plans.manifest.corpus_fingerprint",
            lambda: ManifestRunner.corpus_fingerprint(corpus))
        _, m["corpus.verify_sha_s"] = tracer.timed(
            "sources.corpus.verify_content_sha",
            lambda: verify_content_sha(corpus).count())
        models, m["extract.parse_models_ckpt_s"] = tracer.timed(
            "operators.extract.parse_models",
            lambda: parse_models(corpus).localCheckpoint(eager=True))
        parsed, m["dax.parse_measures_s"] = tracer.timed(
            "functions.dax.parse_measures",
            lambda: parse_measures(measures_df(models, corpus)).localCheckpoint(eager=True))
        m["dax.measures"] = parsed.count()
        m["dax.us_per_measure"] = 1e6 * m["dax.parse_measures_s"] / max(m["dax.measures"], 1)
        _, m["ontology.entities_ckpt_s"] = tracer.timed(
            "operators.ontology.ontology_entities_from_models",
            lambda: ontology_entities_from_models(models).localCheckpoint(eager=True))
        md, m["extract.extract_all_s"] = tracer.timed(
            "operators.extract.extract_all", lambda: extract_all(corpus, materialize=True))
        od, m["ontology.generate_s"] = tracer.timed(
            "operators.ontology.generate_ontology",
            lambda: generate_ontology(md, materialize=True))
        fam, m["triples.export_dag_s"] = tracer.timed(
            "operators.triples.export_triples",
            lambda: export_triples(od, md, dedup=False))
        m_ds = m_datasource_triples(corpus, md["datasets"])
        rpt = report_triples(corpus, md["datasets"])
        _, m["latent.m_datasource_s"] = tracer.timed(
            "functions.mquery.m_datasource_triples", m_ds.count)
        _, m["latent.report_s"] = tracer.timed("functions.layout.report_triples", rpt.count)
        union = fam.unionByName(m_ds).unionByName(rpt)
        m["triples.union_rows"], m["triples.union_count_s"] = tracer.timed(
            "operators.triples.union_count", union.count)
        distinct, m["triples.dedup_count_s"] = tracer.timed(
            "operators.triples.dedup_count",
            lambda: union.dropDuplicates(TRIPLE_COLS).localCheckpoint(eager=True))
        m["triples.distinct_rows"] = distinct.count()
        m["triples.dup_ratio"] = 1 - m["triples.distinct_rows"] / max(m["triples.union_rows"], 1)
        _, m["pipeline.nodes_edges_s"] = tracer.timed(
            "pipeline.nodes_edges",
            lambda: [f.count() for f in nodes_edges(distinct)])
        build: dict = {}
        with counters.measure(build):
            bt, m["pipeline.build_call_s"] = tracer.timed(
            "pipeline.build_triples", lambda: build_triples(corpus))
            n_build, m["pipeline.action_s"] = tracer.timed("pipeline.action", bt.count)
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.build_{k}"] = build[k]
        m["spark.shuffle_write_mb"] = build["shuffle_write_mb"]
        staged_rows = len(read_rows(os.path.join(self.run_root, "batch-0", "triples"), ["pred"]))
        m["staged.missing_vs_build"] = n_build - staged_rows
        m.update(self.manifest_figures(spark))
        return m

    def manifest_figures(self, spark) -> dict[str, float]:
        """Per-stage wall and bytes written by the last iteration's run."""
        from powerbi_ontology_extractor_spark.plans.manifest import ManifestRunner

        m = {}
        first: dict[str, int] = {}
        for r in ManifestRunner(spark, self.last_run_dir).records():
            first.setdefault(r.stage, r.wall_ms)
        for stage in ("corrupt_rows", "triples", "nodes", "edges"):
            m[f"manifest.stage_ms.{stage}"] = first.get(stage, 0)
        size = 0
        for dirpath, _, files in os.walk(self.last_run_dir):
            size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        m["manifest.write_mb"] = size / 1e6
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.staged_{k}"] = self.run_jobs.get(k, 0)
        return m


def _grams(text: str, n: int = 3) -> set[str]:
    toks = re.split(r"\s+", text.strip().lower())
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def jaccard(a: str, b: str) -> float:
    ga, gb = _grams(a), _grams(b)
    union = len(ga | gb)
    return 1.0 if union == 0 else len(ga & gb) / union


def check_pairs(pairs, docs: dict[int, str], planted) -> list[str]:
    """Near-duplicate pairs against an exact recomputation."""
    errors = []
    seen = set()
    for id1, id2, j in pairs:
        a, b = int(id1), int(id2)
        key = frozenset((a, b))
        if a == b or key in seen:
            errors.append(f"doc pair ({id1}, {id2}) repeated or reflexive")
        seen.add(key)
        exact = jaccard(docs[a], docs[b])
        if exact < DEDUP_THRESHOLD or abs(exact - j) > 1e-9:
            errors.append(f"doc pair ({id1}, {id2}): jaccard {j}, exact {exact}")
    for a, b in planted:
        if jaccard(docs[a], docs[b]) >= 0.85 and frozenset((a, b)) not in seen:
            errors.append(f"planted near-duplicate ({a}, {b}) not found")
    return errors[:20]


class CanonDebt(Workload):
    """Cross-dashboard canonicalization and semantic-debt analytics on
    frames prepared in set-up, plus MinHash document dedup."""

    name = "canon_debt"
    # An iteration's calls, in order; a leg reports the median of its
    # calls.  The first call after another leg's is 30-60% slower than a
    # repeat (measured), so each leg's calls run back to back: every run
    # then has exactly one switched call per leg.  Interleaving the legs
    # would make most calls switched ones and the run ~10-15 s longer.
    order = ("leg1",) + ("leg2",) * 4 + ("leg3",) * 2
    outputs = {"leg1": "mapping", "leg2": "debt", "leg3": "pairs"}

    def __init__(self, cache: str, seed: int, smoke: bool, parts: int):
        self.corpus = CorpusBatch(cache, 4 if smoke else 16, seed, parts)
        self.docs = DocSet(cache, 200 if smoke else 5000, seed, parts)
        self.first: dict[str, str] = {}
        self.counts: dict[str, float] = {}
        self.walls: list[dict] = []

    def setup(self, spark, tracer) -> list[str]:
        """Prepare the frames and the legs' calls and checks."""
        from powerbi_ontology_extractor_spark.operators.analytics import analyze_debt
        from powerbi_ontology_extractor_spark.operators.canonicalize import (
            entity_canonical_mapping,
        )
        from powerbi_ontology_extractor_spark.operators.dedup import (
            minhash_near_duplicates,
        )
        from powerbi_ontology_extractor_spark.operators.extract import extract_all
        from powerbi_ontology_extractor_spark.operators.ontology import (
            generate_ontology,
        )
        from powerbi_ontology_extractor_spark.sources.corpus import read_corpus

        import kg_oracles

        with self.aside():
            self.corpus.ensure()
            self.docs.ensure()
            errors = self.corpus.check() + self.docs.check()
        corpus = read_corpus(spark, self.corpus.path)
        md, self.counts["extract.extract_all_s"] = tracer.timed(
            "operators.extract.extract_all",
            lambda: extract_all(corpus, materialize=True))
        od, self.counts["ontology.generate_s"] = tracer.timed(
            "operators.ontology.generate_ontology",
            lambda: generate_ontology(md, materialize=True))
        self.md, self.od = md, od
        glob = self.corpus.glob()
        with self.aside():
            clusters = sorted(_oracle(kg_oracles.canonical_clusters_sql(glob)))
            debt = sorted(r[:4] for r in _oracle(kg_oracles.debt_conflicts_sql(glob)))
            rules = sorted(r[:2] for r in _oracle(kg_oracles.rule_conflict_groups_sql(glob)))
        docs = dict(self.docs.docs)
        self.calls = {
            "leg1": ("operators.canonicalize.entity_canonical_mapping",
                     lambda: entity_canonical_mapping(
                         od["ontology_entities"], md["properties"]).collect(),
                     lambda rows: check_mapping(rows, clusters)),
            "leg2": ("operators.analytics.analyze_debt",
                     lambda: analyze_debt(
                         md["properties"], md["relationships"], od["business_rules"]
                     ).collect(),
                     lambda rows: check_debt(rows, debt, rules)),
            "leg3": ("operators.dedup.minhash_near_duplicates",
                     lambda: minhash_near_duplicates(
                         spark.read.parquet(self.docs.path)).collect(),
                     lambda rows: check_pairs(
                         [(r["id1"], r["id2"], r["jaccard"]) for r in rows],
                         docs, self.docs.planted)),
        }
        # a process's first MinHash call pays Python-worker and UDF
        # start-up; pay it here, on a tenth of the documents, rather than
        # in one of leg3's two timed calls (leg2's median skips its cold
        # first call)
        with tracer.span("warm-up"):
            minhash_near_duplicates(
                spark.read.parquet(self.docs.path).where(
                    f"doc_id < {self.docs.n_docs // 10}")).collect()
        return errors

    def call(self, leg: str, tracer):
        """One checked call of a leg: (rows, seconds, errors)."""
        name, fn, check = self.calls[leg]
        rows, dt = tracer.timed(name, fn)
        errors = check(rows)
        # outputs are a pure function of the inputs: every call must
        # reproduce the first one's sorted rows
        digest = _sha(rows)
        if self.first.setdefault(self.outputs[leg], digest) != digest:
            errors.append(f"{self.outputs[leg]} rows changed between calls")
        return rows, dt, errors

    def iteration(self, spark, i: int, tracer):
        walls: dict[str, list[float]] = collections.defaultdict(list)
        errors, out = [], {}
        for leg in self.order:
            out[leg], dt, errs = self.call(leg, tracer)
            walls[leg].append(dt)
            errors += [(leg, e) for e in errs]
        legs = {leg: statistics.median(w) for leg, w in walls.items()}
        self.walls.append({leg: [round(x, 3) for x in w] for leg, w in walls.items()})
        mapping, debt, pairs = out["leg1"], out["leg2"], out["leg3"]
        self.counts.update({
            "canonicalize.entities_in": len(mapping),
            "canonicalize.canonical_ids": len({r["canonical_iri"] for r in mapping}),
            "analytics.debt_rows": len(debt),
            "dedup.verified_pairs": len(pairs),
        })
        return legs, errors

    def info(self) -> dict:
        return {**self.first, "calls_s": self.walls}

    def layers(self, spark, tracer) -> dict[str, float]:
        from powerbi_ontology_extractor_spark.operators.analytics import (
            entity_conflicts_debt,
            property_type_conflicts,
            relationship_conflicts,
            rule_conflicts,
        )
        from powerbi_ontology_extractor_spark.operators.canonicalize import (
            lsh_candidate_pairs,
            make_minhash_udf,
        )

        m = dict(self.counts)
        props, rels = self.md["properties"], self.md["relationships"]
        rules = self.od["business_rules"]
        for name, fn in (
            ("entity_conflicts", lambda: entity_conflicts_debt(props).count()),
            ("property_type_conflicts", lambda: property_type_conflicts(props).count()),
            ("relationship_conflicts", lambda: relationship_conflicts(rels).count()),
            ("rule_conflicts", lambda: rule_conflicts(rules).count()),
        ):
            _, m[f"analytics.{name}_s"] = tracer.timed(f"operators.analytics.{name}", fn)
        # the same shingling and band geometry minhash_near_duplicates uses
        docs = spark.read.parquet(self.docs.path).selectExpr(
            "CAST(doc_id AS STRING) AS id", "text")
        sig = make_minhash_udf(128, shingle_k=3, unit="word")
        _, m["dedup.signatures_s"] = tracer.timed(
            "operators.canonicalize.make_minhash_udf",
            lambda: docs.select(sig("text").alias("s")).localCheckpoint(eager=True))
        m["dedup.candidate_pairs"], m["dedup.candidates_s"] = tracer.timed(
            "operators.canonicalize.lsh_candidate_pairs",
            lambda: lsh_candidate_pairs(docs, "id", "text", num_hashes=128, bands=32,
                                        unit="word", shingle_k=3).count())
        m["dedup.verify_yield"] = m["dedup.verified_pairs"] / max(m["dedup.candidate_pairs"], 1)
        return m


WORKLOADS = {w.name: w for w in (KgStaged, CanonDebt)}
