#!/usr/bin/env python
"""Extra benchmarks — guide §1.4 noop-sink stage isolation.

NOT the driver-graded bench (bench.py is frozen); this file exists so
optimization work can attribute wall-clock to pipeline stages.  Reads
the same $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS contract.

Usage:
    python bench_extra.py minhash   # stage breakdown of minhash_dedup_docs,
                                    # candidate and verify-input row counts
    python bench_extra.py kg        # stage breakdown of kg_build_triples
    python bench_extra.py rel       # the relational headline queries
    python bench_extra.py dag       # driver DAG build of the emission families
    python bench_extra.py canon     # entity_canonical_mapping: wall, jobs, split
"""

from __future__ import annotations

import json
import os
import sys
import time


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "minhash"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from powerbi_ontology_extractor_spark import get_spark

    spark = get_spark(app_name="pbi-kg-bench-extra", parallelism=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    timings: dict[str, list[float]] = {}

    def timed(name: str, fn, trials: int = 2):
        walls = []
        for _ in range(trials):
            sc.setJobDescription(name)
            t0 = time.perf_counter()
            fn()
            walls.append(round(time.perf_counter() - t0, 3))
            sc.setJobDescription(None)
        timings[name] = walls

    if which == "minhash":
        from pyspark.sql import functions as F

        from powerbi_ontology_extractor_spark.operators.canonicalize import (
            lsh_candidate_pairs,
            make_minhash_udf,
        )
        from powerbi_ontology_extractor_spark.operators.dedup import (
            minhash_near_duplicates,
            word_ngrams,
        )
        from plan_audit import join_output_rows

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs.count()  # warm scan
        d = docs.select(
            F.col("doc_id").cast("string").alias("id"),
            F.col("text").alias("text"),
        )
        mh = make_minhash_udf(128, shingle_k=3, unit="word")

        # A: signature computation only
        timed("A_signatures", lambda: _noop(d.select("id", mh("text").alias("sig"))))
        # B: LSH candidate pairs (sig + banding + capped collect + dropDup)
        cand_count = {}

        def _b():
            cand_count["n"] = lsh_candidate_pairs(
                d, "id", "text", num_hashes=128, bands=32, unit="word", shingle_k=3
            ).count()

        timed("B_candidates", _b)
        # D: the verify side's per-document gram arrays only
        timed("D_grams", lambda: _noop(word_ngrams(d, "text", 3)))
        # C: full path; the first gram join's output is the verify's
        # candidate input (one gram row per id)
        full = {}

        def _c():
            df = minhash_near_duplicates(docs, jaccard_threshold=0.7)
            full["n"] = len(df.collect())
            full["verify_in"] = join_output_rows(df)[-1]

        timed("C_full", _c)
        timings["candidates"] = [cand_count["n"]]
        timings["verify_input_rows"] = [full["verify_in"]]
        timings["pairs"] = [full["n"]]

    elif which == "kg":
        from powerbi_ontology_extractor_spark.operators.extract import parse_models
        from powerbi_ontology_extractor_spark.pipeline import _assemble, build_triples
        from powerbi_ontology_extractor_spark.sources.corpus import corpus_df

        kg_repos = int(os.environ.get("SPARK_GRAFT_KG_REPOS", "400"))
        # same warm-up as bench.py
        build_triples(corpus_df(spark, n_repos=4)).count()
        corpus = corpus_df(
            spark, n_repos=kg_repos, num_partitions=max(cpus, 8)
        ).persist()
        corpus.count()

        # A: parse + models checkpoint only
        timed(
            "A_models_ckpt",
            lambda: parse_models(corpus).localCheckpoint(eager=True).count(),
            trials=2,
        )
        # B: models ckpt + 6-frame concurrent barrier round + the
        # triple DAG build (no action on the triples)
        timed("B_barrier_round_and_dag", lambda: _assemble(corpus), trials=2)
        # C: full build (what bench.py times)
        timed("C_full_build", lambda: build_triples(corpus).count(), trials=2)
        # D: DAG construction + analysis only (no action): how much is
        # driver-side plan building?
        def _dag_only():
            t = build_triples(corpus)
            t.schema  # forces analysis, not execution

        timed("D_dag_analysis", _dag_only, trials=2)

    elif which == "dag":
        # driver-side DAG build (build + schema analysis, no action) of
        # each emission family over corpus_df(8)'s checkpointed frames;
        # warm (one untimed build each), min of 7
        from powerbi_ontology_extractor_spark.functions.layout import report_triples
        from powerbi_ontology_extractor_spark.functions.mquery import (
            m_datasource_triples,
        )
        from powerbi_ontology_extractor_spark.operators.contracts import (
            contract_triples,
            permissions_from_dashboard,
        )
        from powerbi_ontology_extractor_spark.operators.exporters import (
            ontoguard_bindings,
        )
        from powerbi_ontology_extractor_spark.operators.extract import extract_all
        from powerbi_ontology_extractor_spark.operators.fabric_owl import (
            fabric_iq_owl_triples,
        )
        from powerbi_ontology_extractor_spark.operators.ontology import (
            generate_ontology,
        )
        from powerbi_ontology_extractor_spark.operators.triples import export_triples
        from powerbi_ontology_extractor_spark.sources.corpus import corpus_df

        corpus = corpus_df(spark, n_repos=8).localCheckpoint(eager=True)
        md = extract_all(corpus, materialize=True)
        od = generate_ontology(md, materialize=True)
        read_set = permissions_from_dashboard(
            md["entities"], md["relationships"], md["measures"]
        ).localCheckpoint(eager=True)
        bindings = ontoguard_bindings(
            od["ontology_entities"], md["properties"]
        ).localCheckpoint(eager=True)
        builds = {
            "export_triples": lambda: export_triples(od, md, dedup=False),
            "m_datasource_triples": lambda: m_datasource_triples(
                corpus, md["datasets"]),
            "report_triples": lambda: report_triples(corpus, md["datasets"]),
            "fabric_iq_owl_triples": lambda: fabric_iq_owl_triples(
                od["ontology_entities"], md["properties"],
                od["ontology_relationships"], od["business_rules"],
                bindings=bindings),
            "contract_triples": lambda: contract_triples(read_set),
        }
        for name, build in builds.items():
            build().schema  # warm-up
            walls = []
            for _ in range(7):
                t0 = time.perf_counter()
                build().schema  # forces analysis, not execution
                walls.append(time.perf_counter() - t0)
            timings[name] = [round(min(walls), 3)]

    elif which == "canon":
        # entity_canonical_mapping over corpus_df(16)'s checkpointed
        # frames: warm min-of-7 wall and Spark jobs of one call, then the
        # call's parts (each warm, min of 7): LSH candidates, scoring,
        # and the star iterations with their count
        import inspect

        from powerbi_ontology_extractor_spark.operators import canonicalize as C
        from powerbi_ontology_extractor_spark.operators.extract import extract_all
        from powerbi_ontology_extractor_spark.operators.ontology import (
            generate_ontology,
        )
        from powerbi_ontology_extractor_spark.sources.corpus import corpus_df

        md = extract_all(corpus_df(spark, n_repos=16), materialize=True)
        od = generate_ontology(md, materialize=True)
        entities, properties = od["ontology_entities"], md["properties"]
        params = inspect.signature(C.entity_canonical_mapping).parameters
        bands, hashes, min_jaccard = (
            params[k].default for k in ("name_bands", "num_hashes", "min_prop_jaccard")
        )

        def warm_min(name, fn):
            fn()
            walls = []
            for _ in range(7):
                t0 = time.perf_counter()
                fn()
                walls.append(time.perf_counter() - t0)
            timings[name] = [round(min(walls), 3)]

        def job_names(group, fn):
            sc.setJobGroup(group, group)
            try:
                fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jsc = sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            return [jsc.statusStore().job(j).name() for j in jobs]

        def mapping():
            return C.entity_canonical_mapping(entities, properties).collect()

        warm_min("mapping_s", mapping)
        timings["mapping_jobs"] = [len(job_names("mapping", mapping))]

        ents = C._entity_rows(entities, properties).localCheckpoint(eager=True)

        def candidates():
            return C.lsh_candidate_pairs(
                ents, "id", "blocking_text", num_hashes=hashes, bands=bands
            ).localCheckpoint(eager=True)

        warm_min("candidates_s", candidates)
        cands = candidates()

        def scoring():
            accepted = C._accepted_pairs(ents, cands, min_jaccard)
            return accepted.localCheckpoint(eager=True)

        warm_min("scoring_s", scoring)
        accepted = scoring()

        def stars():
            return C.connected_components(accepted, "id1", "id2").collect()

        warm_min("star_iterations_s", stars)
        # one eager localCheckpoint job for the input, one per iteration
        names = job_names("stars", stars)
        timings["star_iterations"] = [
            sum(n.startswith("localCheckpoint") for n in names) - 1
        ]
        timings["_counts"] = [ents.count(), cands.count(), accepted.count()]

    elif which == "rel":
        import __spark_entry__ as entry

        q = entry.queries()
        for name in [
            "q_pricing_summary",
            "q_top_orders",
            "q_region_volume",
            "q_top_order_per_customer",
            "q_events_hourly",
            "q_embed_topk",
            "q_docs_token_counts",
        ]:
            q[name](spark, sf_dir).count()  # warm each plan once
            timed(name, lambda n=name: q[n](spark, sf_dir).count(), trials=2)

    print(json.dumps({"which": which, "sf_dir": sf_dir, "cpus": cpus,
                      "loadavg": os.getloadavg()[0], "timings": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
