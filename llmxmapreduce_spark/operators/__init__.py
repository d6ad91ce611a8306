"""DataFrame→DataFrame operators (SURVEY.md §2).

Used by the paper's pipelines:

- ``llm_op``        — the generic batched-LLM ``mapInPandas`` operator
                      (retry, dead letters, prompt cache)
- ``chunker``       — C1-C3 token-budget chunking / bin-packing
- ``topk``          — T1-T4/T6/T7 sort/limit/top-k family
- ``sampling``      — T5 seeded suggestion sampling
- ``grouping``      — C6/C7 paper grouping and hash batches
- ``crawl_ops``     — P6 crawl filter + backfill, A5 topic grouping
- ``skeleton``      — markdown ⇄ tree parse/serialize, J1 alignment
- ``digest_ops``    — A3 digest merge, digest build
- ``citations``     — P8 scrub, P12 renumbering, J3 index join
- ``figures``       — J5 figure anchoring
- ``eval_ops``      — A8 averaging, A9 claim metrics, InfiniteBench scorers,
                      A10 fact dedup
- ``rouge``         — ROUGE-Lsum
- ``dedup``         — exact / MinHash-LSH / SimHash / n-gram Jaccard dedup
- ``components``    — connected components (under MinHash fact dedup)
- ``url_filter``    — domain blocklist, URL canonicalize/dedup, badwords
- ``text_stats``    — quality features, fingerprints, repetition stats
- ``decontamination`` — benchmark n-gram overlap (under ``badwords_filter``)
- ``stage_metrics`` — per-stage telemetry (D10)

The other modules here are the operator library that no paper query
imports (tests/test_package_closure.py lists them).
"""
