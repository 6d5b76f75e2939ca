"""Composable DataFrame operators.

Each module maps to a SURVEY.md §2 section:

- ``relational``   E5 relational completeness wrappers + the join/agg
                   patterns (J1/J2/J4/J5/J9, A1/A2/A4/A5/A6, U1/U3, O1).
- ``synonymizer``  the node-synonymizer query family (EP3).
- ``drugbank``     DrugBank record extraction (EP1 front half).
- ``ner``          the NER stage (X1 UDF + J7/A2/A3/U1 merges).
- ``identifiers``  EP2 identifier alignment (F7 + J8 + A6).
- ``dedup``        E1 exact/near dedup (hash, MinHash-LSH incl. the stored
                   incremental band table, SimHash, Jaccard).
- ``similarity``   E2 embedding similarity search (cosine top-k, LSH/IVF
                   indexes with incremental append, serving probes).
- ``textanalysis`` E3 language-ID, quality scoring, token stats,
                   fingerprints, TF-IDF, PII, feature-hashed vectors.
- ``multimodal``   E4 binary columns: REAL stdlib PNG/WAV codecs,
                   perceptual image hashes, FFT audio features.
- ``temporal``     as-of / range joins + SCD2 dimension versioning.
- ``graph``        connected components (min-label propagation), PageRank,
                   triangles, link prediction, cores, BFS, label
                   propagation, random walks, modularity.
- ``sampling``     deterministic hash sample / split / stratified draw.
- ``corpus``       cleaning, chunking, decontamination, sequence packing,
                   continuous ingest (batch + streaming), data-card report.
- ``bpe``          distributed BPE tokenizer training + application.
- ``unigram``      unigram-LM (SentencePiece-style) tokenizer: EM
                   training over the distinct-word vocab + Viterbi apply.
- ``web``          web-crawl curation: HTML→text, link extraction, URL
                   canonicalization (codegen), robots/sitemap handling,
                   WARC→documents ingest.
- ``evals``        evaluation metrics: exact match, multiset token F1,
                   ROUGE-n (codegen) and ROUGE-L (LCS kernel).
- ``sft``          instruction-tuning prep: chat-template rendering
                   with assistant-span loss-mask offsets.
- ``sketches``     mergeable HLL / KLL / theta sketch aggregations.
- ``checks``       declarative data-quality constraint reports.
- ``scale``        salting, bucketing, skew profiling, compaction.
"""
