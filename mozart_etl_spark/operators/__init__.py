"""Large-scale data-pipeline operators (beyond the reference surface).

- ``dedup``       exact / n-gram Jaccard / MinHash-LSH / SimHash /
                  repeated-span discovery+removal / novelty filter /
                  connected components
- ``text``        token stats, quality scoring, language-ID, fingerprints
- ``similarity``  embedding cosine KNN (brute-force + LSH-bucketed)
- ``multimodal``  binary-column plumbing with stubbed decoders
- ``corpus``      sampling, chunking, packing, caps, skew tooling,
                  distributed prefix sums / row numbering
- ``quality``     column profiling, referential-integrity audits
- ``events``      N-stage funnels, backward-inclusive as-of joins

All operators are pure DataFrame -> DataFrame transformers: no driver
collects, no Python row UDFs anywhere, shuffle keys chosen to stay
balanced at 100 TB. Relational work is JVM expressions. The four
dense numeric folds (MinHash and SimHash signatures, LSH hyperplane
projection, int8 quantization) run only as vectorized numpy kernels
behind Arrow ``mapInPandas``; hashing stays a JVM expression. Their
higher-order-function twins were removed: Spark evaluates those
lambdas interpreted, per element, and on the 7 fold queries
(``local[4]``, interleaved pairs) the kernels won 41 of 42 pairs at
sf0.01 and 28 of 28 at sf0.1 with identical rows and value hashes,
e.g. median dedup_simhash 0.66 s vs 5.86 s and
embedding_quantize_check 0.34 s vs 5.06 s at sf0.1 (README.md has
the table). A cluster must therefore allow Python workers.
"""
