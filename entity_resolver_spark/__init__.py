"""entity_resolver_spark — a from-scratch PySpark-native record-linkage engine.

Re-expresses the capabilities of yalelibrary-metadata-services/entity_resolver
(block -> score -> cluster over entity records) as idiomatic Spark DataFrame
plans over multi-turn transcript tables (conv_id, turn_idx, role, text, tool, ts).

Not a port: the reference is a single-node CPython pipeline (dict-of-dict state,
pickles, OpenAI embeddings, Weaviate ANN); this engine is declarative DataFrame
plans optimized by Catalyst, with blocking over four key families (exact name
key, name anchors, text MinHash-LSH, rare shingles), vectorized Arrow-batched
pairwise features, a broadcast logistic-regression scorer, and iterative
large-star/small-star connected components.
"""

__version__ = "0.1.0"
