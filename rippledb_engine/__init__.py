"""rippledb_engine — the analytics engine tier that grew beside the RDF
store: media codecs and perceptual hashes, PQ/IVF vector search, BPE and
unigram tokenizers, language ID and quality classifiers, document dedup,
crawl streaming, graph analytics and the pipeline queries over the
``documents``/``events``/``embeddings`` testdata.

The RDF store (:mod:`rippledb_spark`) never imports this package; it
depends on the store (sessions, the query-definition type, table access,
the iterative-loop helpers), never the other way round. Its queries
register in :mod:`rippledb_engine.registry`, not in the store's registry.
"""
