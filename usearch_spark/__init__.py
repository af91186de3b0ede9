"""usearch_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference search engine (crawler +
link-graph + full-text index + PageRank), re-expressed Spark-first.

Layout:
  session     - SparkSession builder tuned for local[N] and cluster use
  schema      - the data model map (links, edges, documents, payloads)
                and the testdata table list
  sources     - testdata loaders + DataFrame-backed graph/index stores
  functions   - scalar/text functions (tokenize, URL, extraction, analysis)
  operators   - search (postings/BM25/phrase/pagination), dedup, similarity,
                summarize
  plans       - iterative fixpoint harness + graph algorithms (PageRank,
                SSSP, coloring)
  streaming   - crawl pass as batch + Structured Streaming wrappers
"""

__version__ = "0.1.0"
