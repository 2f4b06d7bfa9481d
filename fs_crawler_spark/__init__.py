"""fs_crawler_spark — a from-scratch, PySpark-native URL-frontier + fetch
scheduler with the query/data-processing capabilities of rappdw/fs-crawler.

NOT a port: the reference (/root/reference, Python + SQLite, single process)
tells us WHAT to compute — BFS frontier expansion with first-write-wins dedup,
politeness batching, relationship-type resolution, horizon analytics — and we
re-express every operator as declarative DataFrame algebra so Catalyst/Tungsten
/AQE pick the physical plan. The engine targets Iceberg tables of
Common-Crawl-style pages at 10^10-URL-frontier scale; this repo tests on
local[32] parquet but every operator is written for the 1000-executor case
(partitioned anti-joins, broadcast hints, salting, advisory bloom pre-filters).

Layout:
    schemas        canonical StructTypes (pages, vertices, edges, frontier, ...)
    session        tuned SparkSession factory (AQE, Arrow, skew-join)
    functions.urls URL canonicalization / hashing / host extraction (built-ins)
    functions.extract  vectorized Arrow UDFs: html -> text + outlinks
    functions.textfns  language-ID, quality score, token count, fingerprint
    sources.corpus     deterministic synthetic pages corpus (from documents)
    sources.checkpoint snapshot store (parquet impl of the Iceberg commit model)
    sources.csv_compat reference-schema CSV exporter/reader
    operators.frontier   seen-set anti-join dedup (F1/F2/F7)
    operators.politeness per-host budget window + skew salting (B1/B3/O5)
    operators.bloom      sharded advisory bloom pre-filter for the streaming
                         ingest (§2.9 UDAF-analog; the crawl loop's seen
                         anti-join is exact and needs none)
    operators.robots     robots.txt disallow gate
    operators.graph      resolution rule (A4), horizon counts (A2/A3),
                         validator pivots (A5-A7), hop filter (J6)
    operators.dedup      exact / minhash-LSH / simhash / jaccard / embedding
    operators.similarity brute-force + LSH-bucketed cosine top-k
    operators.multimodal binary-column decode/feature plumbing (stubbed codecs)
    plans.crawl          crawl_round pure function + resumable driver loop
    batching             reference-parity wave partitioning (B1)
"""

__version__ = "0.1.0"
