"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BFS crawl on sf0.001.
``queries()`` — one entry per implemented operator family (SURVEY.md §2 +
the training-data pipeline operators), each (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — exact DuckDB-SQL oracles for every SQL-expressible query
(crawl BFS via recursive CTE over the same arithmetic outlink DAG the corpus
builder embeds; md5-based hashes so text/dedup pipelines are reproducible
cross-engine). LSH ANN and the multimodal feature kernel are also exactly
oracled: deterministic md5 hyperplanes inline as SQL literals, and the fake
feature is integer micro-unit arithmetic reproducible in SQL.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs_crawler_spark.functions.extract import extract_pages
from fs_crawler_spark.functions.textfns import (
    bpe_token_count,
    doc_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    text_sha,
    token_count,
    ws_tokens,
)
from fs_crawler_spark.functions.urls import url_hash, url_host
from fs_crawler_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    simhash,
    simhash_near_dup_pairs,
    token_jaccard_pairs,
)
from fs_crawler_spark.operators.frontier import anti_join_seen, dedup_frontier
from fs_crawler_spark.operators.graph import (
    birth_year,
    csr_entries,
    determine_resolution,
    invalid_birth_decade_histogram,
    invalid_by_iteration_histogram,
    invalid_children,
    relationship_counts,
    relationships_to_resolve,
    rewrite_relationships,
    load_ordering,
    save_ordering,
    save_valid_graph,
    validator_stats,
    vertex_key,
    with_positions,
)
from fs_crawler_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synth_media,
)
from fs_crawler_spark.operators.politeness import select_batch
from fs_crawler_spark.operators.similarity import (
    _centroids,
    _hyperplanes,
    ann_lsh_topk,
    brute_force_topk,
    cosine,
    embedding_near_dup_pairs,
    ivf_topk,
)
from fs_crawler_spark.plans.crawl import CrawlConfig, read_output, run_crawl
from fs_crawler_spark.plans.resolve import apply_fact_resolution, apply_resolution
from fs_crawler_spark.sources.corpus import (
    build_pages,
    build_persons_pages,
    build_relationship_facts,
    doc_url,
    oracle_edges_sql,
)

# Shared CTE prefix reconstructing the corpus outlink DAG in DuckDB
# (fs_crawler_spark/sources/corpus.py pins the arithmetic rule).
_CTES = oracle_edges_sql()

_FACTS_SQL = (
    "['AdoptiveParent','BiologicalParent','FosterParent','GuardianParent',"
    "'StepParent','SociologicalParent','SurrogateParent']"
)

# Persons-mode pipeline CTEs (appended after the recursive corpus CTEs):
# exhaustive BFS -> parent rels -> A4 grouping -> per-rel flags ->
# resolved_edges with the fact-index key (fact_k: a=0, b=1, s=2 — matches
# corpus.build_relationship_facts).
_PERSONS_PIPE = """
bfs(d) AS (
    SELECT 0
    UNION
    SELECT l.dst FROM bfs b JOIN links l ON l.src = b.d
),
prel AS (
    SELECT b.d AS child, b.d * 2 + 1 AS parent,
           CASE WHEN b.d % 5 = 0 THEN 'R' || b.d || 's' ELSE 'R' || b.d || 'a' END AS rel_id,
           CASE WHEN b.d % 5 = 0 THEN 2 ELSE 0 END AS fact_k
    FROM bfs b, params WHERE b.d * 2 + 1 < n
    UNION ALL
    SELECT b.d, b.d * 2 + 2,
           CASE WHEN b.d % 5 = 0 THEN 'R' || b.d || 's' ELSE 'R' || b.d || 'b' END,
           CASE WHEN b.d % 5 = 0 THEN 2 ELSE 1 END
    FROM bfs b, params WHERE b.d * 2 + 2 < n
),
colors AS (SELECT d, CASE WHEN d % 5 < 2 THEN -1 WHEN d % 5 < 4 THEN 1 ELSE 0 END AS color FROM urls),
rels AS (
    SELECT DISTINCT p.child, p.rel_id, c.color
    FROM prel p
    JOIN colors c ON c.d = p.parent
    JOIN bfs v ON v.d = p.parent
),
grp AS (SELECT child, color, count(*) AS grp_size FROM rels GROUP BY 1, 2),
tot AS (SELECT child, color, grp_size,
               sum(grp_size) OVER (PARTITION BY child) AS total FROM grp),
flagged AS (
    SELECT r.rel_id,
           CASE WHEN t.grp_size = 1 AND t.total < 3 THEN 0 ELSE 1 END AS f
    FROM rels r JOIN tot t ON r.child = t.child AND r.color = t.color
),
res AS (
    SELECT rel_id,
           CASE WHEN max(f) = 1 THEN 'Resolve' ELSE 'AssumedBiological' END AS type
    FROM flagged GROUP BY rel_id
),
resolved_edges AS (
    SELECT us.url AS source, ud.url AS destination,
           coalesce(r.type, 'UntypedParent') AS type, p.rel_id AS id,
           p.child, p.parent, p.fact_k
    FROM prel p
    JOIN urls us ON us.d = p.child
    JOIN urls ud ON ud.d = p.parent
    LEFT JOIN res r ON r.rel_id = p.rel_id
)"""

_DOC_ID_RE = r"/doc/(\d+)$"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _doc_id_of_url(col):
    return F.regexp_extract(col, _DOC_ID_RE, 1).cast("long")


# ---------------------------------------------------------------------------
# Crawl family
# ---------------------------------------------------------------------------
_CRAWL_CACHE: dict[tuple, str] = {}


def _crawled(
    spark: SparkSession,
    sf_dir: str,
    mode: str,
    max_rounds: int,
    host_budget: int | None = None,
    robots_rules: tuple[tuple[str, str], ...] | None = None,
) -> str:
    """Run (or reuse) a crawl and return its checkpoint dir. Deterministic
    corpora make in-process reuse safe; each queries() entry stays a pure
    function of (spark, sf_dir)."""
    key = (sf_dir, mode, max_rounds, host_budget, robots_rules)
    if key not in _CRAWL_CACHE:
        builder = build_persons_pages if mode == "persons" else build_pages
        pages = builder(spark, sf_dir).persist()
        robots = (
            spark.createDataFrame(
                list(robots_rules), "host string, disallow_prefix string"
            )
            if robots_rules
            else None
        )
        ckpt = tempfile.mkdtemp(prefix=f"crawl_{mode}_")
        run_crawl(
            spark,
            pages,
            [doc_url(0)],
            ckpt,
            CrawlConfig(max_rounds=max_rounds, host_budget=host_budget, mode=mode),
            robots=robots,
        )
        pages.unpersist()
        _CRAWL_CACHE[key] = ckpt
    return _CRAWL_CACHE[key]


def q_crawl_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full crawl loop (SURVEY.md §3.1): 6 BFS rounds, no budget; the
    url -> iteration assignment is the crawl-ordering correctness gate."""
    ckpt = _crawled(spark, sf_dir, "web", 6)
    return read_output(spark, ckpt, "vertices").select(
        F.col("id").alias("url"), F.col("iteration").cast("int").alias("iteration")
    )


def q_crawl_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-gated crawl (north_rule "robots.txt-gated batch fetch rounds"):
    hub urls whose path starts with /doc/3 are disallowed — they enter the
    seen-set (never retried) but are never fetched and never expand, so whole
    subtrees behind blocked hubs disappear from the BFS."""
    ckpt = _crawled(
        spark,
        sf_dir,
        "web",
        6,
        robots_rules=(("hub.example.com", "/doc/3"),),
    )
    return read_output(spark, ckpt, "vertices").select(
        F.col("id").alias("url"), F.col("iteration").cast("int").alias("iteration")
    )


def q_crawl_budget_reachable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted crawl (politeness window active) run to frontier exhaustion;
    the fetched url SET must equal plain BFS reachability (budget defers,
    never drops)."""
    ckpt = _crawled(spark, sf_dir, "web", 80, host_budget=40)
    return read_output(spark, ckpt, "vertices").select(F.col("id").alias("url"))


def q_persons_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genealogy-parity crawl to exhaustion: vertices carry the reference's
    Individual fields (VERTEX schema, graph_db_impl.py:29-38)."""
    ckpt = _crawled(spark, sf_dir, "persons", 40)
    return read_output(spark, ckpt, "vertices").select(
        "id", "color", "surname", "given_name",
        F.col("iteration").cast("int").alias("iteration"), "lifespan",
    )


def q_persons_edges_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl + lazy A4 resolution (the reference's default mode,
    implementation.notes.md:23): edges re-typed AssumedBiological/Resolve."""
    ckpt = _crawled(spark, sf_dir, "persons", 40)
    edges = read_output(spark, ckpt, "edges")
    vertices = read_output(spark, ckpt, "vertices")
    return apply_resolution(edges, vertices).select(
        "source", "destination", "type", "id"
    )


def q_persons_edges_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full lazy-resolution pipeline (reference default mode end-to-end):
    crawl -> A4 flags -> 'fetch' Resolve rels against the fact corpus (S2) ->
    GedcomX fact types (P5)."""
    ckpt = _crawled(spark, sf_dir, "persons", 40)
    edges = read_output(spark, ckpt, "edges")
    vertices = read_output(spark, ckpt, "vertices")
    resolved = apply_resolution(edges, vertices)
    final = apply_fact_resolution(resolved, build_relationship_facts(spark, sf_dir))
    return final.select("source", "destination", "type", "id")


def q_rels_to_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: distinct rel ids flagged Resolve (graph_db_impl.py:233-249)."""
    ckpt = _crawled(spark, sf_dir, "persons", 40)
    edges = read_output(spark, ckpt, "edges")
    vertices = read_output(spark, ckpt, "vertices")
    return relationships_to_resolve(apply_resolution(edges, vertices))


def q_csr_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/O2/O3: red-black CSR entries (row, col, val) of the fully-resolved
    persons graph — diagonal = vertex color, edges valued 3/2 by destination
    gender (test_db_reader.py:15-45 semantics)."""
    ckpt = _crawled(spark, sf_dir, "persons", 40)
    edges = read_output(spark, ckpt, "edges")
    vertices = read_output(spark, ckpt, "vertices")
    final = apply_fact_resolution(
        apply_resolution(edges, vertices), build_relationship_facts(spark, sf_dir)
    )
    # distributed=True: range-partitioned ordering, no single-task sort
    vp = with_positions(vertices, order_col="id", distributed=True)
    return csr_entries(vp, final).select(
        F.col("row").cast("int").alias("row"),
        F.col("col").cast("int").alias("col"),
        F.col("val").cast("int").alias("val"),
    )


def q_vertex_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/J5 ORDERING persistence round-trip (db_reader.py:46-58, 308-316):
    compute positions once (distributed), WRITE the ordering table, reload
    it, and serve the position-keyed person lookup from the persisted copy."""
    ckpt = _crawled(spark, sf_dir, "persons", 40)
    vertices = read_output(spark, ckpt, "vertices")
    vp = with_positions(vertices, order_col="id", distributed=True)
    save_ordering(vp, f"{ckpt}/ordering")
    ordering = load_ordering(spark, f"{ckpt}/ordering")
    out = vertex_key(vertices, ordering)
    return out.select(
        F.col("position").cast("long").alias("position"),
        "id",
        "given_name",
        "surname",
    )


def q_frontier_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 in isolation: candidates extracted from pages of docs < 50,
    anti-joined against a seen-set of docs < 10."""
    pages = build_pages(spark, sf_dir)
    src = pages.filter(_doc_id_of_url(F.col("url")) < 50)
    links = extract_pages(src).select(F.explode("links").alias("url"))
    cand = dedup_frontier(
        links.select(
            "url",
            url_hash(F.col("url")).alias("url_hash"),
            url_host(F.col("url")).alias("host"),
            F.lit(0.0).alias("priority"),
            F.lit(1).cast("int").alias("discovered_iter"),
        )
    )
    seen = pages.filter(_doc_id_of_url(F.col("url")) < 10).select(
        "url", url_hash(F.col("url")).alias("url_hash")
    )
    return anti_join_seen(cand, seen).select("url", "host")


def q_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 link extraction over the whole corpus -> distinct edge list.

    The corpus derives from a single-file scan (1 partition), so the Arrow
    extraction would otherwise run in one Python worker — spread it to the
    session's default parallelism first (no-op on an already-parallel
    corpus; guide §2.5)."""
    from fs_crawler_spark.operators.dedup import _spread

    pages = _spread(build_pages(spark, sf_dir), "url")
    return (
        extract_pages(pages)
        .select(F.col("url").alias("source"), F.explode("links").alias("destination"))
        .distinct()
    )


def q_politeness_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: per-host top-5 priority selection (two-phase salted top-k)."""
    pages = build_pages(spark, sf_dir)
    d = _doc_id_of_url(F.col("url"))
    frontier = pages.select(
        "url",
        url_hash(F.col("url")).alias("url_hash"),
        url_host(F.col("url")).alias("host"),
        (d % 17).cast("double").alias("priority"),
        F.lit(0).cast("int").alias("discovered_iter"),
    )
    batch = select_batch(frontier, host_budget=5).batch
    return batch.select("host", "url")


# ---------------------------------------------------------------------------
# Graph analytics family (reference-parity rules over TPC-H-shaped inputs)
# ---------------------------------------------------------------------------
def _rels_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.filter(F.col("l_orderkey") % 10 == 0).select(
        F.col("l_orderkey").cast("string").alias("source"),
        F.col("l_suppkey").cast("string").alias("id"),
        F.when(F.col("l_returnflag") == "R", -1)
        .when(F.col("l_returnflag") == "A", 1)
        .otherwise(0)
        .alias("color"),
    )


def q_resolution_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 resolution rule (graph.py:188-224) over lineitem-derived rels."""
    return determine_resolution(_rels_from_lineitem(spark, sf_dir))


def q_horizon_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: within/spanning/frontier counts of the corpus edge list against a
    'resolved' vertex set = docs with doc_id % 3 != 1."""
    from fs_crawler_spark.operators.dedup import _spread

    pages = build_pages(spark, sf_dir)
    edges = (
        extract_pages(_spread(pages, "url"))
        .select(F.col("url").alias("source"), F.explode("links").alias("destination"))
        .distinct()
        .withColumn("type", F.lit("UntypedParent"))
        .withColumn("id", F.lit(None).cast("string"))
    )
    vertices = pages.filter(_doc_id_of_url(F.col("url")) % 3 != 1).select(
        F.col("url").alias("id")
    )
    out = relationship_counts(edges, vertices)
    return out.select(
        F.col("within").cast("long").alias("within"),
        F.col("spanning").cast("long").alias("spanning"),
        F.col("frontier").cast("long").alias("frontier"),
    )


def q_validator_invalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: invalid-children pivot (graph_validator.py:126-154) over
    lineitem-as-edges / supplier-as-parents."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    edges = li.select(
        F.col("l_orderkey").cast("string").alias("source"),
        F.col("l_suppkey").cast("string").alias("destination"),
        F.when(F.col("l_linenumber") % 3 == 0, "BiologicalParent")
        .when(F.col("l_linenumber") % 3 == 1, "UnspecifiedParentType")
        .otherwise("UntypedParent")
        .alias("type"),
        F.col("l_partkey").cast("string").alias("id"),
    )
    vertices = sup.select(
        F.col("s_suppkey").cast("string").alias("id"),
        (F.col("s_nationkey") % 3 - 1).cast("int").alias("color"),
        F.lit(None).cast("string").alias("surname"),
        F.lit(None).cast("string").alias("given_name"),
        F.lit(0).cast("int").alias("iteration"),
        F.lit(None).cast("string").alias("lifespan"),
    )
    out = invalid_children(edges, vertices)
    return out.select(
        "source",
        F.col("male").cast("long").alias("male"),
        F.col("female").cast("long").alias("female"),
        F.col("unknown").cast("long").alias("unknown"),
        F.col("total").cast("long").alias("total"),
        "bucket",
    )


def q_rewrite_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 rewriter (relationship_rewriter.py:36-58): apply an update map and
    route edges to main/aux by final type."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (
        li.select(
            F.col("l_orderkey").cast("string").alias("source"),
            F.col("l_suppkey").cast("string").alias("destination"),
            F.when(F.col("l_linenumber") % 3 == 0, "BiologicalParent")
            .when(F.col("l_linenumber") % 3 == 1, "UnspecifiedParentType")
            .otherwise("UntypedParent")
            .alias("type"),
            F.col("l_partkey").cast("string").alias("id"),
        )
        .groupBy("source", "destination")
        .agg(F.min("type").alias("type"), F.min("id").alias("id"))
    )
    updates = (
        li.filter(F.col("l_suppkey") % 7 == 0)
        .select(
            F.col("l_orderkey").cast("string").alias("source"),
            F.col("l_suppkey").cast("string").alias("destination"),
        )
        .distinct()
        .withColumn("new_type", F.lit("StepParent"))
        .withColumn(
            "new_id", F.concat(F.lit("U"), F.col("source"), F.lit("-"), F.col("destination"))
        )
    )
    return rewrite_relationships(edges, updates).select(
        "source", "destination", "type", "id", "routed"
    )


def _validator_graph(spark: SparkSession, sf_dir: str):
    """lineitem edges + vertices for BOTH parents (suppliers) and children
    (orders), with synthetic lifespans, so A6/A7 have non-trivial answers."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    edges = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("source"),
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("destination"),
        F.when(F.col("l_linenumber") % 3 == 0, "BiologicalParent")
        .when(F.col("l_linenumber") % 3 == 1, "UnspecifiedParentType")
        .otherwise("UntypedParent")
        .alias("type"),
        F.col("l_partkey").cast("string").alias("id"),
    )

    def vert(df, key, prefix):
        k = F.col(key)
        lifespan = F.when(k % 4 == 0, F.lit("Living")).when(
            k % 4 == 1,
            F.concat((1800 + k % 150).cast("string"), F.lit("-"), (1900 + k % 99).cast("string")),
        ).when(k % 4 == 2, F.concat(F.lit("-"), (1800 + k % 100).cast("string"))).otherwise(
            F.lit("")
        )
        return df.select(
            F.concat(F.lit(prefix), k.cast("string")).alias("id"),
            (k % 3 - 1).cast("int").alias("color"),
            F.lit(None).cast("string").alias("surname"),
            F.lit(None).cast("string").alias("given_name"),
            (k % 5).cast("int").alias("iteration"),
            lifespan.alias("lifespan"),
        )

    vertices = vert(sup, "s_suppkey", "S").unionByName(vert(orders, "o_orderkey", "O"))
    return edges, vertices


def q_validator_decade_histo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: decade histogram of invalid children's birth years
    (graph_validator.py:156-159)."""
    edges, vertices = _validator_graph(spark, sf_dir)
    return invalid_birth_decade_histogram(edges, vertices).select(
        F.col("decade").cast("long").alias("decade"), F.col("n")
    )


def q_validator_iteration_histo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: invalid children per crawl iteration (graph_validator.py:183-189)."""
    edges, vertices = _validator_graph(spark, sf_dir)
    return invalid_by_iteration_histogram(edges, vertices).select(
        F.col("iteration").cast("int").alias("iteration"), F.col("n")
    )


def q_validator_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE A5/J8 validator counter row (graph_validator.py:228-246):
    vertex/edge/frontier/unknown-vertex counts, child count, the 7 invalid
    buckets, max father/mother, roots, resolution + invalid source counts.
    Suppliers with s_suppkey % 7 == 0 are held out of the graph — half queued
    in the frontier, half absent entirely — so unknown-vertex detection
    (edge dest ∉ vertices ∧ ∉ frontier) is non-trivially exercised."""
    edges, vertices = _validator_graph(spark, sf_dir)
    is_sup = F.col("id").startswith("S")
    k = F.substring(F.col("id"), 2, 30).cast("long")
    held_out = is_sup & (k % 7 == 0)
    graph_vertices = vertices.filter(~held_out)
    frontier = vertices.filter(held_out & (k % 14 == 0)).select("id")
    out = validator_stats(edges, graph_vertices, frontier)
    return out.select(*[F.col(c).cast("long").alias(c) for c in out.columns])


def q_validated_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """save_valid_graph edge output (graph_validator.py:207-217): renumbered
    (source, destination) pairs with invalid children's edges dropped."""
    edges, vertices = _validator_graph(spark, sf_dir)
    _, valid_edges, _ = save_valid_graph(vertices, edges)
    return valid_edges.select(
        F.col("source_number").cast("long").alias("source_number"),
        F.col("destination_number").cast("long").alias("destination_number"),
    )


def q_invalid_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """save_valid_graph invalid output (graph_validator.py:219-225): every
    relationship id of every invalid child."""
    edges, vertices = _validator_graph(spark, sf_dir)
    _, _, invalid_edges = save_valid_graph(vertices, edges)
    return invalid_edges


def q_birth_year_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 lifespan parse, including the reference's '-1'-substring quirk."""
    docs = _docs(spark, sf_dir)
    lifespan = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("Living"))
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                (1800 + F.col("doc_id") % 200).cast("string"),
                F.lit("-"),
                (1880 + F.col("doc_id") % 99).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("-"), (1800 + F.col("doc_id") % 100).cast("string")),
        )
        .otherwise(F.lit(""))
    )
    out = docs.select("doc_id", lifespan.alias("lifespan"))
    return out.select(
        "doc_id", "lifespan", birth_year(F.col("lifespan")).cast("int").alias("birth_year")
    )


# ---------------------------------------------------------------------------
# Relational core (generic engine capability over the TPC-H-ish tables)
# ---------------------------------------------------------------------------
def _micro(col, scale: int = 10_000):
    """Cross-engine-exact money aggregation: floor(x·scale) -> BIGINT.

    floor has no tie-breaking (unlike double->decimal rounding, whose
    HALF_UP/HALF_EVEN mode differs between engines), and the preceding
    double multiply is IEEE-identical everywhere, so per-row values and
    therefore integer sums match bit-for-bit across Spark and DuckDB."""
    return F.floor(col * scale).cast("long")


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_micro(F.col("l_quantity"))).alias("sum_qty_u"),
            F.sum(_micro(F.col("l_extendedprice"))).alias("sum_base_price_u"),
            F.sum(_micro(disc_price)).alias("sum_disc_price_u"),
            F.sum(_micro(charge)).alias("sum_charge_u"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rev = li.groupBy("l_orderkey").agg(
        F.sum(_micro(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue_u"
        )
    )
    return (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderpriority").alias("priority"),
            "revenue_u",
        )
        .orderBy(F.col("revenue_u").desc(), F.col("orderkey").asc())
        .limit(10)
    )


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped multiway join: revenue by nation for customers and suppliers
    co-located in the same nation (broadcast dims, shuffled fact)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            sup,
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
    )
    return joined.groupBy("n_name").agg(
        F.sum(_micro(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue_u"
        ),
        F.count("*").alias("n_items"),
    )


def q_events_last_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def q_events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(_micro(F.col("value"), 1_000_000)).alias("sum_value_u"),
    )


# ---------------------------------------------------------------------------
# Text analysis / dedup family (documents)
# ---------------------------------------------------------------------------
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        bpe_token_count(t).cast("long").alias("n_bpe"),
        F.round(punct_ratio(t), 4).alias("punct_r"),
        F.round(stopword_ratio(t, "en"), 4).alias("stop_r"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: fraction of non-empty
    lines that repeat an earlier line (pure array algebra, zero shuffle),
    and the fraction of token bigrams covered by the single most frequent
    bigram (explode -> two keyed aggregations). The two standard
    boilerplate/templating detectors a webtext pipeline applies before
    training. Returns (doc_id, dup_line_frac, top_bigram_frac)."""
    from fs_crawler_spark.functions.textfns import bigrams, dup_line_frac

    docs = _docs(spark, sf_dir)
    bg = docs.select(
        F.col("doc_id"), F.explode(bigrams(F.col("text"))).alias("bg")
    )
    agg = (
        bg.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
    )
    return (
        docs.select("doc_id", dup_line_frac(F.col("text")).alias("dup_line_frac"))
        .join(agg, on="doc_id", how="left")
        .select(
            "doc_id",
            "dup_line_frac",
            F.coalesce(
                F.round(F.col("mx").cast("double") / F.col("tot"), 4), F.lit(0.0)
            ).alias("top_bigram_frac"),
        )
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed keep-set of a training-data quality pipeline: English,
    quality score >= 0.5, sane token count — the decision a 100 TB corpus
    filter applies row-wise before dedup."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
    )
    return scored.filter(
        (F.col("lang_pred") == "en")
        & (F.col("quality") >= 0.5)
        & F.col("n_tokens").between(10, 100_000)
    ).select("doc_id", "quality")


def q_token_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary document-frequency table (the IDF input of quality/rarity
    scoring): top-100 tokens by #docs containing them, deterministic
    (df desc, token asc) tiebreak. Explode of per-doc DISTINCT tokens ->
    one count shuffle keyed by token."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.array_distinct(ws_tokens(F.col("text")))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(100)
    )


def q_doc_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", text_sha(F.col("text")).alias("sha"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", doc_fingerprint(F.col("text"), shingle=8).alias("fp")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", simhash("text", bits=32).alias("simhash"))


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a corpus with planted duplicates: docs with
    doc_id % 10 < 2 share text 'DUP-{doc_id % 50}' (deterministic in SQL too),
    so ~20% of the corpus collapses into 50 groups."""
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 < 2,
            F.concat(F.lit("DUP-"), (F.col("doc_id") % 50).cast("string")),
        ).otherwise(F.col("text")),
    )
    return exact_dup_groups(docs)


def q_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard pairs >= 0.5, blocked by source."""
    return token_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5, block_col="source"
    )


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming<=3 near-dup pairs via pigeonhole block join: 64-bit
    simhash in 4 blocks of 16 bits (65,536 values per block), so the
    candidate join is collision-bounded, not all-pairs-in-disguise."""
    return simhash_near_dup_pairs(
        _docs(spark, sf_dir), max_hamming=3, bits=64, blocks=4
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: new session when >30 min since the user's
    previous event; returns per-session (user_id, session_id, n_events)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # ts is TIMESTAMP_NTZ; compare gaps in WHOLE MICROSECONDS on both engines
    # (cast("long") truncates fractional seconds while DuckDB's epoch() rounds,
    # so second-granularity gaps straddling the boundary split differently).
    # Oracle side uses epoch_us(ts) — identical integer algebra.
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        ev.withColumn("_new", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0))
        .withColumn("session_id", F.sum("_new").over(w_run))
    )
    return sess.groupBy("user_id", "session_id").agg(F.count("*").alias("n_events"))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (16 hashes, 4 bands, 4-token shingles),
    exact-Jaccard verified at >= 0.2."""
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.2, num_hashes=16, bands=4, shingle=4
    )


def q_minhash_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster assignment: connected components over the MinHash-LSH
    pair graph (hash-to-min label propagation; one keyed shuffle per round).
    Returns (doc_id, component) with component = the cluster's canonical
    keeper — the final step of a training-data dedup pipeline (keep rows
    where doc_id == component)."""
    from fs_crawler_spark.operators.dedup import connected_components

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.2, num_hashes=16, bands=4, shingle=4
    )
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


def q_simhash_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster assignment for the SimHash family: connected components
    over the hamming<=3 pigeonhole pair graph — same label-propagation
    operator as minhash_dup_groups, different similarity family (the verdict's
    dup-group parity ask). Returns (doc_id, component = canonical keeper)."""
    from fs_crawler_spark.operators.dedup import connected_components

    pairs = simhash_near_dup_pairs(
        _docs(spark, sf_dir), max_hamming=3, bits=64, blocks=4
    )
    return connected_components(pairs, max_iter=40).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


def q_emb_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster assignment for the embedding family: connected components
    over the LSH-bucketed cosine>=0.2 pair graph (full-table scale path).
    Returns (vec_id, component = canonical keeper)."""
    from fs_crawler_spark.operators.dedup import connected_components

    pairs = embedding_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.2, n_planes=4, dim=64
    )
    return connected_components(pairs, max_iter=40).select(
        F.col("id").alias("vec_id"), F.col("comp").alias("component")
    )


def q_capture_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window analytics over page captures — the batch
    algebra of streaming/windowed_capture_rate (A9 analog): captures per
    (1-minute window, host). Window start reported RELATIVE to the corpus
    base timestamp so the oracle is timezone-free."""
    from fs_crawler_spark.functions.urls import url_host
    from fs_crawler_spark.sources.corpus import BASE_TS

    pages = build_pages(spark, sf_dir)
    base_us = F.unix_micros(F.to_timestamp(F.lit(BASE_TS)))
    return (
        pages.groupBy(
            F.window("warc_ts", "1 minute").alias("w"),
            url_host(F.col("url")).alias("host"),
        )
        .agg(F.count(F.lit(1)).alias("captures"))
        .select(
            (F.unix_micros(F.col("w.start")) - base_us).alias("window_start_us"),
            "host",
            "captures",
        )
    )


# ---------------------------------------------------------------------------
# Similarity search family (embeddings)
# ---------------------------------------------------------------------------
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine near-dups >= 0.3 over the first 200 vectors
    (synthetic embeddings are near-orthogonal; max pairwise cos ~0.44)
    (the brute-force kernel; the LSH-bucketed variant is q_ann_lsh)."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 200)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"))
        .filter(F.col("cos") >= 0.3)
    )


def q_emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for embedding near-dup: LSH-bucketed candidate
    generation over the FULL embeddings table (no crossJoin anywhere) +
    exact cosine verify. Deterministic hyperplanes make it exactly
    oracle-checkable — this is the plan that runs at 10^10 vectors; the
    capped brute-force q_emb_near_dup is the per-bucket kernel oracle."""
    return embedding_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.2, n_planes=4, dim=64
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN. The hyperplanes are deterministic md5 constants
    (similarity._hyperplanes), so the "approximate" plan is exactly
    reproducible — the oracle inlines the same planes as literals into a
    DuckDB list_dot_product bucket+rank query."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_lsh_topk(emb, queries, k=10, n_planes=6)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (second scale path beside hyperplane LSH): corpus
    inverted-listed under deterministic unit centroids, queries probe their
    2 nearest lists, exact cosine re-rank. Exactly oracled — the centroids
    inline as SQL literals."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, queries, k=10, n_centroids=8, n_probe=2)
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# Multimodal family
# ---------------------------------------------------------------------------
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synth_media(spark, _docs(spark, sf_dir), kind="video")
    out = frame_sample_plan(media, every_ms=1000)
    return out.withColumn("frame_ts_ms", F.col("frame_ts_ms").cast("long"))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched binary feature extraction, exploded to one row per
    (media_id, dim) so the driver's canonical sort can hash it (array columns
    are unhashable in pandas). Values are exact micro-unit fractions — see
    multimodal._fake_feature — so the DuckDB byte-histogram oracle matches
    bit-for-bit."""
    media = synth_media(spark, _docs(spark, sf_dir), kind="image")
    feats = extract_features(media, dim=8)
    return feats.select(
        "media_id",
        F.posexplode("feature").alias("dim", "feat"),
        "n_bytes",
    ).select("media_id", "dim", "feat", "n_bytes")


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship smoke: 2-round BFS crawl over the sf0.001 corpus (cold-start
    cheap; the full 6-round crawl-ordering gate is queries()['crawl_bfs'])."""
    ckpt = _crawled(spark, "/root/testdata/sf0.001", "web", 2)
    return read_output(spark, ckpt, "vertices").select(
        F.col("id").alias("url"), F.col("iteration").cast("int").alias("iteration")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "crawl_bfs": q_crawl_bfs,
        "crawl_robots": q_crawl_robots,
        "crawl_budget_reachable": q_crawl_budget_reachable,
        "persons_crawl": q_persons_crawl,
        "persons_edges_resolved": q_persons_edges_resolved,
        "persons_edges_final": q_persons_edges_final,
        "rels_to_resolve": q_rels_to_resolve,
        "csr_export": q_csr_export,
        "vertex_key": q_vertex_key,
        "frontier_antijoin": q_frontier_antijoin,
        "link_edges": q_link_edges,
        "politeness_window": q_politeness_window,
        "resolution_rule": q_resolution_rule,
        "horizon_classification": q_horizon_classification,
        "validator_invalid": q_validator_invalid,
        "validator_decade_histo": q_validator_decade_histo,
        "validator_iteration_histo": q_validator_iteration_histo,
        "validator_stats": q_validator_stats,
        "validated_edges": q_validated_edges,
        "invalid_edges": q_invalid_edges,
        "rewrite_relationships": q_rewrite_relationships,
        "birth_year_parse": q_birth_year_parse,
        "tpch_q1": q_tpch_q1,
        "top_revenue_orders": q_top_revenue_orders,
        "nation_revenue": q_nation_revenue,
        "events_last_per_user": q_events_last_per_user,
        "events_type_stats": q_events_type_stats,
        "doc_stats": q_doc_stats,
        "quality_filter": q_quality_filter,
        "repetition_stats": q_repetition_stats,
        "token_doc_freq": q_token_doc_freq,
        "doc_sha": q_doc_sha,
        "doc_fingerprint": q_doc_fingerprint,
        "simhash": q_simhash,
        "exact_dup_groups": q_exact_dup_groups,
        "token_jaccard": q_token_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "minhash_dup_groups": q_minhash_dup_groups,
        "capture_windows": q_capture_windows,
        "simhash_near_dup": q_simhash_near_dup,
        "simhash_dup_components": q_simhash_dup_components,
        "emb_dup_components": q_emb_dup_components,
        "events_sessions": q_events_sessions,
        "ann_topk": q_ann_topk,
        "emb_near_dup": q_emb_near_dup,
        "emb_near_dup_lsh": q_emb_near_dup_lsh,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "frame_sample": q_frame_sample,
        "media_features": q_media_features,
    }


# -- DuckDB oracle SQL -------------------------------------------------------

_TOKS = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"

_EN_STOP = "['the','and','of','to','a','in','is','that','it','for']"
_DE_STOP = "['der','die','das','und','ist','von','mit','den','nicht','ein']"
_ES_STOP = "['el','la','de','que','y','en','un','es','se','no']"
_FR_STOP = "['le','la','et','les','des','est','un','une','du','que']"


def _simhash64_block_sql(j: int, w: int = 16) -> str:
    """One 16-bit block value of the 64-bit simhash (bits j*w .. j*w+w-1);
    bit i reads hex digit i%32 of md5 round i//32 (d0 = md5(tok),
    d1 = md5('1:' || tok)) — mirrors dedup.simhash_blocks exactly."""
    terms = []
    for t in range(w):
        i = j * w + t
        r = "d0" if i < 32 else "d1"
        digit = (i % 32) + 1
        terms.append(
            f"(CASE WHEN 2 * len(list_filter({r}, h -> substring(h, {digit}, 1) IN "
            f"('8','9','a','b','c','d','e','f'))) > len({r}) "
            f"THEN {1 << t}::BIGINT ELSE 0 END)"
        )
    return " + ".join(terms)


def _simhash_sql_bits(bits: int = 32) -> str:
    terms = []
    for i in range(bits):
        terms.append(
            f"(CASE WHEN 2 * len(list_filter(digs, h -> substring(h, {i + 1}, 1) IN "
            f"('8','9','a','b','c','d','e','f'))) > len(digs) "
            f"THEN {1 << i}::BIGINT ELSE 0 END)"
        )
    return " + ".join(terms)


def _lsh_bucket_sql(n_planes: int, dim: int = 64, seed: int = 42, v: str = "v") -> str:
    """Hyperplane-LSH bucket expression with the deterministic md5-seeded
    planes inlined as double literals (repr() round-trips float64), so bucket
    assignment replays bit-identically in DuckDB."""
    planes = _hyperplanes(dim, n_planes, seed)
    return " + ".join(
        f"(CASE WHEN list_dot_product({v}, [{', '.join(repr(x) for x in p)}]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def _ann_lsh_sql(k: int = 10, n_planes: int = 6, dim: int = 64, seed: int = 42) -> str:
    """Exact oracle for the LSH ANN query: same planes, bucket join + exact
    cosine re-rank."""
    bucket = _lsh_bucket_sql(n_planes, dim, seed)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, ({bucket})::BIGINT AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
scored AS (
    SELECT q.query_id, c.vec_id,
           round(list_dot_product(c.v, q.qv) /
                 (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
    FROM b c JOIN q ON c.bucket = q.bucket
    WHERE c.vec_id != q.query_id
)
SELECT query_id, vec_id, cos,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= {k}
"""


def _ann_ivf_sql(
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    dim: int = 64,
    seed: int = 7,
) -> str:
    """Exact IVF oracle: deterministic unit centroids inlined as literals;
    corpus assignment = first-max list_indexof (same tie rule as Spark's
    array_position), query probes = top-n_probe lists by score."""
    cents = _centroids(dim, n_centroids, seed)
    score_terms = ", ".join(
        f"list_dot_product(v, [{', '.join(repr(x) for x in c)}])" for c in cents
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (SELECT vec_id, v, [{score_terms}] AS s FROM e),
corpus AS (
    SELECT vec_id, v, (list_indexof(s, list_aggregate(s, 'max')) - 1)::INT AS list
    FROM sc
),
qprobe AS (
    SELECT vec_id AS query_id, v AS qv, b.range::INT AS list, s[b.range::INT + 1] AS score
    FROM sc, range({n_centroids}) b WHERE vec_id < 5
),
qp AS (
    SELECT query_id, qv, list FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, list ASC) AS pr
        FROM qprobe
    ) WHERE pr <= {n_probe}
),
scored AS (
    SELECT q.query_id, c.vec_id,
           round(list_dot_product(c.v, q.qv) /
                 (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
    FROM corpus c JOIN qp q ON c.list = q.list
    WHERE c.vec_id != q.query_id
)
SELECT query_id, vec_id, cos,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= {k}
"""


def _emb_lsh_near_dup_sql(
    threshold: float = 0.2, n_planes: int = 4, dim: int = 64, seed: int = 42
) -> str:
    """Exact oracle for the LSH-bucketed near-dup pairs (full-table, no
    cross join on either engine — the bucket equality restricts the join)."""
    bucket = _lsh_bucket_sql(n_planes, dim, seed)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, ({bucket})::BIGINT AS bucket FROM e)
SELECT * FROM (
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_dot_product(a.v, c.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
) WHERE cos >= {threshold}
"""


# lineitem-derived persons graph (mirrors _validator_graph): edges typed by
# l_linenumber % 3, vertices for BOTH suppliers (S-prefixed) and orders
# (O-prefixed) with color = key % 3 - 1; inv = invalid children (total > 2).
_LI_EDGES_CTE = """
edges AS (
    SELECT 'O' || l_orderkey::VARCHAR AS source, 'S' || l_suppkey::VARCHAR AS destination,
           CASE WHEN l_linenumber % 3 = 0 THEN 'BiologicalParent'
                WHEN l_linenumber % 3 = 1 THEN 'UnspecifiedParentType'
                ELSE 'UntypedParent' END AS type,
           l_partkey::VARCHAR AS id
    FROM lineitem
)"""

_LI_INV_CTE = """
vc AS (
    SELECT e.source,
           CAST(sum(CASE WHEN v.color = -1 THEN 1 ELSE 0 END) AS BIGINT) AS male,
           CAST(sum(CASE WHEN v.color = 1 THEN 1 ELSE 0 END) AS BIGINT) AS female,
           CAST(sum(CASE WHEN v.color = 0 THEN 1 ELSE 0 END) AS BIGINT) AS unknown,
           count(*) AS total
    FROM edges e JOIN vertices v ON v.id = e.destination
    WHERE e.type IN ('BiologicalParent', 'UnspecifiedParentType')
    GROUP BY e.source
),
inv AS (
    SELECT *, CASE WHEN male > 1 AND female > 1 AND unknown > 1 THEN 'male_female_unknown'
                   WHEN female > 1 AND unknown > 1 THEN 'female_unknown'
                   WHEN male > 1 AND unknown > 1 THEN 'male_unknown'
                   WHEN male > 1 AND female > 1 THEN 'male_female'
                   WHEN male > 1 THEN 'father'
                   WHEN female > 1 THEN 'mother'
                   ELSE 'unknown' END AS bucket
    FROM vc WHERE total > 2
)"""

_VALID_GRAPH_CTES = f"""
WITH {_LI_EDGES_CTE.strip()},
vertices AS (
    SELECT 'S' || s_suppkey::VARCHAR AS id, (s_suppkey % 3 - 1)::INT AS color FROM supplier
    UNION ALL
    SELECT 'O' || o_orderkey::VARCHAR AS id, (o_orderkey % 3 - 1)::INT AS color FROM orders
),
{_LI_INV_CTE.strip()}"""


def _validator_stats_sql() -> str:
    """One-row validator stats oracle: suppliers with s_suppkey % 7 == 0 are
    held out of the graph (half in the frontier, half unknown)."""
    buckets = ", ".join(
        f"CAST(sum(CASE WHEN bucket = '{b}' THEN 1 ELSE 0 END) AS BIGINT) AS inv_{b}"
        for b in (
            "male_female_unknown",
            "male_unknown",
            "female_unknown",
            "male_female",
            "father",
            "mother",
            "unknown",
        )
    )
    return f"""
WITH {_LI_EDGES_CTE.strip()},
vertices AS (
    SELECT 'S' || s_suppkey::VARCHAR AS id, (s_suppkey % 3 - 1)::INT AS color
    FROM supplier WHERE s_suppkey % 7 != 0
    UNION ALL
    SELECT 'O' || o_orderkey::VARCHAR AS id, (o_orderkey % 3 - 1)::INT AS color FROM orders
),
frontier AS (
    SELECT 'S' || s_suppkey::VARCHAR AS id FROM supplier
    WHERE s_suppkey % 7 = 0 AND s_suppkey % 14 = 0
),
{_LI_INV_CTE.strip()},
invagg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_invalid_src,
           CAST(coalesce(max(CASE WHEN male > 1 THEN male END), 0) AS BIGINT) AS max_father,
           CAST(coalesce(max(CASE WHEN female > 1 THEN female END), 0) AS BIGINT) AS max_mother,
           {buckets}
    FROM inv
),
unk AS (
    SELECT CAST(count(*) AS BIGINT) AS unknown_vertex_count FROM (
        SELECT DISTINCT destination FROM edges
        WHERE destination NOT IN (SELECT id FROM vertices)
          AND destination NOT IN (SELECT id FROM frontier))
),
valch AS (
    SELECT CAST(count(DISTINCT e.source) AS BIGINT) AS n_val
    FROM edges e JOIN vertices v ON v.id = e.destination
    WHERE e.type IN ('BiologicalParent', 'UnspecifiedParentType')
),
resch AS (
    SELECT CAST(count(DISTINCT e.source) AS BIGINT) AS n_res
    FROM edges e JOIN vertices v ON v.id = e.destination
    WHERE e.type = 'UntypedParent'
),
res2 AS (
    SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_resolution_src FROM (
        SELECT e.source FROM edges e JOIN vertices v ON v.id = e.destination
        WHERE e.type = 'UntypedParent'
        GROUP BY e.source, v.color HAVING count(*) > 1)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM vertices) AS vertex_count,
       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS edge_count,
       (SELECT CAST(count(*) AS BIGINT) FROM frontier) AS frontier_vertex_count,
       unk.unknown_vertex_count,
       (valch.n_val + resch.n_res)::BIGINT AS child_count,
       invagg.inv_male_female_unknown, invagg.inv_male_unknown,
       invagg.inv_female_unknown, invagg.inv_male_female,
       invagg.inv_father, invagg.inv_mother, invagg.inv_unknown,
       invagg.max_father, invagg.max_mother,
       0::BIGINT AS no_rel_count,
       res2.n_resolution_src, invagg.n_invalid_src
FROM unk, valch, resch, res2, invagg
"""


def _minhash_sql(num_hashes: int = 16, bands: int = 4, shingle: int = 4) -> str:
    rows = num_hashes // bands
    # universal-hash family over a 60-bit md5-prefix base hash; the (a, b)
    # literals come from the SAME generator the operator uses
    # (dedup.minhash_affine_coeffs), and CAST('0x'||hex AS BIGINT) ==
    # Spark's conv(hex,16,10) — verified value-identical
    from fs_crawler_spark.operators.dedup import (
        MINHASH_PRIME,
        minhash_affine_coeffs,
    )

    sig_terms = ", ".join(
        f"list_aggregate(list_transform(xs, x -> ({a} * x + {b}) % {MINHASH_PRIME}), 'min')"
        for a, b in minhash_affine_coeffs(num_hashes)
    )
    xs_expr = (
        "list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 15) "
        f"AS BIGINT) % {MINHASH_PRIME})"
    )
    sigs_cte = (
        "sigs AS (\n"
        "  SELECT doc_id, list_distinct(shingles) AS shingle_set, "
        f"[{sig_terms}] AS sig\n"
        f"  FROM (SELECT doc_id, shingles, {xs_expr} AS xs FROM sh)\n"
        ")"
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, shingle_set, "
        f"md5('{b}' || '|' || array_to_string(list_slice(sig, {b * rows + 1}, {b * rows + rows}), '|')) AS bucket FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(1, len(tk) - {shingle - 1})),
                        i -> array_to_string(list_slice(tk, i, i + {shingle - 1}), ' ')) AS shingles
  FROM toks
),
{sigs_cte},
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.shingle_set AS sa, b.shingle_set AS sb
  FROM banded a JOIN banded b ON a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
)
SELECT * FROM (
    SELECT id_a, id_b,
           round(len(list_intersect(sa, sb))::DOUBLE /
                 (len(sa) + len(sb) - len(list_intersect(sa, sb))), 4) AS jaccard
    FROM cand
) WHERE jaccard >= 0.2
"""


def _components_sql(pairs_sql: str, id_name: str) -> str:
    """Connected components over an (id_a, id_b) pair query: transitive
    closure by recursive CTE, component = min reachable id — the oracle for
    the engine's hash-to-min label propagation, shared by every similarity
    family's dup-group query."""
    # CTE names are prefixed cc_ — the embedded pairs_sql may carry its own
    # nested WITH, and an outer CTE of the same name shadows it in DuckDB
    return f"""
WITH RECURSIVE cc_pairs AS ({pairs_sql}),
cc_edges AS (
    SELECT id_a AS u, id_b AS v FROM cc_pairs
    UNION ALL
    SELECT id_b, id_a FROM cc_pairs
),
cc_reach(u, v) AS (
    SELECT u, v FROM cc_edges
    UNION
    SELECT r.u, e.v FROM cc_reach r JOIN cc_edges e ON e.u = r.v
)
SELECT u AS {id_name}, CAST(least(u, min(v)) AS BIGINT) AS component
FROM cc_reach GROUP BY u
"""


def oracle_sql() -> dict[str, str]:
    # Oracle-hygiene rule (round-3 sweep): every integer aggregate that appears
    # in a FINAL SELECT must be explicitly CAST to BIGINT.  DuckDB's sum()
    # (plain or windowed) over integers returns HUGEINT (int128), which a
    # pandas fetch renders as float64 ("11.0" vs Spark's bigint "11"), breaking
    # the driver's canonical value-hash even when values are identical.
    # count(*) is BIGINT natively and needs no cast.  Likewise avoid round()
    # on exact .5 boundaries (DuckDB half-even vs Spark half-up): money sums
    # use floor(x*10^k) micro-units instead (see _micro / sum_*_u columns).
    lang_hits = {
        "en": f"len(list_filter(tk, t -> list_contains({_EN_STOP}, t)))",
        "de": f"len(list_filter(tk, t -> list_contains({_DE_STOP}, t)))",
        "es": f"len(list_filter(tk, t -> list_contains({_ES_STOP}, t)))",
        "fr": f"len(list_filter(tk, t -> list_contains({_FR_STOP}, t)))",
    }
    best = f"greatest({lang_hits['en']}, {lang_hits['de']}, {lang_hits['es']}, {lang_hits['fr']})"
    lang_case = (
        f"CASE WHEN {best} <= 0 THEN 'und' "
        + " ".join(
            f"WHEN {lang_hits[lang]} = {best} THEN '{lang}'"
            for lang in ("en", "de", "es", "fr")
        )
        + " ELSE 'und' END"
    )
    # shared by simhash_near_dup and its connected-components query
    _sim_pairs_sql = f"""
WITH t AS (SELECT doc_id, list_distinct({_TOKS}) AS tk FROM documents),
d AS (SELECT doc_id, list_transform(tk, x -> md5(x)) AS d0,
             list_transform(tk, x -> md5('1:' || x)) AS d1 FROM t),
s AS (SELECT doc_id, [({_simhash64_block_sql(0)}),
                      ({_simhash64_block_sql(1)}),
                      ({_simhash64_block_sql(2)}),
                      ({_simhash64_block_sql(3)})] AS shb FROM d),
banded AS (
    SELECT doc_id, shb, b.range::INT AS blk, shb[b.range::INT + 1] AS val
    FROM s, range(4) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, a.shb AS sa, b.doc_id AS id_b, b.shb AS sb
    FROM banded a JOIN banded b ON a.blk = b.blk AND a.val = b.val
    WHERE a.doc_id < b.doc_id
)
SELECT * FROM (
    SELECT id_a, id_b,
           (bit_count(xor(sa[1], sb[1])) + bit_count(xor(sa[2], sb[2])) +
            bit_count(xor(sa[3], sb[3])) + bit_count(xor(sa[4], sb[4])))::INT AS hamming
    FROM cand
) WHERE hamming <= 3
"""
    return {
        "crawl_bfs": f"""
WITH RECURSIVE {_CTES},
bfs(d, iter) AS (
    SELECT 0, 0
    UNION
    SELECT l.dst, b.iter + 1 FROM bfs b JOIN links l ON l.src = b.d
    WHERE b.iter + 1 <= 5
),
mins AS (SELECT d, min(iter) AS iteration FROM bfs GROUP BY d)
SELECT u.url AS url, m.iteration::INT AS iteration
FROM mins m JOIN urls u ON u.d = m.d
""",
        "crawl_robots": f"""
WITH RECURSIVE {_CTES},
-- blocked(d): hub host (d%3=0) AND path /doc/d starts with '/doc/3'
bfs(d, iter) AS (
    SELECT 0, 0
    UNION
    SELECT l.dst, b.iter + 1 FROM bfs b JOIN links l ON l.src = b.d
    WHERE b.iter + 1 <= 5
      AND NOT (b.d % 3 = 0 AND CAST(b.d AS VARCHAR) LIKE '3%')
),
mins AS (SELECT d, min(iter) AS iteration FROM bfs GROUP BY d)
SELECT u.url AS url, m.iteration::INT AS iteration
FROM mins m JOIN urls u ON u.d = m.d
WHERE NOT (m.d % 3 = 0 AND CAST(m.d AS VARCHAR) LIKE '3%')
""",
        "crawl_budget_reachable": f"""
WITH RECURSIVE {_CTES},
bfs(d) AS (
    SELECT 0
    UNION
    SELECT l.dst FROM bfs b JOIN links l ON l.src = b.d
)
SELECT u.url AS url FROM bfs b JOIN urls u ON u.d = b.d
""",
        "persons_crawl": f"""
WITH RECURSIVE {_CTES},
bfs(d, iter) AS (
    SELECT 0, 0
    UNION
    SELECT l.dst, b.iter + 1 FROM bfs b JOIN links l ON l.src = b.d
    WHERE b.iter + 1 <= 39
),
mins AS (SELECT d, min(iter) AS iteration FROM bfs GROUP BY d)
SELECT u.url AS id,
       (CASE WHEN m.d % 5 < 2 THEN -1 WHEN m.d % 5 < 4 THEN 1 ELSE 0 END)::INT AS color,
       'S' || (m.d % 50) AS surname,
       'G' || (m.d % 97) AS given_name,
       m.iteration::INT AS iteration,
       CASE WHEN m.d % 4 = 0 THEN 'Living'
            WHEN m.d % 4 = 1 THEN (1800 + m.d % 200) || '-' || (1880 + m.d % 99)
            WHEN m.d % 4 = 2 THEN '-' || (1800 + m.d % 100)
            ELSE '' END AS lifespan
FROM mins m JOIN urls u ON u.d = m.d
""",
        "persons_edges_resolved": f"""
WITH RECURSIVE {_CTES},
{_PERSONS_PIPE}
SELECT source, destination, type, id FROM resolved_edges
""",
        "vertex_key": f"""
WITH RECURSIVE {_CTES},
bfs(d, iter) AS (
    SELECT 0, 0
    UNION
    SELECT l.dst, b.iter + 1 FROM bfs b JOIN links l ON l.src = b.d
    WHERE b.iter + 1 <= 39
),
mins AS (SELECT d, min(iter) AS iteration FROM bfs GROUP BY d),
verts AS (
    SELECT u.url AS id, 'S' || (m.d % 50) AS surname, 'G' || (m.d % 97) AS given_name
    FROM mins m JOIN urls u ON u.d = m.d
)
SELECT (row_number() OVER (ORDER BY id) - 1)::BIGINT AS position,
       id, given_name, surname
FROM verts
""",
        "persons_edges_final": f"""
WITH RECURSIVE {_CTES},
{_PERSONS_PIPE}
SELECT source, destination,
       CASE WHEN type = 'Resolve'
            THEN {_FACTS_SQL}[((child + fact_k) % 7) + 1]
            ELSE type END AS type,
       id
FROM resolved_edges
""",
        "rels_to_resolve": f"""
WITH RECURSIVE {_CTES},
{_PERSONS_PIPE}
SELECT DISTINCT rel_id AS id FROM res WHERE type = 'Resolve'
""",
        "csr_export": f"""
WITH RECURSIVE {_CTES},
{_PERSONS_PIPE},
final_edges AS (
    SELECT child, parent,
           CASE WHEN type = 'Resolve'
                THEN {_FACTS_SQL}[((child + fact_k) % 7) + 1]
                ELSE type END AS type
    FROM resolved_edges
),
vp AS (
    SELECT b.d, u.url, c.color,
           row_number() OVER (ORDER BY u.url) - 1 AS position
    FROM bfs b JOIN urls u ON u.d = b.d JOIN colors c ON c.d = b.d
),
diag AS (SELECT position AS row, position AS col, color AS val FROM vp),
edge_entries AS (
    SELECT s.position AS row, t.position AS col,
           CASE WHEN t.color = 1 THEN 3 ELSE 2 END AS val
    FROM final_edges e
    JOIN vp s ON s.d = e.child
    JOIN vp t ON t.d = e.parent
    WHERE e.type IN ('AssumedBiological', 'UnspecifiedParentType', 'BiologicalParent')
)
SELECT row::INT AS row, col::INT AS col, val::INT AS val FROM diag
UNION ALL
SELECT row::INT, col::INT, val::INT FROM edge_entries
""",
        "frontier_antijoin": f"""
WITH {_CTES}
SELECT DISTINCT u.url AS url,
       CASE WHEN l.dst % 3 = 0 THEN 'hub.example.com'
            ELSE 'src' || (l.dst % 7) || '.example.com' END AS host
FROM links l JOIN urls u ON u.d = l.dst
WHERE l.src < 50 AND l.dst >= 10
""",
        "link_edges": f"""
WITH {_CTES}
SELECT DISTINCT us.url AS source, ud.url AS destination
FROM links l JOIN urls us ON us.d = l.src JOIN urls ud ON ud.d = l.dst
""",
        "politeness_window": f"""
WITH {_CTES}
SELECT CASE WHEN d % 3 = 0 THEN 'hub.example.com'
            ELSE 'src' || (d % 7) || '.example.com' END AS host,
       url
FROM urls
QUALIFY row_number() OVER (
    PARTITION BY host ORDER BY (d % 17)::DOUBLE, url
) <= 5
""",
        "resolution_rule": """
WITH rels AS (
    SELECT DISTINCT l_orderkey::VARCHAR AS source, l_suppkey::VARCHAR AS id,
           CASE l_returnflag WHEN 'R' THEN -1 WHEN 'A' THEN 1 ELSE 0 END AS color
    FROM lineitem WHERE l_orderkey % 10 = 0
),
grp AS (SELECT source, color, count(*) AS grp_size FROM rels GROUP BY 1, 2),
tot AS (SELECT source, color, grp_size,
               sum(grp_size) OVER (PARTITION BY source) AS total FROM grp),
flagged AS (
    SELECT r.id,
           CASE WHEN t.grp_size = 1 AND t.total < 3 THEN 0 ELSE 1 END AS res
    FROM rels r JOIN tot t ON r.source = t.source AND r.color = t.color
)
SELECT id, CASE WHEN max(res) = 1 THEN 'Resolve' ELSE 'AssumedBiological' END AS type
FROM flagged GROUP BY id
""",
        "horizon_classification": f"""
WITH {_CTES},
resolved AS (SELECT d FROM urls WHERE d % 3 != 1),
classed AS (
    SELECT CASE WHEN s.d IS NOT NULL AND t.d IS NOT NULL THEN 'within'
                WHEN s.d IS NOT NULL OR t.d IS NOT NULL THEN 'spanning'
                ELSE 'frontier' END AS cls
    FROM (SELECT DISTINCT src, dst FROM links) l
    LEFT JOIN resolved s ON s.d = l.src
    LEFT JOIN resolved t ON t.d = l.dst
)
SELECT CAST(sum(CASE WHEN cls = 'within' THEN 1 ELSE 0 END) AS BIGINT) AS within,
       CAST(sum(CASE WHEN cls = 'spanning' THEN 1 ELSE 0 END) AS BIGINT) AS spanning,
       CAST(sum(CASE WHEN cls = 'frontier' THEN 1 ELSE 0 END) AS BIGINT) AS frontier
FROM classed
""",
        "validator_invalid": """
WITH edges AS (
    SELECT l_orderkey::VARCHAR AS source, l_suppkey::VARCHAR AS destination,
           CASE WHEN l_linenumber % 3 = 0 THEN 'BiologicalParent'
                WHEN l_linenumber % 3 = 1 THEN 'UnspecifiedParentType'
                ELSE 'UntypedParent' END AS type
    FROM lineitem
),
verts AS (SELECT s_suppkey::VARCHAR AS id, (s_nationkey % 3 - 1)::INT AS color FROM supplier),
counts AS (
    SELECT e.source,
           CAST(sum(CASE WHEN v.color = -1 THEN 1 ELSE 0 END) AS BIGINT) AS male,
           CAST(sum(CASE WHEN v.color = 1 THEN 1 ELSE 0 END) AS BIGINT) AS female,
           CAST(sum(CASE WHEN v.color = 0 THEN 1 ELSE 0 END) AS BIGINT) AS unknown,
           count(*) AS total
    FROM edges e JOIN verts v ON v.id = e.destination
    WHERE e.type IN ('BiologicalParent', 'UnspecifiedParentType')
    GROUP BY e.source
)
SELECT source, male, female, unknown, total,
       CASE WHEN male > 1 AND female > 1 AND unknown > 1 THEN 'male_female_unknown'
            WHEN female > 1 AND unknown > 1 THEN 'female_unknown'
            WHEN male > 1 AND unknown > 1 THEN 'male_unknown'
            WHEN male > 1 AND female > 1 THEN 'male_female'
            WHEN male > 1 THEN 'father'
            WHEN female > 1 THEN 'mother'
            ELSE 'unknown' END AS bucket
FROM counts WHERE total > 2
""",
        "rewrite_relationships": """
WITH edges AS (
    SELECT l_orderkey::VARCHAR AS source, l_suppkey::VARCHAR AS destination,
           min(CASE WHEN l_linenumber % 3 = 0 THEN 'BiologicalParent'
                    WHEN l_linenumber % 3 = 1 THEN 'UnspecifiedParentType'
                    ELSE 'UntypedParent' END) AS type,
           min(l_partkey::VARCHAR) AS id
    FROM lineitem GROUP BY 1, 2
),
updates AS (
    SELECT DISTINCT l_orderkey::VARCHAR AS source, l_suppkey::VARCHAR AS destination
    FROM lineitem WHERE l_suppkey % 7 = 0
),
applied AS (
    SELECT e.source, e.destination,
           CASE WHEN u.source IS NOT NULL THEN 'StepParent' ELSE e.type END AS type,
           CASE WHEN u.source IS NOT NULL THEN 'U' || e.source || '-' || e.destination
                ELSE e.id END AS id
    FROM edges e LEFT JOIN updates u
      ON u.source = e.source AND u.destination = e.destination
)
SELECT source, destination, type, id,
       CASE WHEN type IN ('UntypedParent', 'UnspecifiedParentType', 'BiologicalParent')
            THEN 'main' ELSE 'aux' END AS routed
FROM applied
""",
        "validator_stats": _validator_stats_sql(),
        "validated_edges": _VALID_GRAPH_CTES + """
, numbered AS (SELECT id, row_number() OVER (ORDER BY id) AS vertex_number FROM vertices)
SELECT ns.vertex_number::BIGINT AS source_number, nd.vertex_number::BIGINT AS destination_number
FROM edges e
JOIN numbered ns ON ns.id = e.source
JOIN numbered nd ON nd.id = e.destination
WHERE e.source NOT IN (SELECT source FROM inv)
""",
        "invalid_edges": _VALID_GRAPH_CTES + """
SELECT DISTINCT e.source, e.id AS relationship_id
FROM edges e WHERE e.source IN (SELECT source FROM inv)
""",
        "validator_decade_histo": """
WITH edges AS (
    SELECT 'O' || l_orderkey AS source, 'S' || l_suppkey AS destination,
           CASE WHEN l_linenumber % 3 = 0 THEN 'BiologicalParent'
                WHEN l_linenumber % 3 = 1 THEN 'UnspecifiedParentType'
                ELSE 'UntypedParent' END AS type
    FROM lineitem
),
verts AS (
    SELECT s_suppkey AS k, 'S' || s_suppkey AS id FROM supplier
    UNION ALL
    SELECT o_orderkey, 'O' || o_orderkey FROM orders
),
vmeta AS (
    SELECT id, (k % 3 - 1) AS color, (k % 5) AS iteration,
           CASE WHEN k % 4 = 0 THEN 'Living'
                WHEN k % 4 = 1 THEN (1800 + k % 150) || '-' || (1900 + k % 99)
                WHEN k % 4 = 2 THEN '-' || (1800 + k % 100)
                ELSE '' END AS lifespan
    FROM verts
),
counts AS (
    SELECT e.source, count(*) AS total
    FROM edges e JOIN vmeta v ON v.id = e.destination
    WHERE e.type IN ('BiologicalParent', 'UnspecifiedParentType')
    GROUP BY e.source
),
invalid AS (SELECT source AS id FROM counts WHERE total > 2),
by AS (
    SELECT CASE WHEN position('-1' IN v.lifespan) > 1
                    THEN CAST(substring(v.lifespan, 1, position('-1' IN v.lifespan) - 1) AS INT)
                WHEN position('-1' IN v.lifespan) = 1
                    THEN CAST(substring(v.lifespan, 2) AS INT)
                WHEN v.lifespan = 'Living' THEN 3000
                ELSE 0 END AS birth_year
    FROM invalid i JOIN vmeta v ON v.id = i.id
)
SELECT CAST(floor(birth_year / 10) * 10 AS BIGINT) AS decade, count(*) AS n
FROM by GROUP BY 1 ORDER BY 1
""",
        "validator_iteration_histo": """
WITH edges AS (
    SELECT 'O' || l_orderkey AS source, 'S' || l_suppkey AS destination,
           CASE WHEN l_linenumber % 3 = 0 THEN 'BiologicalParent'
                WHEN l_linenumber % 3 = 1 THEN 'UnspecifiedParentType'
                ELSE 'UntypedParent' END AS type
    FROM lineitem
),
verts AS (
    SELECT s_suppkey AS k, 'S' || s_suppkey AS id FROM supplier
    UNION ALL
    SELECT o_orderkey, 'O' || o_orderkey FROM orders
),
vmeta AS (SELECT id, (k % 5) AS iteration FROM verts),
counts AS (
    SELECT e.source, count(*) AS total
    FROM edges e JOIN vmeta v ON v.id = e.destination
    WHERE e.type IN ('BiologicalParent', 'UnspecifiedParentType')
    GROUP BY e.source
),
invalid AS (SELECT source AS id FROM counts WHERE total > 2)
SELECT v.iteration::INT AS iteration, count(*) AS n
FROM invalid i JOIN vmeta v ON v.id = i.id
GROUP BY 1 ORDER BY 1
""",
        "birth_year_parse": """
WITH ls AS (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN 'Living'
                WHEN doc_id % 4 = 1 THEN (1800 + doc_id % 200) || '-' || (1880 + doc_id % 99)
                WHEN doc_id % 4 = 2 THEN '-' || (1800 + doc_id % 100)
                ELSE '' END AS lifespan
    FROM documents
)
SELECT doc_id, lifespan,
       (CASE WHEN position('-1' IN lifespan) > 1
                 THEN CAST(substring(lifespan, 1, position('-1' IN lifespan) - 1) AS INT)
             WHEN position('-1' IN lifespan) = 1
                 THEN CAST(substring(lifespan, 2) AS INT)
             WHEN lifespan = 'Living' THEN 3000
             ELSE 0 END)::INT AS birth_year
FROM ls
""",
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity * 10000) AS BIGINT)) AS BIGINT) AS sum_qty_u,
       CAST(sum(CAST(floor(l_extendedprice * 10000) AS BIGINT)) AS BIGINT) AS sum_base_price_u,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_price_u,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000) AS BIGINT)) AS BIGINT) AS sum_charge_u,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "top_revenue_orders": """
WITH rev AS (
    SELECT l_orderkey,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_u
    FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderkey AS orderkey, o.o_orderpriority AS priority, r.revenue_u AS revenue_u
FROM rev r JOIN orders o ON r.l_orderkey = o.o_orderkey
ORDER BY r.revenue_u DESC, orderkey ASC
LIMIT 10
""",
        "nation_revenue": """
SELECT n.n_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_u,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
        "events_last_per_user": """
SELECT user_id, event_id, event_type
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
""",
        "events_type_stats": """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_u
FROM events GROUP BY event_type
""",
        "doc_stats": f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS tk FROM documents),
m AS (
    SELECT doc_id,
           len(tk) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
           CASE WHEN length(text) > 0
                THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)
                ELSE 0.0 END AS pr,
           CASE WHEN len(tk) > 0
                THEN len(list_filter(tk, t -> list_contains({_EN_STOP}, t)))::DOUBLE / len(tk)
                ELSE 0.0 END AS sr,
           tk
    FROM t
)
SELECT doc_id, n_tokens, n_bpe,
       round(pr, 4) AS punct_r,
       round(sr, 4) AS stop_r,
       round(0.4 * least(1.0, n_tokens / 100.0) + 0.3 * (1.0 - pr) + 0.3 * sr, 4) AS quality,
       {lang_case} AS lang_pred
FROM m
""",
        "repetition_stats": f"""
WITH lines AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '\\n'), l -> trim(l)),
                     l -> l != '') AS ls
  FROM documents
),
dlf AS (
  SELECT doc_id,
         CASE WHEN len(ls) > 0
              THEN round((len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls), 4)
              ELSE 0.0 END AS dup_line_frac
  FROM lines
),
toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
bgs AS (
  SELECT doc_id,
         unnest(CASE WHEN len(tk) >= 2
                     THEN list_transform(generate_series(1, len(tk) - 1),
                                         i -> tk[i] || ' ' || tk[i + 1])
                     ELSE [] END) AS bg
  FROM toks
),
cnt AS (SELECT doc_id, bg, count(*) AS n FROM bgs GROUP BY doc_id, bg),
agg AS (SELECT doc_id, max(n) AS mx, sum(n) AS tot FROM cnt GROUP BY doc_id)
SELECT d.doc_id, d.dup_line_frac,
       coalesce(round(a.mx::DOUBLE / a.tot, 4), 0.0) AS top_bigram_frac
FROM dlf d LEFT JOIN agg a USING (doc_id)
""",
        "quality_filter": f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS tk FROM documents),
m AS (
    SELECT doc_id,
           len(tk) AS n_tokens,
           CASE WHEN length(text) > 0
                THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)
                ELSE 0.0 END AS pr,
           CASE WHEN len(tk) > 0
                THEN len(list_filter(tk, t -> list_contains({_EN_STOP}, t)))::DOUBLE / len(tk)
                ELSE 0.0 END AS sr,
           tk
    FROM t
),
scored AS (
    SELECT doc_id, n_tokens,
           round(0.4 * least(1.0, n_tokens / 100.0) + 0.3 * (1.0 - pr) + 0.3 * sr, 4) AS quality,
           {lang_case} AS lang_pred
    FROM m
)
SELECT doc_id, quality FROM scored
WHERE lang_pred = 'en' AND quality >= 0.5 AND n_tokens BETWEEN 10 AND 100000
""",
        "token_doc_freq": f"""
WITH t AS (SELECT doc_id, list_distinct({_TOKS}) AS tk FROM documents),
x AS (SELECT doc_id, unnest(tk) AS token FROM t)
SELECT token, count(*) AS df
FROM x GROUP BY token
ORDER BY df DESC, token ASC
LIMIT 100
""",
        "doc_sha": "SELECT doc_id, md5(text) AS sha FROM documents",
        "doc_fingerprint": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents)
SELECT doc_id,
       list_aggregate(
           list_transform(generate_series(1, greatest(1, len(tk) - 7)),
                          i -> md5(array_to_string(list_slice(tk, i, i + 7), ' '))),
           'min') AS fp
FROM t
""",
        "simhash": f"""
WITH t AS (SELECT doc_id, list_distinct({_TOKS}) AS tk FROM documents),
d AS (SELECT doc_id, list_transform(tk, x -> md5(x)) AS digs FROM t)
SELECT doc_id, ({_simhash_sql_bits(32)})::BIGINT AS simhash FROM d
""",
        "exact_dup_groups": """
WITH d AS (
    SELECT doc_id,
           CASE WHEN doc_id % 10 < 2 THEN 'DUP-' || (doc_id % 50) ELSE text END AS text
    FROM documents
)
SELECT md5(text) AS sha, count(*) AS n_docs, min(doc_id) AS keeper_id
FROM d GROUP BY md5(text) HAVING count(*) >= 2
""",
        "token_jaccard": f"""
WITH t AS (SELECT doc_id, source, list_distinct({_TOKS}) AS tk FROM documents),
e AS (SELECT doc_id, source, unnest(tk) AS tok FROM t),
sz AS (SELECT doc_id, len(tk) AS sz FROM t),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
    FROM e a JOIN e b ON a.tok = b.tok AND a.source = b.source
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.5
""",
        "minhash_lsh": _minhash_sql(16, 4, 4),
        "minhash_dup_groups": _components_sql(_minhash_sql(16, 4, 4), "doc_id"),
        "simhash_dup_components": _components_sql(_sim_pairs_sql, "doc_id"),
        "emb_dup_components": _components_sql(
            _emb_lsh_near_dup_sql(threshold=0.2, n_planes=4, dim=64, seed=42),
            "vec_id",
        ),
        "capture_windows": """
SELECT CAST((doc_id // 60) * 60 * 1000000 AS BIGINT) AS window_start_us,
       CASE WHEN doc_id % 3 = 0 THEN 'hub.example.com'
            ELSE 'src' || (doc_id % 7) || '.example.com' END AS host,
       count(*) AS captures
FROM documents
GROUP BY 1, 2
""",
        "simhash_near_dup": _sim_pairs_sql,
        "events_sessions": """
WITH g AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT user_id,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM g
)
SELECT user_id, session_id::BIGINT AS session_id, count(*) AS n_events
FROM s GROUP BY 1, 2
""",
        "ann_topk": """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
    SELECT q.query_id, c.vec_id,
           round(list_dot_product(c.cv, q.qv) /
                 (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
    FROM c CROSS JOIN q
    WHERE q.query_id != c.vec_id
)
SELECT query_id, vec_id, cos,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= 10
""",
        "emb_near_dup": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200)
SELECT * FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cos >= 0.3
""",
        "frame_sample": """
SELECT doc_id AS media_id,
       unnest(generate_series(0, greatest(n_chars * 10 - 1, 0), 1000)) AS frame_ts_ms
FROM documents
""",
        "ann_lsh": _ann_lsh_sql(k=10, n_planes=6, dim=64, seed=42),
        "emb_near_dup_lsh": _emb_lsh_near_dup_sql(
            threshold=0.2, n_planes=4, dim=64, seed=42
        ),
        "ann_ivf": _ann_ivf_sql(k=10, n_centroids=8, n_probe=2, dim=64, seed=7),
        # payload = utf-8 of ASCII corpus text, feature = floor-micro-unit
        # byte%8 histogram (multimodal._fake_feature) — exact in integer SQL.
        "media_features": """
WITH codes AS (
    SELECT doc_id AS media_id, strlen(text)::BIGINT AS n_bytes,
           list_transform(range(1, length(text) + 1), i -> unicode(text[i]) % 8) AS m
    FROM documents
),
hist AS (
    SELECT media_id, n_bytes, b.range::INT AS dim,
           len(list_filter(m, x -> x = b.range))::BIGINT AS cnt
    FROM codes, range(8) b
)
SELECT media_id, dim,
       CASE WHEN n_bytes = 0 THEN 0.0
            ELSE ((cnt * 1000000) // n_bytes)::DOUBLE / 1000000.0 END AS feat,
       n_bytes
FROM hist
""",
    }
