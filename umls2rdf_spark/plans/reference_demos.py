"""SURVEY §2 A-block: each reference-derived operator demonstrated on
the driver testdata, paired with a DuckDB oracle.

Every demo calls the *generic* operator from umls2rdf_spark.operators
(the reusable engine surface) with testdata columns; the oracle SQL
restates the semantics in ANSI SQL for the driver's t2 gate. Reference
line citations live on the operators themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umls2rdf_spark.functions.text import turtle_literal, url_term
from umls2rdf_spark.operators.bridge import resolve_endpoints
from umls2rdf_spark.operators.grouping import string_agg_sorted
from umls2rdf_spark.operators.hierarchy import (
    classify_edges,
    detect_roots,
    prefix_hierarchy,
    tree_edges,
)
from umls2rdf_spark.operators.ranking import (
    cascade_order,
    ranked_top1,
    top1_per_group,
)
from umls2rdf_spark.operators.triples import dedupe_triples, triple_gen
from umls2rdf_spark.sources.parquet import load_table


# ── A1 filtered_scan ────────────────────────────────────────────────
def filtered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRCONSO-style predicate scan (SAB/LAT/SUPPRESS → pushed filters)."""
    return (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


FILTERED_SCAN_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
"""


# ── A2 group_collect ────────────────────────────────────────────────
def group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """atoms_by_code grouping: distinct sorted values per key."""
    return string_agg_sorted(
        load_table(spark, sf_dir, "orders"),
        ["o_custkey"],
        "o_orderpriority",
        sep=",",
        out_col="priorities",
    )


GROUP_COLLECT_SQL = """
SELECT o_custkey,
       string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
FROM (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
GROUP BY o_custkey
"""


# ── A3 ranked_top1 (MRRANK prefLabel) ───────────────────────────────
_PRIORITY_RANKS = [
    ("1-URGENT", 5),
    ("2-HIGH", 4),
    ("3-MEDIUM", 3),
    ("4-NOT SPECIFIED", 2),
    ("5-LOW", 1),
]


def demo_ranked_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best order per customer by a broadcast rank dimension —
    the MRRANK max-rank prefLabel selection."""
    rank_dim = spark.createDataFrame(
        _PRIORITY_RANKS, "o_orderpriority string, rank int"
    )
    best = ranked_top1(
        load_table(spark, sf_dir, "orders"),
        rank_dim,
        group_cols=["o_custkey"],
        join_on="o_orderpriority",
        rank_col="rank",
        # larger price wins (negated), then smaller orderkey
        tiebreak=[-F.col("o_totalprice"), F.col("o_orderkey")],
    )
    return best.select(
        "o_custkey",
        F.col("o_orderkey").alias("best_orderkey"),
        F.col("o_totalprice").alias("best_price"),
    )


RANKED_TOP1_SQL = """
SELECT o_custkey, o_orderkey AS best_orderkey, o_totalprice AS best_price
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY CASE o_orderpriority
                      WHEN '1-URGENT' THEN 5 WHEN '2-HIGH' THEN 4
                      WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 2
                      ELSE 1 END DESC,
                    o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
WHERE rn = 1
"""


# ── A4 tiebreak_cascade (ISPREF→STT→TTY prefLabel) ──────────────────
def tiebreak_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation pick one customer through a preference cascade."""
    cust = load_table(spark, sf_dir, "customer")
    chosen = top1_per_group(
        cust,
        ["c_nationkey"],
        [
            *cascade_order(
                F.col("c_mktsegment") == "BUILDING", F.col("c_acctbal") >= 5000
            ),
            F.col("c_custkey"),
        ],
    )
    return chosen.select("c_nationkey", "c_custkey", "c_name")


TIEBREAK_CASCADE_SQL = """
SELECT c_nationkey, c_custkey, c_name
FROM (
  SELECT c_nationkey, c_custkey, c_name,
         ROW_NUMBER() OVER (
           PARTITION BY c_nationkey
           ORDER BY CASE WHEN c_mktsegment = 'BUILDING' THEN 0 ELSE 1 END,
                    CASE WHEN c_acctbal >= 5000 THEN 0 ELSE 1 END,
                    c_custkey) AS rn
  FROM customer)
WHERE rn = 1
"""


# ── A5 bridge_join (AUI→code endpoint resolution) ───────────────────
def bridge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix: consecutive event pairs resolved
    through the event_id→event_type bridge, self-loops dropped —
    exactly the MRREL AUI2/AUI1 → code resolution shape."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.withColumn("src_id", F.lag("event_id").over(w))
        .where(F.col("src_id").isNotNull())
        .select("src_id", F.col("event_id").alias("tgt_id"))
    )
    bridge = events.select("event_id", "event_type")
    resolved = resolve_endpoints(
        pairs,
        bridge,
        source_id="src_id",
        target_id="tgt_id",
        bridge_id="event_id",
        bridge_code="event_type",
    )
    return (
        resolved.groupBy("source_code", "target_code")
        .agg(F.count(F.lit(1)).alias("n"))
    )


BRIDGE_JOIN_SQL = """
WITH pairs AS (
  SELECT LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src_id,
         event_id AS tgt_id
  FROM events)
SELECT e1.event_type AS source_code, e2.event_type AS target_code,
       COUNT(*) AS n
FROM pairs
JOIN events e1 ON pairs.src_id = e1.event_id
JOIN events e2 ON pairs.tgt_id = e2.event_id
WHERE e1.event_type <> e2.event_type
GROUP BY 1, 2
"""


# ── A6 edge_classify (CHD→subClassOf, PAR skip, skiplist) ───────────
def edge_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    classified = classify_edges(
        events,
        rel_col="event_type",
        child_value="purchase",
        parent_value="view",
        skiplist=("1", "2"),
        target_col="user_id",
    )
    return classified.groupBy("edge_kind").agg(F.count(F.lit(1)).alias("n"))


EDGE_CLASSIFY_SQL = """
SELECT CASE WHEN event_type = 'purchase' THEN 'subclass' ELSE 'object' END
         AS edge_kind,
       COUNT(*) AS n
FROM events
WHERE event_type <> 'view' AND CAST(user_id AS VARCHAR) NOT IN ('1', '2')
GROUP BY 1
"""


# ── A7 tree_edges (mesh_tree 3-way distinct) ────────────────────────
def demo_tree_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    customer = load_table(spark, sf_dir, "customer")
    return tree_edges(
        nation,
        region,
        customer,
        on_left=("n_regionkey", "r_regionkey"),
        on_right=("n_nationkey", "c_nationkey"),
        parent_out=F.col("r_name"),
        child_out=F.col("n_name"),
    )


TREE_EDGES_SQL = """
SELECT DISTINCT r_name AS parent, n_name AS child
FROM nation
JOIN region ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
"""


# ── A8 prefix_hierarchy (STN string-prefix tree) ────────────────────
def demo_prefix_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    leaves = nation.join(
        region, nation.n_regionkey == region.r_regionkey
    ).select(F.concat_ws(".", "r_name", "n_name").alias("code"))
    roots = region.select(F.col("r_name").alias("code"))
    nodes = roots.unionByName(leaves).distinct()
    return prefix_hierarchy(nodes, "code", sep=".")


PREFIX_HIERARCHY_SQL = """
WITH nodes AS (
  SELECT r_name AS code FROM region
  UNION
  SELECT r_name || '.' || n_name
  FROM nation JOIN region ON n_regionkey = r_regionkey)
SELECT c.code AS child, p.code AS parent
FROM nodes c
JOIN nodes p ON p.code = CASE
    WHEN contains(c.code, '.') THEN regexp_replace(c.code, '\\.[^.]*$', '')
    ELSE substring(c.code, 1, length(c.code) - 1) END
WHERE c.code <> p.code
"""


# ── A9 root_detect (cui_roots semi-join flag) ───────────────────────
def root_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    roots = load_table(spark, sf_dir, "customer").where(
        F.col("c_acctbal") >= 9000
    )
    flagged = detect_roots(orders, roots, on=("o_custkey", "c_custkey"))
    return flagged.groupBy("o_orderstatus", "is_root").agg(
        F.count(F.lit(1)).alias("n")
    )


ROOT_DETECT_SQL = """
SELECT o_orderstatus,
       o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal >= 9000)
         AS is_root,
       COUNT(*) AS n
FROM orders
GROUP BY 1, 2
"""


# ── A10 attr_filter_sort (MRSAT skip-AQ + (ATN,ATV) sort) ──────────
def attr_filter_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    filtered = events.where(
        (F.col("event_type") != "error") & F.col("props").isNotNull()
    )
    item = F.concat_ws(
        ":",
        F.col("event_type"),
        F.lpad(F.col("event_id").cast("string"), 8, "0"),
    )
    return filtered.groupBy("user_id").agg(
        F.concat_ws("|", F.array_sort(F.collect_list(item))).alias("attrs")
    )


ATTR_FILTER_SORT_SQL = """
SELECT user_id,
       string_agg(item, '|' ORDER BY item) AS attrs
FROM (
  SELECT user_id,
         event_type || ':' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS item
  FROM events
  WHERE event_type <> 'error' AND props IS NOT NULL)
GROUP BY user_id
"""


# ── A11 sty_semijoin (per-CUI semantic types, distinct sorted) ─────
def sty_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    joined = nation.join(
        customer, nation.n_nationkey == customer.c_nationkey
    )
    return string_agg_sorted(
        joined, ["n_name"], "c_mktsegment", sep=",", out_col="segments"
    )


STY_SEMIJOIN_SQL = """
SELECT n_name,
       string_agg(seg, ',' ORDER BY seg) AS segments
FROM (SELECT DISTINCT n_name, c_mktsegment AS seg
      FROM nation JOIN customer ON c_nationkey = n_nationkey)
GROUP BY n_name
"""


# ── A12 triple_gen (wide → long unpivot) ────────────────────────────
def demo_triple_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return triple_gen(
        cust,
        subject=F.col("c_custkey"),
        predicates=[
            ("name", F.col("c_name")),
            ("mktsegment", F.col("c_mktsegment")),
            ("acctbal", F.col("c_acctbal").cast("decimal(12,2)")),
        ],
    )


TRIPLE_GEN_SQL = """
SELECT CAST(c_custkey AS VARCHAR) AS subject, 'name' AS predicate,
       c_name AS object FROM customer
UNION ALL
SELECT CAST(c_custkey AS VARCHAR), 'mktsegment', c_mktsegment FROM customer
UNION ALL
SELECT CAST(c_custkey AS VARCHAR), 'acctbal',
       CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) FROM customer
"""


# ── A13 triple_dedupe (seen-set as hash aggregate) ──────────────────
def triple_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    triples = triple_gen(
        orders,
        subject=F.col("o_custkey"),
        predicates=[("priority", F.col("o_orderpriority"))],
    )
    return dedupe_triples(triples)


TRIPLE_DEDUPE_SQL = """
SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS subject,
       'priority' AS predicate,
       o_orderpriority AS object
FROM orders
"""


# ── A14 turtle_escape (escape + literal rendering) ──────────────────
def turtle_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        turtle_literal(F.col("text"), lang=F.col("lang")).alias("literal"),
    )


_ESC = r"""replace(replace(text, '\', '\\'), '"', '\"')"""
_TQ = "chr(34) || chr(34) || chr(34)"
TURTLE_ESCAPE_SQL = f"""
SELECT doc_id,
       CASE WHEN contains({_ESC}, chr(10))
            THEN {_TQ} || {_ESC} || {_TQ}
            ELSE chr(34) || {_ESC} || chr(34)
       END || '@' || lang AS literal
FROM documents
"""


# ── A15 first_match_priority (MRSAB CURVER='Y' preference) ─────────
def first_match_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    first = top1_per_group(
        orders,
        ["o_custkey"],
        [
            *cascade_order(F.col("o_orderstatus") == "O"),
            F.col("o_orderdate"),
            F.col("o_orderkey"),
        ],
    )
    return first.select(
        "o_custkey",
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_orderstatus").alias("status"),
    )


FIRST_MATCH_PRIORITY_SQL = """
SELECT o_custkey, o_orderkey AS first_orderkey, o_orderstatus AS status
FROM (
  SELECT o_custkey, o_orderkey, o_orderstatus,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY CASE WHEN o_orderstatus = 'O' THEN 0 ELSE 1 END,
                    o_orderdate, o_orderkey) AS rn
  FROM orders)
WHERE rn = 1
"""


# ── A16 kv_pivot (MRDOC property_docs pivot) ────────────────────────
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def kv_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.na.fill(0, _EVENT_TYPES)


KV_PIVOT_SQL = """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events
GROUP BY user_id
"""


# ── A17 dim_lookup (UMLS_LANGCODE_MAP literal map) ─────────────────
_LANG_NAMES = {
    "de": "german", "en": "english", "es": "spanish",
    "fr": "french", "zh": "chinese",
}


def dim_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = []
    for k, v in _LANG_NAMES.items():
        pairs.extend([F.lit(k), F.lit(v)])
    name = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col("lang")), F.lit("other")
    )
    return (
        docs.withColumn("language", name)
        .groupBy("language")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


DIM_LOOKUP_SQL = """
SELECT CASE lang WHEN 'de' THEN 'german' WHEN 'en' THEN 'english'
                 WHEN 'es' THEN 'spanish' WHEN 'fr' THEN 'french'
                 WHEN 'zh' THEN 'chinese' ELSE 'other' END AS language,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
"""


# ── A18 turtle_export (full class-block rendering) ──────────────────
_NS = "http://example.org/cust"
_STY_NS = "http://example.org/segment"


def turtle_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end term rendering: URI construction + literals +
    object triple, one Turtle block per entity (toRDF shape,
    umls2rdf.py:391-490) — pure codegen string assembly, writable
    with df.write.text at any scale."""
    cust = load_table(spark, sf_dir, "customer")
    uri = url_term(_NS, F.col("c_custkey").cast("string"))
    sty_uri = url_term(_STY_NS, F.col("c_mktsegment"))
    block = F.concat(
        F.lit("<"), uri, F.lit("> a owl:Class ;\n\tskos:prefLabel "),
        turtle_literal(F.col("c_name"), lang=F.lit("en")),
        F.lit(" ;\n\tskos:notation "),
        turtle_literal(F.col("c_custkey").cast("string"),
                       datatype="xsd:string"),
        F.lit(" ;\n\tumls:hasSTY <"), sty_uri, F.lit("> .\n"),
    )
    return cust.select(
        F.col("c_custkey").cast("string").alias("subject"),
        block.alias("ttl"),
    )


TURTLE_EXPORT_SQL = """
SELECT CAST(c_custkey AS VARCHAR) AS subject,
       '<http://example.org/cust/' || CAST(c_custkey AS VARCHAR)
       || '> a owl:Class ;' || chr(10) || chr(9) || 'skos:prefLabel "'
       || c_name || '"@en ;' || chr(10) || chr(9) || 'skos:notation "'
       || CAST(c_custkey AS VARCHAR) || '"^^xsd:string ;' || chr(10)
       || chr(9) || 'umls:hasSTY <http://example.org/segment/'
       || c_mktsegment || '> .' || chr(10) AS ttl
FROM customer
"""


QUERIES = {
    "filtered_scan": filtered_scan,
    "group_collect": group_collect,
    "ranked_top1": demo_ranked_top1,
    "tiebreak_cascade": tiebreak_cascade,
    "bridge_join": bridge_join,
    "edge_classify": edge_classify,
    "tree_edges": demo_tree_edges,
    "prefix_hierarchy": demo_prefix_hierarchy,
    "root_detect": root_detect,
    "attr_filter_sort": attr_filter_sort,
    "sty_semijoin": sty_semijoin,
    "triple_gen": demo_triple_gen,
    "triple_dedupe": triple_dedupe,
    "turtle_escape": turtle_escape,
    "first_match_priority": first_match_priority,
    "kv_pivot": kv_pivot,
    "dim_lookup": dim_lookup,
    "turtle_export": turtle_export,
}

ORACLES = {
    "filtered_scan": FILTERED_SCAN_SQL,
    "group_collect": GROUP_COLLECT_SQL,
    "ranked_top1": RANKED_TOP1_SQL,
    "tiebreak_cascade": TIEBREAK_CASCADE_SQL,
    "bridge_join": BRIDGE_JOIN_SQL,
    "edge_classify": EDGE_CLASSIFY_SQL,
    "tree_edges": TREE_EDGES_SQL,
    "prefix_hierarchy": PREFIX_HIERARCHY_SQL,
    "root_detect": ROOT_DETECT_SQL,
    "attr_filter_sort": ATTR_FILTER_SORT_SQL,
    "sty_semijoin": STY_SEMIJOIN_SQL,
    "triple_gen": TRIPLE_GEN_SQL,
    "triple_dedupe": TRIPLE_DEDUPE_SQL,
    "turtle_escape": TURTLE_ESCAPE_SQL,
    "first_match_priority": FIRST_MATCH_PRIORITY_SQL,
    "kv_pivot": KV_PIVOT_SQL,
    "dim_lookup": DIM_LOOKUP_SQL,
    "turtle_export": TURTLE_EXPORT_SQL,
}
