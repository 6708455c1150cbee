"""SPARQL request templates and their DuckDB twins.

Each template draws its constants from the workload's random stream and
returns a ``Request``: the SPARQL text the engine receives, the SQL the
DuckDB oracle runs over the same parquet files with the same constants,
and how to compare the two results. Shapes follow the linear / star /
snowflake / complex classes S2RDF used to evaluate SPARQL on Spark.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass
from datetime import datetime, timezone

from datagen import PART_ADJ, PART_NOUN, PRIORITIES, REGIONS, STATUSES

XSD = "http://www.w3.org/2001/XMLSchema#"
NUMERIC_DTS = {XSD + t for t in (
    "integer", "decimal", "double", "float", "int", "long", "short", "byte")}
FK_PATH = ("(<urn:fk:orders:o_custkey>|<urn:fk:customer:c_nationkey>"
           "|<urn:fk:nation:n_regionkey>)+")


@dataclass
class Request:
    template: str
    sparql: str
    sql: str | list[str]  # a list is run statement by statement
    ordered: bool = False  # compare row order too (ORDER BY ... LIMIT)


def _c(t: str, c: str) -> str:
    return f"<urn:col:{t}:{c}>"


def _fk(t: str, c: str) -> str:
    return f"<urn:fk:{t}:{c}>"


def _iri_sql(table: str, key: str) -> str:
    return f"'urn:t:{table}:' || CAST({key} AS VARCHAR)"


# -- sparql_interactive: term mode over every mapped table -----------------

def point_lookup(rng, n) -> Request:
    k = int(rng.integers(0, n["customer"]))
    return Request("point_lookup", f"""
SELECT ?name ?bal ?seg ?nation WHERE {{
  <urn:t:customer:{k}> {_c('customer', 'c_name')} ?name ;
      {_c('customer', 'c_acctbal')} ?bal ;
      {_c('customer', 'c_mktsegment')} ?seg ;
      {_fk('customer', 'c_nationkey')} ?nation .
}}""", f"""
SELECT c_name, c_acctbal, c_mktsegment, {_iri_sql('nation', 'c_nationkey')}
FROM customer WHERE c_custkey = {k}""")


def join_3hop(rng, n) -> Request:
    region = REGIONS[int(rng.integers(0, 5))]
    price = round(float(rng.uniform(440_000, 490_000)), 2)
    return Request("join_3hop", f"""
SELECT ?o ?cname ?price WHERE {{
  ?o {_fk('orders', 'o_custkey')} ?c ;
     {_c('orders', 'o_totalprice')} ?price .
  ?c {_fk('customer', 'c_nationkey')} ?n ;
     {_c('customer', 'c_name')} ?cname .
  ?n {_fk('nation', 'n_regionkey')} ?r .
  ?r {_c('region', 'r_name')} "{region}" .
  FILTER(?price > {price})
}}""", f"""
SELECT {_iri_sql('orders', 'o_orderkey')}, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{region}' AND o_totalprice > {price}""")


def filter_order_limit(rng, n) -> Request:
    lo = round(float(rng.uniform(0, 8000)), 2)
    return Request("filter_order_limit", f"""
SELECT ?c ?bal WHERE {{
  ?c {_c('customer', 'c_acctbal')} ?bal .
  FILTER(?bal > {lo})
}} ORDER BY DESC(?bal) ?c LIMIT 10""", f"""
SELECT {_iri_sql('customer', 'c_custkey')} AS c, c_acctbal FROM customer
WHERE c_acctbal > {lo} ORDER BY c_acctbal DESC, c LIMIT 10""", ordered=True)


def optional(rng, n) -> Request:
    nation = int(rng.integers(0, 25))
    price = round(float(rng.uniform(400_000, 480_000)), 2)
    return Request("optional", f"""
SELECT ?c ?name ?o WHERE {{
  ?c {_fk('customer', 'c_nationkey')} <urn:t:nation:{nation}> ;
     {_c('customer', 'c_name')} ?name .
  OPTIONAL {{
    ?o {_fk('orders', 'o_custkey')} ?c ;
       {_c('orders', 'o_totalprice')} ?p .
    FILTER(?p > {price})
  }}
}}""", f"""
SELECT {_iri_sql('customer', 'c_custkey')}, c_name,
       CASE WHEN o_orderkey IS NULL THEN NULL
            ELSE {_iri_sql('orders', 'o_orderkey')} END
FROM customer LEFT JOIN orders
  ON o_custkey = c_custkey AND o_totalprice > {price}
WHERE c_nationkey = {nation}""")


def minus(rng, n) -> Request:
    nation = int(rng.integers(0, 25))
    prio = PRIORITIES[int(rng.integers(0, 5))]
    return Request("minus", f"""
SELECT ?c ?name WHERE {{
  ?c {_fk('customer', 'c_nationkey')} <urn:t:nation:{nation}> ;
     {_c('customer', 'c_name')} ?name .
  MINUS {{
    ?o {_fk('orders', 'o_custkey')} ?c ;
       {_c('orders', 'o_orderpriority')} "{prio}" .
  }}
}}""", f"""
SELECT {_iri_sql('customer', 'c_custkey')}, c_name FROM customer
WHERE c_nationkey = {nation} AND c_custkey NOT IN
  (SELECT o_custkey FROM orders WHERE o_orderpriority = '{prio}')""")


def values(rng, n) -> Request:
    keys = sorted({int(k) for k in rng.integers(0, n["customer"], 8)})
    iris = " ".join(f"<urn:t:customer:{k}>" for k in keys)
    return Request("values", f"""
SELECT ?c ?name ?bal WHERE {{
  VALUES ?c {{ {iris} }}
  ?c {_c('customer', 'c_name')} ?name ;
     {_c('customer', 'c_acctbal')} ?bal .
}}""", f"""
SELECT {_iri_sql('customer', 'c_custkey')}, c_name, c_acctbal FROM customer
WHERE c_custkey IN ({', '.join(map(str, keys))})""")


def group_having(rng, n) -> Request:
    status = STATUSES[int(rng.integers(0, 3))]
    # per-nation order counts are ~ orders/75: keep roughly half the groups
    floor = int(n["orders"] / 75 * float(rng.uniform(0.95, 1.05)))
    return Request("group_having", f"""
SELECT ?nation (COUNT(?o) AS ?n) (SUM(?p) AS ?total) WHERE {{
  ?o {_fk('orders', 'o_custkey')} ?c ;
     {_c('orders', 'o_orderstatus')} "{status}" ;
     {_c('orders', 'o_totalprice')} ?p .
  ?c {_fk('customer', 'c_nationkey')} ?nation .
}} GROUP BY ?nation HAVING (COUNT(?o) > {floor})""", f"""
SELECT {_iri_sql('nation', 'c_nationkey')}, COUNT(*), SUM(o_totalprice)
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = '{status}'
GROUP BY c_nationkey HAVING COUNT(*) > {floor}""")


def string_filter(rng, n) -> Request:
    adj = PART_ADJ[int(rng.integers(0, len(PART_ADJ)))]
    noun = PART_NOUN[int(rng.integers(0, len(PART_NOUN)))]
    size = int(rng.integers(10, 40))
    return Request("string_filter", f"""
SELECT ?p ?name WHERE {{
  ?p {_c('part', 'p_name')} ?name ;
     {_c('part', 'p_size')} ?size .
  FILTER(STRSTARTS(?name, "{adj} ") && CONTAINS(?name, "{noun}")
         && ?size < {size})
}}""", f"""
SELECT {_iri_sql('part', 'p_partkey')}, p_name FROM part
WHERE starts_with(p_name, '{adj} ') AND contains(p_name, '{noun}')
  AND p_size < {size}""")


def construct(rng, n) -> Request:
    lo = round(float(rng.uniform(9_000, 9_800)), 2)
    return Request("construct", f"""
CONSTRUCT {{ ?c <urn:ex:region> ?rname }} WHERE {{
  ?c {_fk('customer', 'c_nationkey')} ?n ;
     {_c('customer', 'c_acctbal')} ?b .
  ?n {_fk('nation', 'n_regionkey')} ?r .
  ?r {_c('region', 'r_name')} ?rname .
  FILTER(?b > {lo})
}}""", f"""
SELECT {_iri_sql('customer', 'c_custkey')}, 'urn:ex:region', r_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey WHERE c_acctbal > {lo}""")


def describe(rng, n) -> Request:
    k = int(rng.integers(0, n["orders"]))
    s = f"'urn:t:orders:{k}'"
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    # one statement per column: the objects keep their own SQL types
    sql = [f"SELECT {s}, 'urn:col:orders:{c}', {c} FROM orders "
           f"WHERE o_orderkey = {k}" for c in cols]
    sql.append(f"SELECT {s}, 'urn:fk:orders:o_custkey', "
               f"{_iri_sql('customer', 'o_custkey')} "
               f"FROM orders WHERE o_orderkey = {k}")
    sql.append(f"SELECT {s}, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', "
               f"'urn:class:orders'")
    return Request("describe", f"DESCRIBE <urn:t:orders:{k}>", sql)


INTERACTIVE = [point_lookup, join_3hop, filter_order_limit, optional, minus,
               values, group_having, string_filter, construct, describe]


# -- sparql_analytic: ID mode over orders/customer/nation/region -----------

def closure_full(rng, n) -> Request:
    return Request("closure_full", f"SELECT ?s ?x WHERE {{ ?s {FK_PATH} ?x }}", f"""
SELECT {_iri_sql('orders', 'o_orderkey')}, {_iri_sql('customer', 'o_custkey')} FROM orders
UNION ALL SELECT {_iri_sql('orders', 'o_orderkey')}, {_iri_sql('nation', 'c_nationkey')}
  FROM orders JOIN customer ON o_custkey = c_custkey
UNION ALL SELECT {_iri_sql('orders', 'o_orderkey')}, {_iri_sql('region', 'n_regionkey')}
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
UNION ALL SELECT {_iri_sql('customer', 'c_custkey')}, {_iri_sql('nation', 'c_nationkey')} FROM customer
UNION ALL SELECT {_iri_sql('customer', 'c_custkey')}, {_iri_sql('region', 'n_regionkey')}
  FROM customer JOIN nation ON c_nationkey = n_nationkey
UNION ALL SELECT {_iri_sql('nation', 'n_nationkey')}, {_iri_sql('region', 'n_regionkey')} FROM nation""")


def closure_seeded(rng, n) -> Request:
    k = int(rng.integers(0, n["orders"]))
    return Request("closure_seeded",
                   f"SELECT ?x WHERE {{ <urn:t:orders:{k}> {FK_PATH} ?x }}", f"""
SELECT {_iri_sql('customer', 'c_custkey')} FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey = {k}
UNION ALL SELECT {_iri_sql('nation', 'c_nationkey')} FROM orders
  JOIN customer ON o_custkey = c_custkey WHERE o_orderkey = {k}
UNION ALL SELECT {_iri_sql('region', 'n_regionkey')} FROM orders
  JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderkey = {k}""")


def path_reverse_seq(rng, n) -> Request:
    nation = int(rng.integers(0, 25))
    return Request("path_reverse_seq", f"""
SELECT ?o WHERE {{
  <urn:t:nation:{nation}> ^{_fk('customer', 'c_nationkey')}/^{_fk('orders', 'o_custkey')} ?o
}}""", f"""
SELECT {_iri_sql('orders', 'o_orderkey')} FROM orders
JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = {nation}""")


def agg_orders_segment(rng, n) -> Request:
    prio = PRIORITIES[int(rng.integers(0, 5))]
    return Request("agg_orders_segment", f"""
SELECT ?seg (COUNT(?o) AS ?n) (SUM(?p) AS ?total) WHERE {{
  ?o {_fk('orders', 'o_custkey')} ?c ;
     {_c('orders', 'o_orderpriority')} "{prio}" ;
     {_c('orders', 'o_totalprice')} ?p .
  ?c {_c('customer', 'c_mktsegment')} ?seg .
}} GROUP BY ?seg""", f"""
SELECT c_mktsegment, COUNT(*), SUM(o_totalprice)
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderpriority = '{prio}' GROUP BY c_mktsegment""")


def join_orders_price(rng, n) -> Request:
    lo = round(float(rng.uniform(800, 490_000)), 2)
    hi = round(lo + 5_000, 2)
    return Request("join_orders_price", f"""
SELECT ?o ?p ?cname ?nname WHERE {{
  ?o {_c('orders', 'o_totalprice')} ?p ;
     {_fk('orders', 'o_custkey')} ?c .
  ?c {_c('customer', 'c_name')} ?cname ;
     {_fk('customer', 'c_nationkey')} ?n .
  ?n {_c('nation', 'n_name')} ?nname .
  FILTER(?p >= {lo} && ?p < {hi})
}}""", f"""
SELECT {_iri_sql('orders', 'o_orderkey')}, o_totalprice, c_name, n_name
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_totalprice >= {lo} AND o_totalprice < {hi}""")


ANALYTIC = [closure_full, closure_seeded, path_reverse_seq, agg_orders_segment,
            join_orders_price]
ANALYTIC_TABLES = ["orders", "customer", "nation", "region"]


# -- result comparison -----------------------------------------------------

def _norm(v):
    """One result cell as a comparable value: numbers and instants as
    floats, every other term by its lexical form, unbound as None."""
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, dict):  # a SPARQL-JSON term
        if v.get("datatype") in NUMERIC_DTS:
            return float(v["value"])
        if v.get("datatype") == XSD + "dateTime":
            return datetime.fromisoformat(v["value"].replace("Z", "+00:00")).timestamp()
        return v["value"]
    if isinstance(v, datetime):  # DuckDB TIMESTAMP: naive UTC
        return v.replace(tzinfo=timezone.utc).timestamp()
    return float(v)


def sparql_json_rows(text: str) -> list[tuple]:
    doc = json.loads(text)
    cols = doc["head"]["vars"]
    return [tuple(_norm(b.get(c)) for c in cols)
            for b in doc["results"]["bindings"]]


def _key(row):
    return tuple((x is None, "" if x is None else str(type(x)), x if x is not None else 0)
                 for x in row)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_match(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


def oracle_rows(con, sql: str | list[str]) -> list[tuple]:
    stmts = [sql] if isinstance(sql, str) else sql
    return [tuple(_norm(x) for x in r)
            for stmt in stmts for r in con.execute(stmt).fetchall()]
