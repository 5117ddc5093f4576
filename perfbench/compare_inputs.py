#!/usr/bin/env python3
"""Compares two input table directories on the statistics the gates are
sensitive to: row counts, key ranges, duplicate and orphan keys, arrival
gaps, near-duplicate documents and embedding clusters.

    python3 perfbench/compare_inputs.py REFERENCE_DIR OTHER_DIR

Prints one line per statistic with the two values side by side. Used to
check that `datagen.py` reproduces the reference tables the gates are
written against (see README.md, "Inputs").
"""
import sys

import duckdb

STATS = [
    ("rows customer/supplier/part",
     "select (select count(*) from customer), (select count(*) from supplier), "
     "(select count(*) from part)"),
    ("rows orders/lineitem/events",
     "select (select count(*) from orders), (select count(*) from lineitem), "
     "(select count(*) from events)"),
    ("rows documents/embeddings",
     "select (select count(*) from documents), (select count(*) from embeddings)"),
    ("lineitem repeated (orderkey, linenumber) keys / rows in them",
     "select count(*), sum(c) from (select count(*) c from lineitem "
     "group by l_orderkey, l_linenumber having count(*) > 1)"),
    ("lineitem distinct orders; lines per order avg/max",
     "select count(*), round(avg(c), 3), max(c) from "
     "(select count(*) c from lineitem group by l_orderkey)"),
    ("lineitem orphans (order/part/supp)",
     "select count(*) filter (where l_orderkey not in (select o_orderkey from orders)), "
     "count(*) filter (where l_partkey not in (select p_partkey from part)), "
     "count(*) filter (where l_suppkey not in (select s_suppkey from supplier)) from lineitem"),
    ("lineitem shipdate / orders orderdate range",
     "select min(l_shipdate)::date, max(l_shipdate)::date, "
     "(select min(o_orderdate)::date from orders), (select max(o_orderdate)::date from orders) "
     "from lineitem"),
    ("orders distinct customers; totalprice avg",
     "select count(distinct o_custkey), round(avg(o_totalprice), -2) from orders"),
    ("events users; ts range (days); value avg",
     "select count(distinct user_id), "
     "round(epoch(max(ts) - min(ts)) / 86400, 2), round(avg(value), 1) from events"),
    ("events gap s avg/stddev; per-user gaps > 30 min share",
     "select round(avg(g), 2), round(stddev(g), 2), "
     "(select round(avg((pg > 1800)::int), 4) from (select epoch(ts - lag(ts) over "
     "(partition by user_id order by ts)) pg from events) where pg is not null) "
     "from (select epoch(ts - lag(ts) over (order by ts)) g from events) where g is not null"),
    ("documents distinct texts; near-duplicates; avg length",
     "select count(distinct text), count(*) filter (where text like '% dup'), "
     "round(avg(length(text)), 1) from documents"),
    ("documents share en; distinct words",
     "select round(avg((lang = 'en')::int), 3), "
     "(select count(distinct w) from (select unnest(string_split(text, ' ')) w from documents)) "
     "from documents"),
    ("embeddings labels; dim; mean cosine to own label centroid",
     "with u as (select vec_id, label, unnest(embedding) v, "
     "unnest(generate_series(1, len(embedding))) i from embeddings), "
     "cen as (select label, i, avg(v) m from u group by label, i), "
     "nrm as (select label, sqrt(sum(m * m)) n from cen group by label), "
     "cos as (select u.vec_id, u.label, sum(u.v * cen.m) / sqrt(sum(u.v * u.v)) d "
     "from u join cen using (label, i) group by u.vec_id, u.label) "
     "select count(distinct label), (select max(len(embedding)) from embeddings), "
     "round(avg(d / n), 3) from cos join nrm using (label)"),
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def profile(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{data_dir}/{t}.parquet".replace("'", "''")
        con.execute(f"create view {t} as select * from read_parquet('{path}')")
    return [con.execute(sql).fetchone() for _, sql in STATS]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    ref, other = profile(sys.argv[1]), profile(sys.argv[2])
    for (name, _), a, b in zip(STATS, ref, other):
        print(f"{name}\n    {tuple(a)}\n    {tuple(b)}")


if __name__ == "__main__":
    main()
