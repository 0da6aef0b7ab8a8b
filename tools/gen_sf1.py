#!/usr/bin/env python3
"""sf1 bench data: 10 deterministic key-shifted copies of sf0.1.

Dev tooling only (like selfcheck.py) — used to produce the committed
BENCH_sf1.json scaling evidence; the generated parquet itself is
gitignored. Copies i = 0..9 shift every key domain by i * its sf0.1
cardinality so FK joins stay consistent; timestamps shift i seconds
(so the time axis densifies ~10x, as a real scale-up would); document
text gets a per-copy suffix token (so copies are NEAR-duplicates, not
byte-exact — keeps the dedup tiers honest); embeddings get a small
per-copy component shift (copies cluster tightly, the ANN worst case).

With --constrate, copies are perturbed PAST the dedup thresholds instead
of staying near-duplicates: every document token gets a per-copy suffix
(cross-copy Jaccard/containment -> 0 while in-copy duplicate families
keep their sf0.1 structure), customer names get a per-copy suffix longer
than the fuzzy tier's edit distance (in-copy distance-1 pairs preserved),
and copy i>0 embeddings are fresh hash-derived draws. Duplicate-family
size then stays CONSTANT as sf grows, so the output-bound pair queries
(jaccard_prefix_pairs, containment_pairs, fuzzy_customer_pairs,
embedding_contamination_fixed) should scale ~linearly -- the measurement that
separates "query is super-linear" from "fixture's output is".

With --src=<dir> --base=<m>, the source is a previously generated dir
whose key domains are m x the sf0.1 ones (e.g. --src=testdata_sf1
--base=10 stacks another 10 copies on sf1 -> sf10); key offsets scale by
m so FK consistency is preserved. Timestamp shifts use i*m seconds and
copy markers use i*m so stacked generations never collide.

Usage: python3 tools/gen_sf1.py [dstDir] [--constrate] [--copies=N]
                                [--src=dir] [--base=m]
"""
import duckdb, os, sys

CONST = "--constrate" in sys.argv
args = [a for a in sys.argv[1:] if not a.startswith("--")]
def flag(name, default):
    hits = [a for a in sys.argv[1:] if a.startswith(f"--{name}=")]
    return hits[0].split("=", 1)[1] if hits else default

SRC = flag("src", "/root/testdata/sf0.1")
DST = args[0] if args else "/root/repo/testdata_sf1"
N = int(flag("copies", "10"))
BASE = int(flag("base", "1"))  # source key-domain multiple of sf0.1
os.makedirs(DST, exist_ok=True)
con = duckdb.connect()

def gen(table, tmpl):
    # substituting i*BASE everywhere scales the key offsets to the source's
    # domain width AND keeps copy markers / time shifts distinct across
    # stacked generations (copy 0 stays the identity copy)
    parts = " UNION ALL ".join(tmpl.format(i=i * BASE) for i in range(N))
    con.execute(f"COPY ({parts}) TO '{DST}/{table}.parquet' (FORMAT PARQUET)")
    n = con.execute(f"SELECT count(*) FROM '{DST}/{table}.parquet'").fetchone()[0]
    print(table, n)

# dimension tables do not scale
for t in ("region", "nation"):
    con.execute(f"COPY (SELECT * FROM '{SRC}/{t}.parquet') "
                f"TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
    print(t, "copied")

cname = ("CASE WHEN {i} = 0 THEN c_name ELSE c_name || '~f{i}' END"
         if CONST else "c_name")
gen("customer",
    f"SELECT c_custkey + {{i}}*15000 AS c_custkey, {cname} AS c_name, "
    f"c_nationkey, c_acctbal, c_mktsegment FROM '{SRC}/customer.parquet'")
gen("supplier",
    f"SELECT s_suppkey + {{i}}*1000 AS s_suppkey, s_name, s_nationkey, "
    f"s_acctbal FROM '{SRC}/supplier.parquet'")
gen("part",
    f"SELECT p_partkey + {{i}}*20000 AS p_partkey, p_name, p_brand, p_type, "
    f"p_size, p_retailprice FROM '{SRC}/part.parquet'")
gen("orders",
    f"SELECT o_orderkey + {{i}}*150000 AS o_orderkey, "
    f"o_custkey + {{i}}*15000 AS o_custkey, o_orderstatus, o_totalprice, "
    f"o_orderdate + INTERVAL ({{i}}) SECOND AS o_orderdate, o_orderpriority "
    f"FROM '{SRC}/orders.parquet'")
gen("lineitem",
    f"SELECT l_orderkey + {{i}}*150000 AS l_orderkey, "
    f"l_partkey + {{i}}*20000 AS l_partkey, "
    f"l_suppkey + {{i}}*1000 AS l_suppkey, l_linenumber, l_quantity, "
    f"l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
    f"l_shipdate + INTERVAL ({{i}}) SECOND AS l_shipdate "
    f"FROM '{SRC}/lineitem.parquet'")
gen("events",
    f"SELECT event_id + {{i}}*100000 AS event_id, "
    f"ts + INTERVAL ({{i}}) SECOND AS ts, "
    f"user_id + {{i}}*1500 AS user_id, event_type, value, props "
    f"FROM '{SRC}/events.parquet'")
if CONST:
    # per-copy token suffix: cross-copy shingle sets are disjoint, in-copy
    # duplicate structure identical to sf0.1 -> family size constant
    ctext = ("CASE WHEN {i} = 0 THEN text ELSE array_to_string("
             "list_transform(string_split(text, ' '), t -> t || 'x{i}'), ' ') END")
    gen("documents",
        f"SELECT doc_id + {{i}}*5000 AS doc_id, {ctext} AS text, "
        f"lang, source, length({ctext}) AS n_chars "
        f"FROM '{SRC}/documents.parquet'")
    # copy i>0 embeddings are fresh deterministic draws (hash-derived in
    # [-1, 1]) -- no cross-copy near-identical vectors
    cemb = ("CASE WHEN {i} = 0 THEN embedding ELSE "
            "list_transform(range(0, len(embedding)), d -> "
            "CAST((CAST(hash(vec_id * 131 + d * 7 + {i} * 1000003) % 2001 "
            "AS DOUBLE) - 1000.0) / 1000.0 AS FLOAT)) END")
    gen("embeddings",
        f"SELECT vec_id + {{i}}*2000 AS vec_id, {cemb} AS embedding, "
        f"label FROM '{SRC}/embeddings.parquet'")
else:
    gen("documents",
        f"SELECT doc_id + {{i}}*5000 AS doc_id, "
        f"CASE WHEN {{i}} = 0 THEN text ELSE text || ' rep{{i}}' END AS text, "
        f"lang, source, n_chars + CASE WHEN {{i}} = 0 THEN 0 ELSE 5 END AS n_chars "
        f"FROM '{SRC}/documents.parquet'")
    gen("embeddings",
        f"SELECT vec_id + {{i}}*2000 AS vec_id, "
        f"list_transform(embedding, x -> CAST(x + {{i}}*0.001 AS FLOAT)) AS embedding, "
        f"label FROM '{SRC}/embeddings.parquet'")
print("done ->", DST)
