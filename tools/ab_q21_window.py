"""Interleaved A/B harness for the r15 q21 top-2 rewrite: collect_list
ObjectHashAggregate (old) vs row_number/count windows + conditional-max
pivot (new), measured BOTH isolated and in a full-pass-polluted session
(the condition that exposed the old shape collapsing into its >128-key
sort-based fallback).  Asserts result equality before timing.

Usage: [AB_SF_DIR=/tmp/gg_sf1] python tools/ab_q21_window.py"""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from greengage_spark.session import get_spark
from greengage_spark.plans.registry import all_queries
import numpy as np
spark = get_spark('ab-q21-window')
q = all_queries()
sf = os.environ.get('AB_SF_DIR', '/root/testdata/sf0.1')
a=np.random.rand(512,512); b=np.random.rand(512,512)
def calib():
    best=1e9
    for _ in range(3):
        t0=time.time(); (a@b).sum(); best=min(best,time.time()-t0)
    return round(best*1000,1)
def house():
    spark.catalog.clearCache(); spark._jvm.System.gc()

from greengage_spark.plans.tpch import cat, ts

def q21_variant(topk):
    c = cat(spark, sf)
    l = (c.table("lineitem").select("l_orderkey","l_suppkey","l_shipdate")
         .filter(F.col("l_suppkey").isNotNull() & F.col("l_orderkey").isNotNull()))
    per_supp = l.groupBy("l_orderkey","l_suppkey").agg(F.max("l_shipdate").alias("supp_max_sd"))
    if topk == 'old':
        stats = per_supp.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("nsupp"),
            F.slice(F.sort_array(F.collect_list(F.struct("supp_max_sd","l_suppkey")), asc=False),1,2).alias("top2"),
        ).select(F.col("l_orderkey").alias("st_orderkey"),"nsupp",
            F.try_element_at(F.col("top2"),F.lit(1))["supp_max_sd"].alias("sd1"),
            F.try_element_at(F.col("top2"),F.lit(1))["l_suppkey"].alias("sk1"),
            F.try_element_at(F.col("top2"),F.lit(2))["supp_max_sd"].alias("sd2"))
    else:
        wr = Window.partitionBy("l_orderkey").orderBy(F.desc("supp_max_sd"),F.desc("l_suppkey"))
        wa = Window.partitionBy("l_orderkey")
        ranked = per_supp.select("l_orderkey","l_suppkey","supp_max_sd",
            F.row_number().over(wr).alias("rk"), F.count(F.lit(1)).over(wa).alias("nsupp"))
        stats = (ranked.filter(F.col("rk")<=2).groupBy("l_orderkey").agg(
            F.max("nsupp").alias("nsupp"),
            F.max(F.when(F.col("rk")==1,F.col("supp_max_sd"))).alias("sd1"),
            F.max(F.when(F.col("rk")==1,F.col("l_suppkey"))).alias("sk1"),
            F.max(F.when(F.col("rk")==2,F.col("supp_max_sd"))).alias("sd2"))
            .select(F.col("l_orderkey").alias("st_orderkey"),"nsupp","sd1","sk1","sd2"))
    l1 = l.select(F.col("l_orderkey").alias("k1_orderkey"),F.col("l_suppkey").alias("k1_suppkey"),F.col("l_shipdate").alias("k1_shipdate"))
    base = (c.dim("supplier").join(l1, F.col("s_suppkey")==F.col("k1_suppkey"))
        .join(c.table("orders").filter(F.col("o_orderstatus")=="F"), F.col("o_orderkey")==F.col("k1_orderkey"))
        .join(stats, F.col("st_orderkey")==F.col("k1_orderkey")))
    om = F.when(F.col("sk1")!=F.col("k1_suppkey"),F.col("sd1")).otherwise(F.col("sd2"))
    nl = base.filter((F.col("nsupp")>=2)&(om.isNull()|(om<=F.col("k1_shipdate"))))
    return (nl.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.desc("numwait"),F.asc("s_name")).limit(20))

# sanity: identical rows
ro = q21_variant('old').collect(); rn = q21_variant('new').collect()
assert ro == rn, 'RESULT MISMATCH'
print('results identical:', len(ro), 'rows', flush=True)
house()

# isolated interleaved A/B
print('--- isolated (clean session) ---', flush=True)
for rep in range(4):
    out=[]
    for v in ('old','new'):
        t0=time.time(); q21_variant(v).collect(); e=round(time.time()-t0,3); house()
        out.append(f'{v} {e}')
    print(' '.join(out), 'calib', calib(), flush=True)

# pollute: full pass of all 15 bench queries
HEADLINE = ['q1_pricing_summary','q3_shipping_priority','q5_local_supplier','q6_revenue_forecast','q9_product_profit','q13_customer_distribution','q18_large_volume_customer','q21_waiting_supplier','similarity_ivf_topk','dedup_substring_spans','dedup_exact','dedup_minhash_lsh','similarity_bruteforce_topk','similarity_lsh_topk','text_quality_metrics']
for n in HEADLINE: q[n].fn(spark, sf).collect(); house()
print('--- polluted (after full pass) ---', flush=True)
for rep in range(4):
    out=[]
    for v in ('old','new'):
        t0=time.time(); q21_variant(v).collect(); e=round(time.time()-t0,3); house()
        out.append(f'{v} {e}')
    print(' '.join(out), 'calib', calib(), flush=True)
