"""Interleaved A/B: _normalized_vec as transform-with-inlined-norm (HEAD,
the O(D²)-per-row CollapseProject trap) vs zip_with/array_repeat (norm
fold in argument position, once per row). Affected queries:
sim_sq8_rerank_topk (fit + corpus encode + query encode),
sim_ivf_sq8_topk (fit + encode), sim_recall_harness (both, threaded).
Equality asserted on collected rows."""

import sys
import time

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F  # noqa: E402

import datapipelines_spark.operators.sq as sq  # noqa: E402
from datapipelines_spark.catalog import all_queries  # noqa: E402
from datapipelines_spark.functions.caching import release_persists  # noqa: E402
from datapipelines_spark.operators.dedup import _norm  # noqa: E402
from datapipelines_spark.session import get_spark  # noqa: E402

_new_impl = sq._normalized_vec


def head_normalized_vec(df, vec_col, normalize):
    v = F.col(vec_col).cast("array<double>")
    if not normalize:
        return df.withColumn("__v", v)
    return df.withColumn("__nrm", _norm(v)).withColumn(
        "__v", F.transform(v, lambda x: x / F.col("__nrm"))
    )


sf_dir = "/root/testdata/sf0.1"
spark = get_spark(app_name="profile-sq8-norm")
registry = all_queries()
registry["q1_pricing_summary"].builder(spark, sf_dir).count()
tracker = spark.sparkContext.statusTracker()

QUERIES = ["sim_sq8_rerank_topk", "sim_ivf_sq8_topk", "sim_recall_harness"]
arms = {"head": head_normalized_vec, "r14": _new_impl}

walls = {(q, a): [] for q in QUERIES for a in arms}
results = {}
for rep in range(6):
    for q in QUERIES:
        for arm, impl in arms.items():
            sq._normalized_vec = impl
            release_persists()  # also forgets the memoized count probes
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows = registry[q].builder(spark, sf_dir).collect()
            walls[(q, arm)].append(round(time.perf_counter() - t0, 3))
            if (q, arm) not in results:
                results[(q, arm)] = rows

sq._normalized_vec = _new_impl
for q in QUERIES:
    assert results[(q, "head")] == results[(q, "r14")], q
    print(f"{q}: results identical ({len(results[(q, 'head')])} rows)")
    for arm in arms:
        ws = walls[(q, arm)]
        med = sorted(ws)[len(ws) // 2]
        print(f"  [{arm}] median {med:.3f} all={ws}")
spark.stop()
