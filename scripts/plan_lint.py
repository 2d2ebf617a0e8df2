"""Plan lint: audit EVERY registry query's physical plan for scale
anti-patterns, the way a reviewer would read .explain() — but over all
142 queries mechanically, so a regression in any one of them fails CI.

Rules (each a would-not-survive-100TB smell):

* ``CartesianProduct`` — unbounded row blowup.
* ``BroadcastNestedLoopJoin`` — O(n*m) probe; only acceptable when one
  side is a literal/1-row aggregate (those cases are whitelisted BY
  NAME with a justification below, so new ones trip the lint).
* ``BatchEvalPython`` — row-at-a-time Python UDF in the plan (the slow
  path this package bans; Arrow kernels show as ArrowEvalPython /
  MapInPandas / FlatMapGroupsInPandas and are allowed).
* ``SortAggregate`` over a non-sketch column — informational only
  (printed, not failing): usually means an ObjectHashAggregate fell
  back.

Exchange counts per query are recorded (informational) so a
shuffle-count regression shows up in the JSON diff even when no hard
rule fires.

Usage: python scripts/plan_lint.py [sf_dir] [--out PLANLINT.json]
Exit 1 when any non-whitelisted violation exists.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from dataframe_pipeline_spark.session import get_spark  # noqa: E402

#: name -> justification.  A BroadcastNestedLoopJoin is fine iff one
#: side is a scalar (1-row aggregate / literal frame) — constant work.
BNLJ_WHITELIST = {
    "corr_lineitem": "cross-joins ONE 1-row stats aggregate onto itself",
    "hist_order_price": "cross-joins a 1-row min/max aggregate (bin edges)",
    "events_value_zscore": "1-row global stats frame joined to facts",
    "text_tfidf": "1-row corpus doc-count joined under the idf",
    "profile_customer": "1-row wide aggregate + one broadcast 1-row "
                        "exact-distinct subtree per audited column "
                        "(profiling.py decomposed exact tier)",
    "expect_orders": "wide report aggregate cross-joins broadcast 1-row "
                     "subtrees: exact-unique distinct + fk miss count "
                     "(expectations.py decomposed report)",
    "expect_orders_hll": "same report shape: both the approx (HLL) "
                         "unique and the fk probe run as decomposed "
                         "broadcast 1-row subtrees (Fix 15 r12)",
    "quality_by_source": "1-row quantile frame cross-joined to groups",
    "split_train": "1-row count frame for the 3:1 split boundary",
    "freq_norm": "crossJoin(broadcast(1-row total)) for count/total "
                 "(frequency_encoder.py:45)",
    "sim_topk_cosine": "crossJoin(broadcast(1-row query vector)) "
                       "(similarity.py:56)",
    "sim_ann_ivf": "crossJoin(broadcast(1-row query vector)) onto the "
                   "pruned probe scan (similarity.py:372)",
    "sim_ann_ivf_persisted": "same probe shape off the persisted index",
    "tpch_q22_idle": "Q22 scalar subquery: crossJoin(broadcast(1-row "
                     "avg(acctbal))) (tpch.py:708)",
    "tpch_q11_value": "Q11 scalar subquery: crossJoin(broadcast(1-row "
                      "sum over the checkpointed grouped frame))",
    "text_bm25_topk": "crossJoin(1-row corpus-stats aggregate: N, "
                      "avgdl, per-term df), broadcast by the planner "
                      "(text.py BM25)",
    "sim_ann_ivf_append": "crossJoin(broadcast(1-row query vector)) onto "
                          "the pruned probe scan (same shape as "
                          "sim_ann_ivf_persisted)",
}

#: queries whose PLAN CONSTRUCTION already runs Spark jobs (fits,
#: trainers, index builds): linted like everything else, listed here
#: only to explain their longer wall time in this script's output.
FIT_BEARING = {
    "dedup_clusters", "dedup_keep_canonical", "text_bpe_merges",
    "text_bpe_tokens", "dedup_minhash_incremental", "graph_pagerank",
    "sim_ann_ivf", "sim_ann_ivf_persisted", "sim_ann_ivf_batch",
}


def parse_args(argv) -> argparse.Namespace:
    """``[sf_dir] [--out PATH]``: ``--out`` takes a value, so the path
    after it is never read as the sf_dir."""
    p = argparse.ArgumentParser(description="Lint every registry query's "
                                "physical plan.")
    p.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    p.add_argument("--out", default="PLANLINT.json")
    return p.parse_args(argv)


def main():
    args = parse_args(sys.argv[1:])
    sf_dir, out_path = args.sf_dir, args.out

    spark = get_spark("plan-lint")
    qs = entrymod.queries()
    report, violations = {}, []
    for name, fn in sorted(qs.items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — lint must see every query
            report[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
            violations.append((name, "PLAN_ERROR"))
            continue
        entry = {
            "exchanges": plan.count("Exchange"),
            "cartesian": plan.count("CartesianProduct"),
            "bnlj": plan.count("BroadcastNestedLoopJoin"),
            "row_python": plan.count("BatchEvalPython"),
            "arrow_python": (plan.count("ArrowEvalPython")
                             + plan.count("MapInPandas")
                             + plan.count("FlatMapGroupsInPandas")),
            "sort_aggregate": plan.count("SortAggregate"),
        }
        if entry["cartesian"]:
            violations.append((name, "CartesianProduct"))
        if entry["bnlj"] and name not in BNLJ_WHITELIST:
            violations.append((name, "BroadcastNestedLoopJoin"))
        if entry["row_python"]:
            violations.append((name, "BatchEvalPython"))
        report[name] = entry

    summary = {
        "queries": len(report),
        "violations": [f"{n}: {r}" for n, r in violations],
        "bnlj_whitelisted": sorted(
            n for n, e in report.items()
            if e.get("bnlj") and n in BNLJ_WHITELIST),
        "total_exchanges": sum(e.get("exchanges", 0)
                               for e in report.values()),
        "arrow_kernel_queries": sorted(
            n for n, e in report.items() if e.get("arrow_python")),
        "per_query": report,
    }
    with open(out_path, "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    print(f"{len(report)} queries linted; "
          f"{len(violations)} violations; "
          f"{len(summary['bnlj_whitelisted'])} whitelisted BNLJ; "
          f"wrote {out_path}")
    for n, r in violations:
        print(f"  VIOLATION {n}: {r}")
    spark.stop()
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
