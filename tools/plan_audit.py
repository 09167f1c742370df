"""Catalog-wide physical-plan audit: explain("formatted") every catalog
entry and flag the 100 TB anti-patterns:

* CartesianProduct anywhere;
* BroadcastNestedLoopJoin that is NOT a 1-row scalar cross join
  (heuristic: more than `--bnlj-allow` per plan);
* Window with an EMPTY partition spec (single-task at scale) — unless
  the query is in the documented whitelist below, where the window
  input is an aggregate bounded by a domain (buckets, distinct cents,
  #sources, #partitions), not the corpus;
* per-plan Exchange count above a loud threshold (joins legitimately
  need several; this is a smell ranking, not a gate).

It also reports each plan's whole-stage codegen spans (distinct codegen
ids), counted in the plan as planned with AQE off (no flag; a record for
comparing plans), and its checkpoint scans: a checkpointed frame prints as
one ``Scan ExistingRDD``, so the shuffles that built it are not in the
plan. An entry with checkpoint scans has at least the exchanges counted,
and the exchange ranking prints its count as ``>=N``.

The final plans are explained, not collected, but building an entry's
DataFrame runs whatever the entry computes eagerly: its
``localCheckpoint(eager=True)`` frames, its driver-side collects (the
power-iteration loadings, the MMR and k-center picks) and the table
writes of the persisted-index entries. A whole-catalog audit therefore
executes a large part of the catalog; name entries to keep it short.
The default name list leaves out the streaming replays
(``REPLAY_OK_PREFIXES``); a replay named on the command line is audited.

Usage:  python tools/plan_audit.py [--json PLAN_AUDIT.json] [name ...]

It audits the checkout it lives in, from any working directory: the repo
root is put on the driver's path and on ``PYTHONPATH`` for the Python
workers. The data comes from ``SPARK_GRAFT_TEST_SF_DIR`` (default as in
``tests/conftest.py``).

Exit code 1 iff a non-whitelisted flag fires — usable as a regression
gate next to the plan-shape pytest file (which pins specific shapes;
this sweeps everything, including entries added in a hurry).
"""
from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too; they inherit the environment
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from helium_arango_etl_lite_spark.plans.queries import QUERIES  # noqa: E402
from helium_arango_etl_lite_spark.session import get_spark, scoped_conf  # noqa: E402

# Entries whose GLOBAL (unpartitioned) window is over a DOMAIN-BOUNDED
# aggregate, with the bound — reviewed by hand; keep the justification
# current when adding one.
GLOBAL_WINDOW_OK = {
    "pareto_frontier": "window over O(#price-buckets) rows (~25)",
    "agg_gini_by_group": "prefix-count over distinct cents per type",
    "agg_theil_index": "distinct-value grid (no window; safety)",
    "llm_source_stats": "share window over #sources rows",
    "llm_mixture_weights": "normalizers over #sources rows",
    "llm_mix_rebalance": "min over #sources rows",
    "llm_quality_percentile": "cumulative window over fixed histogram",
    "dq_partition_skew": "rank over #buckets rows",
    "storage_compaction_plan": "running sum over #days rows",
    "zorder_layout_stats": "rank over #files rows",
    "llm_vocab_growth": "Heaps curve over #checkpoints rows",
    "agg_exact_median_refine": "readout over candidate range rows",
    "llm_pipeline_funnel": "stage ordering over #stages rows",
    "agg_histogram_quantiles": "cumulative over fixed bins",
    "llm_length_histogram": "cumulative over fixed buckets",
    "agg_event_funnel": "stage readout rows",
    "llm_seq_len_buckets": "fixed bucket table",
    "dq_profile": "per-column summary rows",
    "events_acf": "lag table readout (6 rows)",
    "llm_split_leakage_check": "<=4-row readout",
    "graph_degree_distribution": "degree histogram rows",
    "llm_knn_label_accuracy": "readout",
    "llm_ann_recall": "readout over k rows",
    "llm_ann_recall_sampled": "readout over k rows",
    "llm_bpe_pair_counts": "top-k readout",
    "llm_rrf_fusion": "rank windows over top-30 lists, never the corpus",
    "llm_eval_pr_at_k": "running tp over the top-100 list only",
    "llm_eval_ndcg": "running DCG/IDCG over the top-100 list only",
    "agg_stats_profile": "moment readout rows",
    "window_rank_distribution": "CDF over rank histogram",
    "llm_heavy_hitters_cms": "readout over sketch width",
    "agg_hll_set_algebra": "register readout (fixed 2^p)",
    "agg_hll_distinct": "register readout (fixed 2^p)",
}

# Entries whose plans contain MULTIPLE nested-loop joins BY DESIGN —
# every one is a cross join against a DOMAIN-BOUNDED build side
# (centroid set, bin grid, stage table, sketch registers, 1-row
# normalizers), so the nested loop's quadratic term is bounded by a
# constant, not the corpus. Reviewed by hand; justify new additions.
BNLJ_OK = {
    "llm_mixture_weights": "1-row total + 1-row normalizer crosses",
    "dq_psi_drift": "6-row bin grid + 1-row corpus total crosses",
    "llm_naive_bayes_score": "|classes|-row OOV + 1-row vocab/ndocs",
    "agg_event_funnel": "fixed funnel-stage table crosses",
    "anti_join_new_keys": "1-row high-water-mark cross",
    "llm_ann_ivf": "fixed K=32 centroid assignment cross",
    "llm_semdedup": "fixed K centroid cross",
    "llm_semdedup_capped": "fixed K centroid + salt-split bound crosses",
    "llm_mix_rebalance": "1-row min-source cross",
    "zorder_layout_stats": "1-row corpus-extent cross",
    "agg_histogram_quantiles": "1-row bin-extent cross",
    "agg_hll_set_algebra": "fixed 2^p register-table crosses",
    "llm_rrf_fusion": "1-row query-vector + 1-row bm25-stats crosses",
    "llm_eval_pr_at_k": "1-row query-vector + 1-row n_pos crosses",
    "llm_eval_ndcg": "1-row query-vector cross (cosine ranking)",
    "llm_unigram_em": "two 1-row piece-total crosses (one per EM round)",
    "llm_eval_rbo": "10-row depth-table x <=10-row common-list "
                    "inequality join + 1-row bm25-stats cross — both "
                    "sides bounded by the ranking depth, never the "
                    "corpus",
    "events_funnel_timed": "two 1-row x 1-row crosses assembling the "
                           "three funnel-stage scalar counts into one "
                           "readout row",
    "llm_ann_ivf_pq_recall": "fixed K=32 centroid crosses (Lloyd E-step "
                             "+ encode assignment + probe) and the 8-row "
                             "codebook scoring/LUT crosses — every build "
                             "side constant-size",
    "llm_ann_ivf_pq_recall_trained": "same K=32/8-row crosses as the "
                                     "untrained twin PLUS the per-block "
                                     "codebook-training re-scoring "
                                     "against the same 8-row seed "
                                     "codebook — all constant-size",
    "llm_ivf_cell_stats": "two fixed K=32 centroid assignment crosses "
                          "(seed and Lloyd-refined) + the Lloyd E-step "
                          "cross",
    "llm_pq_train_codebook": "8-row codebook scoring cross per block "
                             "(assignment for the per-block M-step)",
    "llm_ann_ivf_pq_recall_sweep": "fixed K=32 centroid crosses (Lloyd "
                                   "E-step + all-cell probe ranking) + "
                                   "8-row codebook LUT cross + the "
                                   "3-row nprobe-frame fan-out — all "
                                   "constant-size build sides",
}

# Streaming replay harnesses drive micro-batches and read results back;
# their outer read-back windows are result-sized.
REPLAY_OK_PREFIXES = ("stream_", "follow_", "rollup_", "inventory_",
                      "quarantine_")


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit_one(spark, name: str, sf_dir: str) -> dict:
    fn = QUERIES[name].spark_fn
    df = fn(spark, sf_dir)
    plan = _formatted(df)
    # Under AQE an unexecuted plan prints as its initial AdaptiveSparkPlan,
    # which has no codegen stages yet; a fresh Dataset over the same
    # logical plan, planned with AQE off, tags each operator of a
    # whole-stage codegen span with the span's "[codegen id : N]".
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        codegen_plan = _formatted(df.select("*"))
    tree_exchanges = (
        plan.count("+- Exchange") + plan.count(":- Exchange")
        - plan.count("RoundRobinPartitioning")
    )
    # formatted output details: "Arguments: [partitionSpec...]" on the
    # Window operator lines; empty spec renders as "[], [<order>..."
    global_windows = len(
        re.findall(r"Arguments: \[[^\]]*\], \[\], \[", plan)
    ) + plan.count("Arguments: [], [")
    return {
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("- BroadcastNestedLoopJoin"),
        "global_windows": global_windows,
        "exchanges": tree_exchanges,
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", codegen_plan))),
        # a scan's details name the call that made its RDD
        "checkpoint_scans": len(re.findall(r"RDD\[\d+\] at (?:localCheckpoint|checkpoint) at ", plan)),
    }


def main() -> int:
    args = sys.argv[1:]
    out_json = None
    if "--json" in args:
        i = args.index("--json")
        out_json = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf_dir = "/root/testdata/sf0.001"
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", sf_dir)  # as tests/conftest.py
    names = args or [
        n for n in QUERIES
        if not n.startswith(REPLAY_OK_PREFIXES)
    ]
    spark = get_spark(app_name="plan_audit", master="local[4]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    report, flags = {}, []
    for name in names:
        try:
            r = audit_one(spark, name, sf_dir)
        except Exception as e:  # noqa: BLE001
            report[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
            flags.append((name, "explain failed"))
            continue
        report[name] = r
        if r["cartesian"]:
            flags.append((name, f"CartesianProduct x{r['cartesian']}"))
        if r["bnlj"] > 1 and name not in BNLJ_OK:
            flags.append((name, f"BNLJ x{r['bnlj']} (max 1 scalar allowed; "
                                "add to BNLJ_OK with a bound argument)"))
        if r["global_windows"] and name not in GLOBAL_WINDOW_OK:
            flags.append(
                (name, f"global window x{r['global_windows']} "
                       "(not whitelisted)")
            )
    if out_json:
        with open(out_json, "w") as f:
            json.dump(
                {"flags": [list(x) for x in flags], "plans": report},
                f, indent=1, sort_keys=True,
            )
    exch_rank = sorted(
        ((v["exchanges"], k) for k, v in report.items() if "error" not in v),
        reverse=True,
    )[:10]
    print(f"audited {len(report)} plans; flags: {len(flags)}")
    for name, why in flags:
        print(f"  FLAG {name}: {why}")
    print("top exchange counts (>=N: shuffles behind a checkpoint are not counted):")
    for n, k in exch_rank:
        shown = f">={n}" if report[k]["checkpoint_scans"] else str(n)
        print(f"  {shown:>5}  {k}")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
