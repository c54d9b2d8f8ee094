"""Render SCALE.md from scale_bench --all --jsonl output.

Usage:
    python tools/make_scale_md.py run1.jsonl [run2.jsonl ...] > SCALE.md

Later files override earlier records for the same query (re-profiling
after a fix). The gate: every query must report spill_mb == 0 or carry
an entry in DOCUMENTED_SPILL explaining why the spill is expected.
"""

from __future__ import annotations

import json
import sys

# query -> justification. Empty = the gate is "zero spill everywhere".
DOCUMENTED_SPILL: dict[str, str] = {}

SLOW_NOTES = {
    "q_dedup_minhash_recall": "bound-CHECK query: verifies EVERY planted pair survives LSH+rerank — on the soak corpus (~90% verbatim copies) each identical-text group of ~20 docs yields all ~190 candidate pairs by construction (bounded per group, linear overall); the production dedup path (q_dedup_minhash) keeps only group minima",
    "q_ml_boosted": "histogram-GBDT FIT at sf1 (num_trees x depth x one aggregate pass each) runs inside the query; scoring alone is a broadcast-constants projection",
    "q_ml_forest": "TWO random-forest FITS at sf1 run inside the query (8 regressor + 8 classifier members, each a binning pass + depth-4 histogram passes on its hash subsample); scoring/evaluate alone is one codegen projection per model",
    "q_funcs_r11c": "encodes AND decodes every customer name through RFC-4648 base32 (two per-group lambda HOF transcodes per row — the round-trip identity IS the check) plus a window-imputation pass; ~30us/row of deliberate per-row string work, linear, zero shuffle growth",
    "q_ml_inspect": "trains the model + 101-threshold exact ROC + confusion pivot in one query; each piece is a single aggregate pass",
    "q_delta_multipart_interop": "one-time scratch fixture build (hand-laid multi-part + v2/sidecar checkpoint table) dominates; the read itself is one parquet scan per snapshot",
    "q_appends_changes": "one-time scratch fixture build (4 versioned commits incl. UPDATE/DELETE change capture over 1.5M rows) dominates; the TVF reads are unions of immutable parquet scans",
    "q_ml_categorical": "trains the dummy-encoded model (one sufficient-statistics pass over 250k rows) INSIDE the query plus four invariant-check legs (2 predicts, weights, baseline); scoring alone is one codegen projection",
    "q_dedup_simhash_check": "planted-copy corpus = 2x docs; identity self-join + banded rep join",
    "q_win_range_prefix": "1.5M-row windowed output; steady-state 5s (soak sec includes cold codegen)",
    "q_win_range_frame": "NATIVE Spark RANGE frame (O(n*width) eval) — the baseline q_win_range_prefix's rewrite beats 7x",
    "q_dedup_simhash": "64-bit vote fold per token (CPU), then distinct-hash banding",
    "q_dedup_embed": "exact-dup groups + rep-banded LSH + exact rerank on 600k vectors (r4 rewrite: 67s->19s)",
    "q_approx_distinct": "bound-CHECK query: exact countDistinct verification branches dominate; production path is the sketch side alone",
    "q_approx_quantile": "bound-CHECK query: exact percentile verification branch dominates; production path is the GK sketch alone",
    "q_embed_ann_ivf": "trains IVF centroids per invocation (4 Lloyd scans) + exact-recall comparison branch",
    "q_iceberg_interop": "one-time scratch fixture build dominates (coalesce(1) rewrite of the 10-copy union into an Iceberg layout); the READ itself is one pruned parquet scan",
    "q_json_query": "builds + extracts 10 JSON columns per doc over the 10x corpus; pure codegen, scales linearly",
    "q_json_mutators": "Arrow-batched mutator UDFs (the sanctioned fallback tier): one ArrowEvalPython node, 5 json-parse/serialize round-trips per doc, run once per row after the ORDER BY's range shuffle (bq_sql sorts below the UDF projection; with the UDFs under the range exchange its sample job re-ran them: 4.4 s vs 1.2 s at sf0.1)",
    "q_upsert": "includes one-time versioned-table build + SQL MERGE commit of 1M rows",
    "q_time_travel": "includes one-time 3-version history build via SQL MERGE",
    "q_merge_delete": "includes one-time versioned-table build + 3-clause MERGE commit",
    # r11 additions
    "q_ml_explain_tree": "trains the GBDT INSIDE the query (in-query "
    "FIT, like q_ml_boosted) then runs TreeSHAP + predict + global "
    "explain invariant legs; explain scoring alone is one Arrow map "
    "stage",
    "q_streaming_matview": "one-time scratch build (versioned table + "
    "DELETE/UPDATE history) plus the streaming fold's micro-batch "
    "replay of 3 commits; steady-state reads are O(new commits)",
    "q_ml_split_explain": "trains the split linear model in-query; "
    "the explain legs are codegen projections",
    "q_ml_transform": "fits the TRANSFORM-scaled model in-query (one "
    "scaler pass + one normal-equations pass)",
}


def main() -> None:
    recs: dict[str, dict] = {}
    for path in sys.argv[1:]:
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                recs[r["query"]] = r
    ok = {n: r for n, r in recs.items() if "sec" in r}
    errs = {n: r for n, r in recs.items() if "error" in r}
    spill = {
        n: r for n, r in ok.items()
        if r.get("spill_mb", 0) > 0 and n not in DOCUMENTED_SPILL
    }

    total = sum(r["sec"] for r in ok.values())
    print("# SCALE — full-registry soak at ~sf1 (10× key-shifted sf0.1)")
    print()
    print(
        f"Generated by `tools/scale_bench.py --all --jsonl` "
        f"(VERDICT r3 item 1). {len(ok)} queries profiled, "
        f"{len(errs)} errors, total {total:.0f}s wall on local[32] "
        "(16g heap). Dataset: every key family shifted per copy so "
        "cardinalities scale like a real sf1 (~6M lineitem, 600k docs "
        "with ~90% verbatim duplicates — the crawl-corpus shape)."
    )
    print()
    print("**Gate: zero spill.** Every query must execute with "
          "`spillSize == 0` across all operators at sf1, or carry a "
          "documented justification here. Current status: "
          + ("**PASS**" if not spill and not errs else "**FAIL**")
          + ".")
    print()
    if spill:
        print("## UNDOCUMENTED SPILL (fix or document)")
        for n, r in sorted(spill.items()):
            print(f"- {n}: {r['spill_mb']:.0f} MB")
        print()
    if errs:
        print("## ERRORS")
        for n, r in sorted(errs.items()):
            print(f"- {n}: {r['error'][:200]}")
        print()
    print("## Fix history (caught by this soak)")
    print()
    print(
        "- r4: `q_dedup_simhash` / `q_dedup_simhash_check` spilled "
        "44/94 **GB** — the id-level band self-join squared the "
        "duplicate multiplicity (10 copies × 10 copies per colliding "
        "hash pair) and hot 16-bit blocks paired near-random docs. "
        "Rewritten to identity pairs + distinct-hash representative "
        "banding with a hot-block cap (operators/dedup.py): "
        "122s/44GB→36s/0 and 217s/94GB→45s/0."
    )
    print(
        "- r4: `q_dedup_embed` had the same duplicate-multiplicity "
        "blowup in the embedding LSH bucket self-join. Rewritten to "
        "exact-duplicate vector groups (non-min ids lose outright) + "
        "representative banding with a hot-bucket cap "
        "(operators/similarity.embedding_near_dup): 67s→19s, peak "
        "memory 2.2GB→1.1GB, semantics reproduced exactly (a group "
        "min's smallest external killer is the other group's min)."
    )
    print()
    print("## Per-query profile")
    print()
    print("| query | sec | spill MB | peak mem MB | shuffle write MB | rows | note |")
    print("|---|---|---|---|---|---|---|")
    for n in sorted(ok):
        r = ok[n]
        note = SLOW_NOTES.get(n, DOCUMENTED_SPILL.get(n, ""))
        print(
            f"| {n} | {r['sec']:.2f} | {r.get('spill_mb', 0):.1f} | "
            f"{r.get('peak_mem_mb', 0):.1f} | "
            f"{r.get('shuffle_write_mb', 0):.1f} | {r.get('rows', '')} | {note} |"
        )
    print()
    print(
        "Peak memory is the single largest per-operator `peakMemory` "
        "in the plan — the number that must fit one executor task "
        "slot. Max across the registry: "
        f"{max(r.get('peak_mem_mb', 0) for r in ok.values()):.0f} MB "
        "(well under a 4 GB-per-core executor at 100× this scale the "
        "per-partition share shrinks with partition count, not grows — "
        "hash/window operators see partition-sized slices)."
    )


if __name__ == "__main__":
    main()
