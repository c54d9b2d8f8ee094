"""Bench regression gate: compare a fresh bench.py run against the
prior round's driver-recorded BENCH_r{N}.json and fail loudly on
regressions — keeps the bench honest as the headline list grows
(VERDICT r2 item 8).

Gates (builder-local; thresholds from VERDICT r2, normalization r5):
- matched-total Spark/DuckDB ratio must be <= 1.8x
- no individual query may regress > 1.5x vs the prior round's seconds
  AFTER host-drift normalization (r5: this shared host drifts +-50%
  within hours — three same-code controlled sweeps measured the SAME
  query at 0.36/0.47/0.55 s and the whole DuckDB baseline at
  8.7/10.8/12.3 s. A cross-window comparison of raw seconds therefore
  false-alarms on slow windows and hides real regressions on fast
  ones. The gate divides out the MEDIAN per-query cur/prior factor —
  a global host-speed estimate that a single genuinely-regressed
  query cannot move — and gates each query against its drift-adjusted
  prior. DuckDB-side noise swings +-40% on list/regex kernels, so the
  per-query gate still compares SPARK seconds, not ratios.)

Usage:
    python tools/bench_gate.py                  # runs bench.py, gates vs newest BENCH_r*.json
    python tools/bench_gate.py out.json         # gate a pre-captured bench JSON line
Exit 0 = pass, 1 = regression, 2 = couldn't compare (no prior file).
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MATCHED_RATIO_MAX = 1.8
PER_QUERY_REGRESSION_MAX = 1.5
# Per-query noise floor (ADVICE r3: a single global 0.4 s floor —
# calibrated from ONE query's 3-run spread — hid regressions up to
# 0.4 s suite-wide). The floor is now per-query: 2x that query's
# observed cross-round spread (max-min of its seconds over all prior
# BENCH_r*.json recordings), clamped to [MIN_FLOOR_SEC, MAX_FLOOR_SEC].
# A query with a stable history gets a tight gate; a query the
# scheduler jitters keeps a wide one. The matched-total ratio remains
# the documented backstop for sub-floor drift.
MIN_FLOOR_SEC = 0.08   # below the local[32] job-scheduling quantum
MAX_FLOOR_SEC = 0.4    # never looser than the old global floor

# Queries whose DEFINITION changed since the prior round's recording —
# their prior seconds time a different computation, so a cross-round
# comparison is meaningless. Each entry must say what changed; remove it
# the round after (the new definition becomes the new baseline).
REDEFINED: dict[str, str] = {
    # (r5 entry retired: its r5 recording is now the baseline)
    "q_search_indexed": "r6: rewired through the SQL index lifecycle "
    "(CREATE SEARCH INDEX on a versioned table + CDF-maintained after "
    "a committed DELETE; oracle is the post-DELETE corpus)",
    "q_net_psl": "r11: the COMPLETE 9.5k-rule vendored PSL replaced "
    "the pinned subset (VERDICT r10 item 4) — the wall is now "
    "compile-bound (two ~130 KB IN-list expressions per engine), "
    "which amortizes at scale but not at sf0.1",
    "q_gis_polygon": "r11: geodesic arc segment distance replaced the "
    "planar projection (VERDICT r10 item 3)",
    "q_gis_polygon_concave": "r11: geodesic arc segment distance",
    "q_gis_multipolygon": "r11: geodesic arc segment distance",
    "q_gis_linestring": "r11: geodesic arc segment distance",
    "q_gis_distance": "r11: geodesic upgrade touched the shared "
    "lowering (point-point haversine unchanged, plan digest moved)",
}


def normalize(rec: dict) -> dict:
    """Per-query seconds under "queries" for either line form: bench.py's
    compact line carries integer centiseconds under "matched_cs", keyed
    without the "q_" prefix; older recordings carry seconds under
    "queries"."""
    if rec.get("matched_cs") and not rec.get("queries"):
        rec = {**rec, "queries": {
            f"q_{k}": cs / 100 for k, cs in rec["matched_cs"].items()
        }}
    return rec


def _all_rounds() -> list[dict]:
    """Parsed per-query seconds from every prior recording: driver
    BENCH_r*.json plus builder-local tools/bench_local/*.json — local
    runs give the floors same-machine history (driver rounds may run on
    different hardware; r4 measured 2× cross-machine deltas on several
    queries with identical code), and the NEWEST recording of either
    kind is the per-query comparison base."""
    out = []
    paths = sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json"))) + sorted(
        glob.glob(os.path.join(REPO, "tools", "bench_local", "*.json"))
    )
    for path in paths:
        with open(path) as f:
            rec = json.load(f)
        # local controlled sweeps are saved as the raw bench JSON line
        parsed = rec.get("parsed") or (
            rec if rec.get("queries") or rec.get("matched_cs") else None
        )
        if not parsed and rec.get("tail"):
            for line in reversed(rec["tail"].strip().splitlines()):
                i = line.find("{")
                if i >= 0:
                    try:
                        parsed = json.loads(line[i:])
                    except ValueError:
                        continue
                    break
        if not parsed and rec.get("tail"):
            # driver tails are front-truncated; recover the per-query
            # seconds that survived (everything before matched_total_sec
            # is the queries dict — the ratios dict comes after)
            head = rec["tail"].split('"matched_total_sec"')[0]
            pairs = re.findall(r'\\?"(q_\w+)\\?": ([0-9.]+)', head)
            if pairs:
                parsed = {"queries": {n: float(s) for n, s in pairs},
                          "_partial": True}
        parsed = normalize(parsed) if parsed else None
        if parsed and parsed.get("queries"):
            out.append(parsed)
    return out


def per_query_floor(rounds: list[dict]) -> dict[str, float]:
    """name -> noise floor = clamp(2 * cross-round spread)."""
    hist: dict[str, list[float]] = {}
    for r in rounds:
        for name, sec in r["queries"].items():
            hist.setdefault(name, []).append(sec)
    floors = {}
    for name, secs in hist.items():
        spread = (max(secs) - min(secs)) if len(secs) > 1 else MAX_FLOOR_SEC / 2
        floors[name] = min(MAX_FLOOR_SEC, max(MIN_FLOOR_SEC, 2 * spread))
    return floors


def prior_round(cur: dict | None = None) -> dict | None:
    rounds = _all_rounds()
    if cur is not None:
        # gating a pre-captured file that is already recorded: don't
        # compare it against itself
        rounds = [r for r in rounds if r.get("queries") != cur.get("queries")]
    if rounds:
        print(f"gate: prior = newest of {len(rounds)} BENCH_r*.json rounds")
        return rounds[-1]
    return None


def current_run(argv: list[str]) -> dict:
    if len(argv) > 1:
        with open(argv[1]) as f:
            text = f.read()
    else:
        text = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True, text=True, check=True,
        ).stdout
    # bench prints ONE json line (possibly after spark noise)
    for line in reversed(text.strip().splitlines()):
        if line.startswith("{"):
            return normalize(json.loads(line))
    raise SystemExit("gate: no JSON line in bench output")


def main() -> int:
    cur = current_run(sys.argv)
    prior = prior_round(cur)
    fails: list[str] = []

    ratio = cur.get("matched_ratio")
    if ratio is None and cur.get("duckdb_baseline_sec"):
        ratio = cur["matched_total_sec"] / cur["duckdb_baseline_sec"]
    if ratio is not None:
        print(f"gate: matched ratio {ratio:.3f}x (max {MATCHED_RATIO_MAX}x)")
        if ratio > MATCHED_RATIO_MAX:
            fails.append(f"matched-total ratio {ratio:.2f}x > {MATCHED_RATIO_MAX}x")
    else:
        print("gate: no baseline in current run — ratio gate skipped")

    if prior is None:
        print("gate: no prior BENCH_r*.json with parsed queries — exit 2")
        return 2
    floors = per_query_floor(_all_rounds())
    # host-drift normalization: median cur/prior factor over every
    # comparable query. Robust by construction — one regressed query
    # is an outlier to the median; a slow host window moves ALL
    # queries and is divided out.
    factors = sorted(
        cur["queries"][n] / s
        for n, s in prior["queries"].items()
        if n not in REDEFINED and cur.get("queries", {}).get(n)
    )
    host = factors[len(factors) // 2] if factors else 1.0
    # ADVICE r5: clamp the factor so a genuine uniform code regression
    # (e.g. a bad global conf) can't be fully divided out as "host
    # drift" — observed real host windows sit in ~[0.7, 1.45]; anything
    # beyond [0.6, 1.6] is treated as (at least partly) a code change.
    host_raw = host
    host = min(max(host, 0.6), 1.6)
    print(f"gate: host-drift factor {host:.2f}x "
          f"(median cur/prior over {len(factors)} queries"
          + (f", raw {host_raw:.2f}x clamped" if host != host_raw else "")
          + ")")
    # Backstop: gate the drift-adjusted TOTAL too, so many small
    # sub-floor per-query regressions (or a uniform one at the clamp
    # edge) still trip. 1.35x headroom over the drift-adjusted prior
    # total — wider than per-query noise, far tighter than the 1.8x
    # Spark/DuckDB ratio bound.
    comparable = [
        (cur["queries"][n], s) for n, s in prior["queries"].items()
        if n not in REDEFINED and cur.get("queries", {}).get(n)
    ]
    if comparable:
        cur_total = sum(c for c, _ in comparable)
        adj_prior_total = sum(p for _, p in comparable) * host
        print(f"gate: comparable total {cur_total:.2f}s vs drift-adjusted "
              f"prior {adj_prior_total:.2f}s")
        if cur_total > adj_prior_total * 1.35 and cur_total - adj_prior_total > 2.0:
            fails.append(
                f"drift-adjusted TOTAL regression: {cur_total:.2f}s vs "
                f"{adj_prior_total:.2f}s prior ({cur_total / adj_prior_total:.2f}x, max 1.35x)"
            )
    for name, prev_sec in sorted(prior["queries"].items()):
        now = cur.get("queries", {}).get(name)
        if now is None:
            print(f"gate: {name} missing from current run (renamed/removed?)")
            continue
        if name in REDEFINED:
            print(f"gate: {name} redefined, skipping comparison "
                  f"({REDEFINED[name]})")
            continue
        floor = floors.get(name, MAX_FLOOR_SEC)
        adj_prev = prev_sec * host
        if (
            now > adj_prev * PER_QUERY_REGRESSION_MAX
            and now - adj_prev > floor
        ):
            fails.append(f"{name}: {prev_sec:.3f}s -> {now:.3f}s "
                         f"({now / adj_prev:.2f}x drift-adjusted, max "
                         f"{PER_QUERY_REGRESSION_MAX}x, floor {floor:.2f}s, "
                         f"host {host:.2f}x)")
    for err_name, err in (cur.get("errors") or {}).items():
        fails.append(f"{err_name}: ERROR {err[:120]}")

    if fails:
        print("gate: FAIL")
        for f_ in fails:
            print("  -", f_)
        return 1
    print(f"gate: PASS ({len(prior['queries'])} prior queries compared, "
          f"total {cur.get('value')}s vs prior {prior.get('value')}s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
