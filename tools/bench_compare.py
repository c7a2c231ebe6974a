#!/usr/bin/env python3
"""Round-over-round bench comparator — the regression gate the r8 verdict
asked for (VERDICT.md item 2): concentrated per-query regressions must not
hide behind a healthy-looking total or get waved off as container drift.

Usage: python3 tools/bench_compare.py BENCH_rPREV.json BENCH_rCURR.json

Parses the driver-recorded stdout tail of each bench artifact, joins the
per-query times, and prints a markdown report: totals (raw AND restricted
to the common query set, so differing surfaces or partial runs never
compare unequal things), the MEDIAN per-query ratio (the drift
estimator), and every query whose ratio exceeds 1.25x in either
direction. Since r11 the bench JSON carries a data-independent
calibration probe (cal_pre/cal_post — pure CPU + one shuffle): when both
artifacts have it, ratios are ALSO normalized by the cross-round
calibration ratio, separating container drift from real plan
regressions. Paste the output into SCALE.md at round close. Dev-only
tool; the library itself never uses Python.
"""
import json
import re
import statistics
import sys

# Instrument break (r16): the bench sink moved from count() to
# format("noop") in round 16. Under count(), column pruning DELETED
# these queries' Window/join operators (SCALE.md r16, "Bench honesty
# fix"; PlanShapeSpec's "bench instrument pin" now guards the sink)
# and every group-by's aggregate VALUE expressions, so BENCH_r01..r15
# per-query numbers under-measure them. Comparisons that straddle the
# break are flagged; BENCH_r16.json is the first honest anchor.
NOOP_SINK_SINCE_ROUND = 16
COUNT_PRUNED_QUERIES = {
    # lost a Window (or the whole as-of sort) under count()
    "asof_join_candles", "asof_join_forward", "asof_join_nearest",
    "scd2_asof_lookup", "rsi14", "bollinger_bands",
    "vwap_twap_daily", "max_drawdown", "window_leads",
    "window_distribution", "window_range_frame", "epoch_shuffle",
    "w5_stride_signals", "candles_gapfill", "candles_bucketed",
    "ma_crossover", "dedup_keep_best", "vocab_encode",
    # lost ENTIRE joins under count()
    "merge_corpus_day", "semantic_dedup", "lm_coverage", "dsir_weights",
}


def round_of(path):
    """Round number from a BENCH_r{N}.json filename, else None."""
    m = re.search(r"BENCH_r(\d+)\.json$", path)
    return int(m.group(1)) if m else None


def qmap(path):
    d = json.load(open(path))
    # driver artifact: the JSON line lives at the end of the "tail"
    # capture; a raw Bench stdout line also parses (no "tail" key)
    if "tail" in d:
        m = re.search(r'\{"metric".*\}', d["tail"])
        if m is None:
            sys.exit(f"{path}: no bench JSON line in the recorded stdout "
                     "tail (the 'parsed: null' overflow case) - nothing "
                     "to compare")
        d = json.loads(m.group(0))
    qs = dict(d["queries"])
    qs.pop("_other", None)
    qs.pop("_other_n", None)
    # (pre, post) pairs for each probe flavor; the SPREAD between pre
    # and post is the within-round instability signal (r17: the CPU
    # probe swung 0.45 -> 0.64 across consecutive runs on an idle
    # machine, so a "drift-corrected" 1.38x was pure probe noise)
    cal = ((d["cal_pre"], d["cal_post"])
           if "cal_pre" in d and "cal_post" in d else None)
    calio = ((d["calio_pre"], d["calio_post"])
             if "calio_pre" in d and "calio_post" in d else None)
    return d.get("value"), qs, cal, calio, bool(d.get("partial"))


def spread(pair):
    """max/min of a (pre, post) probe pair — 1.0 = perfectly stable."""
    lo, hi = sorted(max(v, 0.005) for v in pair)
    return hi / lo


def main(prev_path, curr_path):
    ptot, prev, pcal, pcalio, ppart = qmap(prev_path)
    ctot, curr, ccal, ccalio, cpart = qmap(curr_path)
    pr, cr = round_of(prev_path), round_of(curr_path)
    straddles = (pr is not None and cr is not None and
                 pr < NOOP_SINK_SINCE_ROUND <= cr)
    common = sorted(set(prev) & set(curr))
    # Clamp BOTH sides to half the 10 ms per-query precision floor: an
    # unclamped prev of 0.0 would drop the query from the ratio map (a
    # 0.00 -> X s regression could never reach the outlier table), and an
    # unclamped curr of 0.0 would print phantom 0.00x "improvements" for
    # queries recorded as 0.0 in both rounds while dragging the median
    # down; symmetric clamping gives those queries ratio 1.0.
    ratios = {k: max(curr[k], 0.005) / max(prev[k], 0.005) for k in common}
    med = statistics.median(ratios.values()) if ratios else float("nan")
    print(f"### Bench compare: {prev_path} -> {curr_path}\n")
    if straddles:
        print(f"**INSTRUMENT BREAK**: r{pr} timed a count() sink, "
              f"r{cr} times the honest noop sink (since r16). "
              f"{len(COUNT_PRUNED_QUERIES & set(common))} common queries "
              "were count()-pruned in the prev round (marked [pruned-prev] "
              "below) — their ratios measure restored work, not "
              "regressions; aggregate-heavy queries are also "
              "under-measured on the prev side. Compare against "
              "BENCH_r16.json (the first honest anchor) instead.\n")
    flags = (" [PARTIAL prev]" if ppart else "") + \
            (" [PARTIAL curr]" if cpart else "")
    print(f"- totals (raw): {ptot} s -> {ctot} s "
          f"({len(prev)} -> {len(curr)} shown queries){flags}")
    # common-set totals: the only apples-to-apples headline when the two
    # rounds declare different query sets (new queries, or a partial run
    # that dropped failures from its total)
    pc, cc = sum(prev[k] for k in common), sum(curr[k] for k in common)
    # same precision-floor clamp as the per-query ratios: an all-0.0 prev
    # total (possible on tiny runs) must not divide by zero (r11 ADVICE)
    print(f"- totals over the {len(common)} common queries: "
          f"{pc:.2f} s -> {cc:.2f} s ({cc / max(pc, 0.005):.2f}x)"
          if common else "- no common queries")
    drift = None
    if pcal is not None and ccal is not None:
        # same precision-floor clamp on BOTH sides as the per-query
        # ratios: a 0.0 calibration value on either end (possible on
        # tiny runs) must neither zero the drift factor nor divide by
        # zero in the drift-corrected lines (r12 ADVICE)
        pavg, cavg = (sum(pcal) / 2.0), (sum(ccal) / 2.0)
        drift = max(cavg, 0.005) / max(pavg, 0.005)
        print(f"- calibration probe (CPU): {pavg:.2f} s -> {cavg:.2f} s — "
              f"container drift factor **{drift:.2f}** "
              f"(ratios below {drift:.2f} are the container, not the code)")
        # second probe flavor (r17 verdict item 4): the parquet
        # write/read + shuffle probe tracks the I/O-mixed half of the
        # workload; when the two flavors disagree the drift correction
        # is flavor-dependent and must not adjudicate anything alone
        iodrift = None
        if pcalio is not None and ccalio is not None:
            pio, cio = (sum(pcalio) / 2.0), (sum(ccalio) / 2.0)
            iodrift = max(cio, 0.005) / max(pio, 0.005)
            print(f"- calibration probe (I/O): {pio:.2f} s -> {cio:.2f} s "
                  f"— drift factor **{iodrift:.2f}**")
            if max(iodrift, drift) / min(iodrift, drift) > 1.15:
                print("- **PROBE DISAGREEMENT**: the CPU and I/O drift "
                      f"factors differ by {max(iodrift, drift) / min(iodrift, drift):.2f}x — "
                      "drift-corrected ratios below are unreliable; "
                      "adjudicate any claimed regression with a "
                      "same-window A/B of the two trees.")
        cmed = statistics.median(r / drift for r in ratios.values()) \
            if ratios else float("nan")
        print(f"- median per-query ratio: **{med:.2f}** raw, "
              f"**{cmed:.2f}** drift-corrected over {len(ratios)} "
              "common queries")
        # Within-round probe INSTABILITY gate (would have auto-
        # adjudicated r17's false 1.38x): each artifact carries the
        # probe run twice (pre/post); the observed pre/post swing bounds
        # how much of any cross-round ratio the probes themselves can't
        # see. If the drift-corrected median sits inside that band, the
        # comparison is NOISE-DOMINATED, not a regression.
        band = max(spread(pcal), spread(ccal),
                   *([spread(pcalio)] if pcalio else []),
                   *([spread(ccalio)] if ccalio else []))
        if ratios and max(cmed, 1 / max(cmed, 1e-9)) <= band:
            print(f"- **NOISE-DOMINATED**: the probes' own pre/post swing "
                  f"(up to {band:.2f}x within one round) covers the "
                  f"drift-corrected median ({cmed:.2f}x) — treat this "
                  "comparison as flat unless a same-window A/B says "
                  "otherwise.")
    else:
        print(f"- median per-query ratio over {len(ratios)} common "
              f"queries: **{med:.2f}** (the drift estimator; outliers "
              "below are real)")
    added = sorted(set(curr) - set(prev))
    if added:
        tail = sum(curr[k] for k in added)
        print(f"- new queries: {len(added)} adding {tail:.2f} s "
              f"({', '.join(added[:8])}{', ...' if len(added) > 8 else ''})")
    out = [(r, k) for k, r in ratios.items()
           if r >= 1.25 or r <= 0.8]
    if not out:
        print("\nNo per-query ratio outside [0.8, 1.25] - no outliers.")
        return
    def label(k):
        return (k + " [pruned-prev]"
                if straddles and k in COUNT_PRUNED_QUERIES else k)
    if drift:
        print("\n| query | prev s | curr s | ratio | drift-corrected |")
        print("|---|---|---|---|---|")
        for r, k in sorted(out, reverse=True):
            print(f"| {label(k)} | {prev[k]:.2f} | {curr[k]:.2f} | {r:.2f}x "
                  f"| {r / drift:.2f}x |")
    else:
        print("\n| query | prev s | curr s | ratio |")
        print("|---|---|---|---|")
        for r, k in sorted(out, reverse=True):
            print(f"| {label(k)} | {prev[k]:.2f} | {curr[k]:.2f} | {r:.2f}x |")


if __name__ == "__main__":
    try:
        main(sys.argv[1], sys.argv[2])
    except BrokenPipeError:  # piped into head — not an error
        pass
