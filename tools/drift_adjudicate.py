"""Mechanized bench-drift adjudication.

Both the r10 and r11 closes needed the same manual forensics: a bench
TOTAL lands above the honest band, and someone (judge in r10, builder
in r11) must decide host drift vs real regression by (a) taking the
per-query ratio distribution against an anchor map and (b) warm
re-timing the outliers. This tool does both mechanically so the next
inflated total is a one-command verdict instead of an afternoon.

Method (exactly the adjudication protocol the r10 VERDICT applied):

1. ratio_q = new[q] / anchor[q] for every query in both maps;
2. a NEAR-UNIFORM inflation (median ≈ mean, outliers confined to the
   sub-2 s scatter class) is the documented host-drift signature —
   THP-compaction scatter moves everything together, a code regression
   moves specific queries;
3. every query with ratio > --outlier-ratio AND anchor time > --min-sec
   is warm re-timed in ONE fresh JVM (bench session config, noop sink,
   --reps reps, min taken). Three-way verdict per outlier:
   - warm ≤ confirm_ratio · max(1, median) · anchor → DRIFT (the
     re-time inherits the population inflation, so the threshold is
     drift-normalized — on a calm host median ≈ 1 and the raw margin
     applies);
   - past the threshold but anchor < 2 s → INCONCLUSIVE (the
     documented sub-2 s scatter class moves 3x between runs; only an
     isolated fresh-JVM time_ids.py run can settle it);
   - past the threshold with anchor ≥ 2 s → CONFIRMED REGRESSION
     (this is the band where r10's real containment regression lived:
     1.87 → 2.98 s reproduces cleanly at any host state).

Exit code: 0 = drift/inconclusive only, 1 = at least one confirmed
regression, 2 = usage/data error.

Usage:
    python tools/drift_adjudicate.py ANCHOR.json [NEW.json]
        [--outlier-ratio 1.5] [--min-sec 1.0] [--confirm-ratio 1.25]
        [--reps 3] [--sf-dir /root/testdata/sf0.1]

ANCHOR/NEW accept either the bench_queries.json shape ({"queries":
{...}}) or a bare {id: seconds} map; NEW defaults to the repo's
current bench_queries.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_map(path: str) -> tuple[dict[str, float], float | None]:
    """Returns (per-query timing map, embedded drift factor or None).

    Since r12 bench.py embeds its own host calibration — warm-min
    probes over three never-changed queries against pinned r9 anchors
    — as ``calib``/``calib_anchors``/``drift`` fields (bench.py
    CALIBRATION_ANCHORS). When the suspect artifact carries one, it is
    the preferred normalizer: probe queries cannot contain a code
    regression by construction, while the cross-map median can be
    dragged by real regressions or by a changed query mix."""
    d = json.load(open(path))
    drift = None
    if isinstance(d, dict) and "queries" in d:
        drift = d.get("drift")
        calib, anchors = d.get("calib"), d.get("calib_anchors")
        # an explicit "drift": null means bench ran OFF the anchor
        # config (wrong sf/cpus) and suppressed the ratio on purpose —
        # only reconstruct when the field is genuinely absent
        if drift is None and "drift" not in d and calib and anchors:
            rs = sorted(
                calib[q] / anchors[q]
                for q in calib
                if q in anchors and calib[q] > 0 and anchors[q] > 0
            )
            drift = rs[len(rs) // 2] if rs else None
        d = d["queries"]
    if not isinstance(d, dict) or not d:
        raise SystemExit(f"{path}: not a per-query timing map")
    return (
        {k: float(v) for k, v in d.items() if isinstance(v, (int, float))},
        drift,
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("anchor")
    ap.add_argument("new", nargs="?", default="bench_queries.json")
    ap.add_argument("--outlier-ratio", type=float, default=1.5)
    ap.add_argument("--min-sec", type=float, default=1.0)
    ap.add_argument("--confirm-ratio", type=float, default=1.25)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--sf-dir", default=os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        )
    )
    args = ap.parse_args()

    anchor, _ = load_map(args.anchor)
    new, calib_drift = load_map(args.new)
    common = sorted(set(anchor) & set(new))
    if not common:
        print("no common query ids between the two maps")
        return 2
    ratios = {q: new[q] / anchor[q] for q in common if anchor[q] > 0}
    rs = sorted(ratios.values())
    med = statistics.median(rs)
    mean = statistics.mean(rs)
    print(
        f"ratio distribution over {len(rs)} shared queries: "
        f"median {med:.3f}  mean {mean:.3f}  "
        f"p90 {rs[int(0.9 * len(rs))]:.3f}"
    )
    norm = med
    if calib_drift is not None:
        print(
            f"embedded host calibration: drift {calib_drift:.3f} "
            f"(bench.py probe warm-mins vs pinned r9 anchors) — "
            f"using it as the regression-threshold normalizer"
        )
        norm = calib_drift
    outliers = [
        q
        for q, r in ratios.items()
        if r > args.outlier_ratio and anchor[q] >= args.min_sec
    ]
    outliers.sort(key=lambda q: -ratios[q])
    if not outliers:
        print(
            f"no outliers (> {args.outlier_ratio}x with anchor >= "
            f"{args.min_sec}s) — verdict: "
            + ("UNIFORM DRIFT" if norm > 1.1 else "AT ANCHOR")
        )
        return 0

    print(f"warm re-timing {len(outliers)} outlier(s): {outliers}")
    from census_postgres_py_spark import registry
    from census_postgres_py_spark.session import get_spark

    # bench.py's own session: anchors are only comparable under it (a
    # 1g driver heap once read 5x false "regressions" from GC thrash).
    spark = get_spark("drift-adjudicate")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    regressions: list[tuple[str, float, float]] = []
    inconclusive: list[str] = []
    for q in outliers:
        fn = qs[q]
        fn(spark, args.sf_dir).write.mode("overwrite").format("noop").save()
        times = []
        for _ in range(args.reps):
            t0 = time.monotonic()
            fn(spark, args.sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            times.append(time.monotonic() - t0)
        warm = min(times)
        # The warm re-time runs on the SAME possibly-drifted host as
        # the suspect pass, so it inherits the population-wide
        # inflation — a 2.3 s query warm-times at ~3.1 s while the
        # whole map sits at median 1.35x. A real regression is one
        # that exceeds the anchor by MORE than the measured population
        # drift plus the confirm margin; normalizing by median keeps
        # the verdict stable whether the tool runs on a calm or a
        # drifted host (on a calm host median ≈ 1 and the raw
        # threshold applies unchanged).
        if warm <= args.confirm_ratio * max(1.0, norm) * anchor[q]:
            verdict = "drift"
        elif anchor[q] < 2.0:
            # the repo's documented scatter class: host load moves
            # sub-2 s queries by up to 3x between runs (time_ids.py
            # preamble; three consecutive r11 adjudicator runs put
            # stream_windowed_topk at 2.5 / 5.2 / 2.3 s warm-min).
            # A single-session re-time cannot confirm a regression
            # here — demand an isolated fresh-JVM time_ids.py run.
            verdict = "scatter-class, INCONCLUSIVE (re-run isolated)"
        else:
            verdict = "REGRESSION"
        print(
            f"  {q}: anchor {anchor[q]:.2f}s  pass {new[q]:.2f}s  "
            f"warm-min {warm:.2f}s  -> {verdict}"
        )
        if verdict == "REGRESSION":
            regressions.append((q, anchor[q], warm))
        elif verdict.startswith("scatter-class"):
            inconclusive.append(q)
    spark.stop()
    if inconclusive:
        print(
            f"INCONCLUSIVE (scatter class, isolate with time_ids.py): "
            f"{inconclusive}"
        )
    if regressions:
        print(
            "VERDICT: "
            + ", ".join(
                f"{q} {a:.2f}->{w:.2f}s" for q, a, w in regressions
            )
            + " CONFIRMED as real regressions"
        )
        return 1
    print(
        "VERDICT: no confirmed regressions"
        + (
            f" ({len(inconclusive)} scatter-class inconclusive)"
            if inconclusive
            else " — all outliers are host drift"
        )
        + f"; distribution median {med:.3f}, normalizer {norm:.3f}"
    )
    return 0


if __name__ == "__main__":
    main()
