"""Compare two bench result files query-by-query.

Usage: python tools/bench_compare.py OLD NEW [--force]

Accepts either the driver's BENCH_r{N}.json wrapper (bench JSON embedded
in its "tail" field) or a raw bench.py output line saved to a file.
Prints per-query ratios (NEW/OLD) sorted worst-first, the shared-set
totals, and — when both files carry a calibration anchor — the
machine-normalized ratio, which is the number that means anything across
sessions (see PERF_NOTES.md: raw cross-session totals move ±15-25% on
identical code).
"""

from __future__ import annotations

import json
import re
import sys


def _merge_sidecar(d: dict) -> dict:
    """Round 16: bench.py writes the per-sample timelines to a sidecar
    file (the embedded maps made the headline line long enough that the
    driver's stored tail truncated mid-JSON) — fold them back in when
    the referenced file is still readable AND was written by the same
    run: every run overwrites the sidecar, so both sides carry the
    run's applicationId as ``run_id`` and a missing or different token
    (a newer run's timelines, or a file from before the token) is not
    merged. Silently degrade to the timeline-less compare otherwise."""
    sc = d.get("timelines_sidecar")
    if sc and d.get("run_id") and "query_end_times" not in d:
        try:
            with open(sc) as f:
                side = json.load(f)
        except (OSError, ValueError):
            return d
        if side.get("run_id") == d["run_id"]:
            d.update(side)
    return d


def load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    if "queries" in d:
        return _merge_sidecar(d)
    if isinstance(d.get("parsed"), dict) and "queries" in d["parsed"]:
        return _merge_sidecar(d["parsed"])
    m = re.search(r'\{"metric".*\}', d.get("tail", ""))
    if m:
        return _merge_sidecar(json.loads(m.group(0)))
    # driver wrappers FRONT-truncate the tail, losing the JSON opening
    # (and the first queries) — recover the surviving per-query pairs
    # and the anchor fields so a cross-round compare still works on the
    # shared suffix; the caller sees "partial" and says so
    frag = d.get("tail", "")
    # scrape only INSIDE the queries dict: when the truncation preserved
    # its opening ('"queries": {'), start there — otherwise top-level
    # numeric fields like "value" would be captured as phantom queries
    # (round-10 review); when truncation landed mid-dict, the fragment
    # starts inside it and position 0 is correct
    qm = re.search(r'"queries":\s*\{', frag)
    qstart = qm.end() if qm else 0
    end = frag.find("}", qstart)
    # when the dict OPENING was lost, the fragment must verifiably start
    # INSIDE the queries dict: its closing '}' is followed by ', "sf":'
    # (the next key bench.py emits). Without this check, a tail cut past
    # the whole dict would scrape query_end_times TIMESTAMPS and
    # calibration fields as phantom durations (round-10 review).
    if qm is None and end != -1:
        if not re.match(r'\s*,\s*"sf":', frag[end + 1 :]):
            end = -1
    if end != -1:
        qpairs = re.findall(
            r'"([A-Za-z0-9_]+)":\s*([0-9][0-9.]*)', frag[qstart:end]
        )
        if qpairs:
            out = {
                "queries": {k: float(v) for k, v in qpairs},
                "partial": True,
            }
            cm = re.search(r'"calibration_sec":\s*([0-9.]+)', frag)
            sm = re.search(r'"calibration_spread":\s*([0-9.]+)', frag)
            if cm:
                out["calibration_sec"] = float(cm.group(1))
            if sm:
                out["calibration_spread"] = float(sm.group(1))
            return out
    raise SystemExit(f"{path}: no bench JSON found")


def drift_model(d: dict):
    """Least-squares linear fit calib(t) over the timestamped anchor
    samples (round 10: bench.py interleaves anchor samples through the
    suite). Returns (predict, rel_drift) — predict(t) floored at 20% of
    the median so one absurd sample cannot invert a ratio — or None when
    the file predates the timeline fields. rel_drift is the fitted
    relative change across the suite span (the triage headline: 0.3
    means the machine slowed 30% while the suite ran)."""
    tl, qt = d.get("calibration_timeline"), d.get("query_end_times")
    if not tl or not qt:
        return None
    xs, ys = [p[0] for p in tl], [p[1] for p in tl]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    b = (
        sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom
        if denom
        else 0.0
    )
    a = my - b * mx
    import statistics

    floor = 0.2 * statistics.median(ys)
    span = max(xs) - min(xs)
    # the headline uses the SAME floor as predict(): an outlier-driven
    # fit with lo <= 0 would otherwise print an absurd drift percentage
    # (round-10 review)
    lo = max(a + b * min(xs), floor)
    hi = max(a + b * max(xs), floor)
    rel = (hi - lo) / lo if span else 0.0
    return (lambda t: max(a + b * t, floor)), rel


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--force"]
    force = "--force" in sys.argv[1:]
    if len(args) != 2:
        raise SystemExit(__doc__)
    old, new = load(args[0]), load(args[1])
    for p, d in zip(args, (old, new)):
        if d.get("partial"):
            print(f"NOTE: {p} recovered from a front-truncated driver "
                  f"tail — only its surviving {len(d['queries'])} "
                  f"queries compare; earlier ones were lost upstream.")
    if not (old.get("calibration_sec") and new.get("calibration_sec")):
        missing = [p for p, d in zip(args, (old, new))
                   if not d.get("calibration_sec")]
        print(f"INCOMPARABLE (no calibration anchor in: "
              f"{', '.join(missing)}).")
        print("Rounds r01-r05 predate the calibration job; identical code "
              "measures ±15-25% apart between sessions (PERF_NOTES.md), so "
              "a raw-seconds verdict against them is noise, not a "
              "regression. Re-run both suites in one session for a real "
              "comparison, or pass --force to see the raw table anyway.")
        if not force:
            raise SystemExit(2)
    shared = [k for k in old["queries"] if k in new["queries"]]
    co, cn = old.get("calibration_sec"), new.get("calibration_sec")
    do, dn = drift_model(old), drift_model(new)
    drifted = do is not None and dn is not None

    def _anchor(d, model, default, k):
        if model is None:
            return default
        t = d.get("query_end_times", {}).get(k)
        return model[0](t) if t is not None else default

    def classify(k: str, o: float, n: float) -> str:
        """A per-calib delta is a REGRESSION only when BOTH the
        normalized ratio is >1.5x AND the absolute move is >0.2 s
        (round-7 verdict: per-calib ratios on sub-second queries are
        scheduler/Python fixed-overhead noise the anchor cannot model —
        the whole apparent r06->r07 drift was <0.3 s queries).
        Symmetric rule for improvements; everything else is noise-band.
        When both files carry timestamped anchors (round 10), each
        query normalizes against the FITTED anchor at its own moment in
        the suite — mid-suite machine drift stops producing false flags
        that needed hand triage."""
        if not (co and cn):
            return ""
        ao = _anchor(old, do, co, k) if drifted else co
        an = _anchor(new, dn, cn, k) if drifted else cn
        norm = (n / an) / max(o / ao, 1e-9)
        if norm > 1.5 and (n - o) > 0.2:
            return "REGRESSION"
        if norm < 1 / 1.5 and (o - n) > 0.2:
            return "improved"
        return "noise-band"

    rows = sorted(
        shared,
        key=lambda k: new["queries"][k] / max(old["queries"][k], 1e-9),
        reverse=True,
    )
    counts = {"REGRESSION": 0, "improved": 0, "noise-band": 0, "": 0}
    for k in rows:
        o, n = old["queries"][k], new["queries"][k]
        verdict = classify(k, o, n)
        counts[verdict] += 1
        print(
            f"{n / max(o, 1e-9):6.2f}x  {o:8.3f} -> {n:8.3f}  "
            f"{verdict:10s}  {k}"
        )
    to, tn = (sum(d["queries"][k] for k in shared) for d in (old, new))
    print(f"\nshared-{len(shared)} total: {to:.2f} -> {tn:.2f} "
          f"({tn / max(to, 1e-9):.2f}x raw)")
    if co and cn:
        norm = (tn / cn) / (to / co)
        print(f"calibration: {co:.3f} -> {cn:.3f}; "
              f"machine-normalized ratio: {norm:.2f}x"
              f"  <- the ONLY cross-session number that means anything")
        # round 9: bench.py brackets the suite with 3+3 anchor samples
        # and records their spread — a wide spread means the denominator
        # itself is unstable and per-calib flags deserve extra suspicion
        for label, d, model in (("old", old, do), ("new", new, dn)):
            sp = d.get("calibration_spread")
            if sp is not None:
                if model is not None:
                    # drift-corrected flags: a wide spread caused by a
                    # LINEAR trend is regressed out per query; only the
                    # residual scatter undermines trust
                    trust = (
                        "drift-corrected per query"
                        if sp > 0.3
                        else "stable, drift-corrected"
                    )
                    print(
                        f"  {label} anchor spread (max-min)/median: "
                        f"{sp:.3f}; fitted mid-suite drift "
                        f"{model[1]:+.1%} ({trust})"
                    )
                else:
                    trust = "UNSTABLE — treat flags as suspect" \
                        if sp > 0.3 else "stable"
                    print(f"  {label} anchor spread (max-min)/median: "
                          f"{sp:.3f} ({trust})")
        # the r08->r09 convention shift (min-of-2x2 -> median-of-3+3)
        # reads as a ~5-15% systematic denominator increase; flag when
        # exactly one side carries the new fields
        if (old.get("calibration_spread") is None) != (
            new.get("calibration_spread") is None
        ):
            print("  NOTE: anchors use different conventions (pre-r09 "
                  "min vs r09 median) — expect a ~5-15% systematic "
                  "offset in per-calib ratios, in the MEDIAN side's "
                  "favor.")
        if counts["REGRESSION"]:
            print(f"VERDICT: {counts['REGRESSION']} real regression(s) "
                  f"(>1.5x per-calib AND >0.2 s absolute), "
                  f"{counts['improved']} improved, "
                  f"{counts['noise-band']} in the noise band.")
        else:
            print(f"VERDICT: in-band — no query moved >1.5x per-calib "
                  f"AND >0.2 s absolute ({counts['improved']} improved, "
                  f"{counts['noise-band']} noise-band).")
    else:
        print("(raw table shown under --force; no calibrated verdict)")


if __name__ == "__main__":
    main()
