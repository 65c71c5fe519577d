"""Round-over-round bench comparison: the per-query regression check
the verdicts perform by hand, automated.

    python tools/compare_bench.py BENCH_r04.json BENCH_r05.json [ratio]

Accepts either a raw bench JSON line (the output of bench.py /
bench_streaming.py) or a driver-recorded BENCH_r{N}.json wrapper whose
``parsed`` field may be null and whose ``tail`` may hold a TRUNCATED
copy of the line — the per-query timings are recovered with a regex
over the tail in that case. Prints shared-query totals, the ratio, and
every query slower than ``ratio`` (default 1.3x, the threshold past
rounds' verdicts used), exiting 1 if any regressed so CI-style use
fails loudly.
"""

from __future__ import annotations

import json
import re
import sys


def load_field(path: str, key: str):
    """Top-level ``key`` of a raw bench line or of a driver wrapper's
    ``parsed`` line; None when absent."""
    with open(path) as f:
        doc = json.load(f)
    if key in doc:
        return doc[key]
    parsed = doc.get("parsed")
    return parsed.get(key) if isinstance(parsed, dict) else None


def load_sf(path: str) -> float | None:
    """Best-effort scale factor of a bench artifact (None when the
    driver-wrapper tail is truncated before the sf key)."""
    sf = load_field(path, "sf")
    if sf is not None:
        try:
            return float(sf)
        except (TypeError, ValueError):
            return None
    with open(path) as f:
        m = re.search(r'"sf":\s*([0-9.]+)', json.load(f).get("tail", ""))
    return float(m.group(1)) if m else None


def load_timings(path: str) -> dict[str, float]:
    with open(path) as f:
        doc = json.load(f)
    if "queries" in doc:  # raw bench output line
        q = doc["queries"]
    elif doc.get("parsed"):
        q = doc["parsed"]["queries"]
    else:  # driver wrapper with truncated tail: regex the pairs out
        tail = doc.get("tail", "")
        m = re.search(r'"queries":\s*\{(.*)', tail, re.S)
        if not m:
            raise SystemExit(f"{path}: no queries payload found")
        q = {}
        # bench_streaming-format tails nest per-query dicts
        # ({"name": {"sec": ...}}): recover name->sec from the nested
        # shape FIRST — the flat scan below would otherwise harvest
        # sec/input_rows/... as "query names" and compare junk
        for name, sec in re.findall(
            r'"([a-z0-9_]+)":\s*\{\s*"sec":\s*([0-9.]+)', m.group(1)
        ):
            q[name] = float(sec)
        if not q:
            # flat bench.py format; the truncated tail has no reliable
            # closing brace, so the regex also sweeps up the JSON keys
            # AFTER the queries map — drop the known metadata keys
            meta = {"sf", "runs_per_query", "value"}
            for name, sec in re.findall(
                r'"([a-z0-9_]+)":\s*([0-9.]+)', m.group(1)
            ):
                if name not in meta:
                    q[name] = float(sec)
    # bench_streaming nests {"sec": ...}; bench.py is a flat float
    return {
        n: (v["sec"] if isinstance(v, dict) else float(v))
        for n, v in q.items()
    }


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    old, new = load_timings(sys.argv[1]), load_timings(sys.argv[2])
    ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    # A cross-scale comparison (e.g. an sf0.01 BENCH_FULL against an
    # sf0.1 round recording) silently produces nonsense ratios —
    # refuse it (round-11 review pass 4).
    sf_old, sf_new = load_sf(sys.argv[1]), load_sf(sys.argv[2])
    if sf_old is not None and sf_new is not None and sf_old != sf_new:
        print(
            f"REFUSING cross-scale comparison: {sys.argv[1]} is "
            f"sf={sf_old}, {sys.argv[2]} is sf={sf_new}"
        )
        return 2
    # Timings from hosts with different cores or memory are not
    # comparable either; artifacts from before the host stamp only warn.
    h_old, h_new = load_field(sys.argv[1], "host"), load_field(sys.argv[2], "host")
    if h_old and h_new and h_old != h_new:
        print(
            f"REFUSING cross-host comparison: {sys.argv[1]} ran on "
            f"{h_old}, {sys.argv[2]} on {h_new}"
        )
        return 2
    for p, h in ((sys.argv[1], h_old), (sys.argv[2], h_new)):
        if not h:
            print(
                f"WARNING: {p} carries no host stamp — cross-host ratios "
                "are not refused for this pair"
            )
    # Round 13 re-based the timed action from .count() to a noop-sink
    # write (BENCH_FULL carries "timed_action": "noop_write"; earlier
    # artifacts carry nothing). Comparing across the metric switch
    # mixes pruned-output timings with full-materialization ones —
    # warn loudly (the identical-tree re-base pair in plans/r13/ is
    # the bridge).
    a_old, a_new = (load_field(p, "timed_action") or "count" for p in sys.argv[1:3])
    if a_old != a_new:
        print(
            f"WARNING: timed action differs ({sys.argv[1]}={a_old}, "
            f"{sys.argv[2]}={a_new}) — the round-13 count->noop re-base; "
            "ratios mix metrics. Bridge via the identical-tree pair in "
            "plans/r13/BENCH_FULL_{count,noop}_rebase.json."
        )
    # A truncated driver tail can hide the sf key entirely — the exact
    # artifacts the refusal above was added to protect against would
    # otherwise BYPASS it silently (round-11 ADVICE). Warn loudly so a
    # nonsense cross-scale ratio never prints unannotated.
    for p, sf in ((sys.argv[1], sf_old), (sys.argv[2], sf_new)):
        if sf is None:
            print(
                f"WARNING: scale factor of {p} could not be verified "
                "(truncated/missing sf key) — cross-scale ratios are "
                "not refused for this pair; check the artifacts"
            )
    shared = sorted(set(old) & set(new))
    t_old = sum(old[n] for n in shared)
    t_new = sum(new[n] for n in shared)
    print(
        f"{len(shared)} shared queries: {t_old:.1f}s -> {t_new:.1f}s "
        f"({t_new / t_old:.2f}x)" if shared else "no shared queries"
    )
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    if only_old:
        print(f"dropped ({len(only_old)}): {', '.join(only_old)}")
    if only_new:
        print(f"added ({len(only_new)}): {', '.join(only_new)}")
    # Headline-churn guard (round-11 verdict item 7): the headline set
    # drifted twice in one round; BASELINE.md's policy says a headline
    # entry may only be DROPPED with a verdict-cited reason. Only
    # drops count as churn — every round adds a handful of new
    # registry entries by design, and warning on additions would fire
    # on every routine compare and train readers to ignore it
    # (round-12 review pass 2).
    # ANY drop needs a cited reason, so any drop warns (the old >2
    # threshold was sized for combined drop+add churn — review pass 3)
    if only_old:
        print(
            f"WARNING: {len(only_old)} entr"
            f"{'y' if len(only_old) == 1 else 'ies'} dropped — "
            "BASELINE.md policy requires a verdict-cited reason per "
            "dropped entry and a compare against BENCH_FULL.json"
        )
    regressed = [
        (n, old[n], new[n])
        for n in shared
        # floor the base at 0.15s: ratios on sub-noise timings are
        # machine jitter, not regressions
        if old[n] >= 0.15 and new[n] > ratio * old[n]
    ]
    for n, a, b in sorted(regressed, key=lambda t: -t[2] / t[1]):
        print(f"REGRESSED {n}: {a:.2f}s -> {b:.2f}s ({b / a:.2f}x)")
    if not regressed:
        print(f"zero queries regressed >{ratio}x")
    return 1 if regressed else 0


if __name__ == "__main__":
    import signal

    # die silently on a closed pipe (`compare_bench ... | head`)
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    sys.exit(main())
